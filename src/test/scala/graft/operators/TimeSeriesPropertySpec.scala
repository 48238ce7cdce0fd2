package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants for the round-8 time-series operators over
  * RANDOMIZED series (fixed scalacheck seeds): the CUSUM prefix-sum
  * identity is checked against the LITERAL sequential recursion it
  * closed over (the strongest possible evidence the window rewrite is
  * the same function), interpolation reproduces every observed point
  * and stays inside the neighbor envelope, and interval merge conserves
  * coverage on arbitrary overlap structures.
  */
class TimeSeriesPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Per-day event counts as a random series: day d gets counts(d−1)
    * synthetic events. */
  private def stageCounts(counts: List[Int]): String = {
    val dir = tempDir()
    val rows = counts.zipWithIndex.flatMap { case (n, di) =>
      (1 to n).map { i =>
        val ts = java.sql.Timestamp.valueOf(f"2024-01-${di + 1}%02d 06:00:00")
        ((di * 1000 + i).toLong, ts, 1L, "m", 0.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val seriesGen: Gen[List[Int]] = for {
    len <- Gen.choose(3, 20)
    xs <- Gen.listOfN(len, Gen.choose(1, 12))
  } yield xs

  private def serieses(n: Int): Seq[List[Int]] =
    (1 to n).flatMap(i =>
      seriesGen.apply(Gen.Parameters.default.withSize(30), Seed(100L + i)))

  test("q173: the window identity equals the literal CUSUM recursion") {
    serieses(5).foreach { counts =>
      val dir = stageCounts(counts)
      val rows = graft.EventQueries.queries("q173_cusum_changepoint")(spark, dir)
        .collect()
        .sortBy(_.getDate(1).toLocalDate.getDayOfMonth)
      assert(rows.length == counts.length)
      // recompute μ exactly (interpolating median of the counts), then
      // run the SEQUENTIAL recursions the query claims to close over
      val sorted = counts.map(_.toDouble).sorted
      val mu =
        if (sorted.length % 2 == 1) sorted(sorted.length / 2)
        else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
      var sPos = 0.0
      var sNeg = 0.0
      rows.zip(counts).foreach { case (r, n) =>
        sPos = math.max(0.0, sPos + (n - mu))
        sNeg = math.max(0.0, sNeg + (mu - n))
        assert(r.getLong(2) == n.toLong)
        assert(math.abs(r.getDouble(3) - sPos) < 1e-9,
          s"s_pos ${r.getDouble(3)} != recursion $sPos at day ${r.getDate(1)} (series $counts)")
        assert(math.abs(r.getDouble(4) - sNeg) < 1e-9,
          s"s_neg ${r.getDouble(4)} != recursion $sNeg at day ${r.getDate(1)} (series $counts)")
      }
    }
  }

  /** Observed hours are a random subset; values are the day-hour index. */
  test("q171: interpolation passes through observations, stays in the envelope") {
    val gen: Gen[List[Int]] = for {
      n <- Gen.choose(2, 10)
      hs <- Gen.pick(n, 0 to 23)
    } yield hs.toList.sorted
    val cases = (1 to 5).flatMap(i =>
      gen.apply(Gen.Parameters.default.withSize(30), Seed(200L + i)))
    cases.foreach { hours =>
      val dir = tempDir()
      hours.zipWithIndex.map { case (h, i) =>
        ((i + 1).toLong, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"),
          1L, "m", (h * h).toDouble, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val rows = graft.EventQueries.queries("q171_resample_interpolate")(spark, dir)
        .collect()
        .map(r => r.getAs[java.time.LocalDateTime](1).getHour ->
          (r.getDouble(2), r.getBoolean(3)))
        .toMap
      // spine spans observed min..max hours, inclusive
      assert(rows.keySet == (hours.min to hours.max).toSet, s"spine: $rows")
      hours.foreach { h =>
        assert(rows(h) == (((h * h).toDouble, true)), s"observed $h: ${rows(h)}")
      }
      // every interpolated value lies within its neighbors' envelope
      (hours.min to hours.max).filterNot(hours.contains).foreach { h =>
        val lo = hours.filter(_ < h).max
        val hi = hours.filter(_ > h).min
        val (vl, vh) = ((lo * lo).toDouble, (hi * hi).toDouble)
        val v = rows(h)._1
        assert(v >= math.min(vl, vh) - 1e-9 && v <= math.max(vl, vh) + 1e-9,
          s"hour $h value $v outside [$vl, $vh] (observed $hours)")
        assert(!rows(h)._2)
      }
    }
  }

  test("q153: merged intervals conserve coverage on random overlap structures") {
    val gen: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(1, 12)
      iv <- Gen.listOfN(n, for {
        st <- Gen.choose(0, 500)
        len <- Gen.choose(1, 120)
      } yield (st, len))
    } yield iv
    val cases = (1 to 5).flatMap(i =>
      gen.apply(Gen.Parameters.default.withSize(30), Seed(300L + i)))
    cases.foreach { ivs =>
      val dir = tempDir()
      ivs.zipWithIndex.map { case ((st, len), i) =>
        ((i + 1).toLong,
          java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
            .plusSeconds(st.toLong)),
          1L, "m", len.toDouble, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val r = graft.EventQueries.queries("q153_interval_merge")(spark, dir)
        .collect().head
      // driver-side union of [st, st+len] intervals
      val merged = ivs.map { case (st, len) => (st, st + len) }.sortBy(_._1)
        .foldLeft(List.empty[(Int, Int)]) {
          case (acc, (s0, e0)) => acc match {
            case (ps, pe) :: rest if s0 <= pe =>
              (ps, math.max(pe, e0)) :: rest
            case _ => (s0, e0) :: acc
          }
        }
      val covered = merged.map { case (s0, e0) => e0 - s0 }.sum.toDouble
      val maxSpan = merged.map { case (s0, e0) => e0 - s0 }.max.toDouble
      assert(r.getLong(1) == merged.length.toLong, s"islands (ivs $ivs): $r")
      assert(math.abs(r.getDouble(2) - covered) < 1e-6, s"coverage (ivs $ivs): $r")
      assert(math.abs(r.getDouble(3) - maxSpan) < 1e-6, s"max span (ivs $ivs): $r")
    }
  }
}
