package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for the round-7 operators beyond their DuckDB
  * hash gates: funnel step monotonicity and the 24-hour deadline, cohort
  * accounting identities, sliding-window expansion arithmetic, Markov
  * row-stochasticity, rolling-active bounds, triangle-count equality
  * with a driver-side recompute from the mutual edge list, media
  * near-dup vs exact-dup consistency, and per-source band shape.
  */
class AnalyticsOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def eventsFixture(rows: Seq[(Long, String, Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.map { case (id, ts, user, typ) =>
      (id, java.sql.Timestamp.valueOf(ts), user, typ, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q130_funnel: step counts are monotone and the 24h deadline binds") {
    val steps = graft.EventQueries.queries("q130_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(steps.keySet == Set(1L, 2L, 3L))
    assert(steps(1L) >= steps(2L) && steps(2L) >= steps(3L),
      s"funnel must narrow: $steps")
    // fixture: u1 converts fully; u2 signup only; u3's click precedes its
    // signup; u4's click misses the 24h deadline
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "signup"),
      (2L, "2024-01-01 01:00:00", 1L, "click"),
      (3L, "2024-01-01 02:00:00", 1L, "purchase"),
      (4L, "2024-01-01 00:00:00", 2L, "signup"),
      (5L, "2024-01-01 00:00:00", 3L, "click"),
      (6L, "2024-01-01 01:00:00", 3L, "signup"),
      (7L, "2024-01-01 01:30:00", 3L, "purchase"),
      (8L, "2024-01-01 00:00:00", 4L, "signup"),
      (9L, "2024-01-02 06:00:00", 4L, "click")))
    val m = graft.EventQueries.queries("q130_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m == Map(1L -> 4L, 2L -> 1L, 3L -> 1L), s"fixture funnel: $m")
  }

  test("q131_cohort_retention: offset-0 row covers the whole cohort") {
    val rows = graft.EventQueries.queries("q131_cohort_retention")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every user appears in their cohort's offset-0 bucket, so offset-0
    // counts sum to the distinct-user total and dominate later offsets
    val users = graft.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    val zero = rows.filter(_._2 == 0L).map(x => x._1 -> x._3).toMap
    assert(zero.values.sum == users,
      s"offset-0 total ${zero.values.sum} != $users distinct users")
    rows.filter(_._2 > 0L).foreach { case (c, off, n) =>
      assert(n <= zero(c), s"cohort $c offset $off count $n exceeds cohort size")
    }
    // fixture: u1 active on days 0/1/3, u2 on day 1 only
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 08:00:00", 1L, "view"),
      (2L, "2024-01-02 09:00:00", 1L, "view"),
      (3L, "2024-01-04 10:00:00", 1L, "view"),
      (4L, "2024-01-02 11:00:00", 2L, "view")))
    val m = graft.EventQueries.queries("q131_cohort_retention")(spark, dir)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0).toLocalDate.toString,
        r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("2024-01-01", 0L) -> 1L, ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 3L) -> 1L, ("2024-01-02", 0L) -> 1L), s"fixture cohorts: $m")
  }

  test("q132_sliding_window: every event lands in exactly length/slide windows") {
    val rows = graft.EventQueries.queries("q132_sliding_window")(spark, sfDir).collect()
    val nEvents = graft.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == 4L * nEvents,
      "2h/30min windows must expand each event exactly 4x")
    // window starts are slide-aligned
    rows.foreach { r =>
      val epochSec = r.getAs[java.time.LocalDateTime](0)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      assert(epochSec % 1800L == 0L, s"unaligned window start ${r.get(0)}")
    }
  }

  test("q133_transition_matrix: rows are stochastic and pair count = n - users") {
    val rows = graft.EventQueries.queries("q133_transition_matrix")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = graft.Tables.events(spark, sfDir)
    val expectPairs = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum == expectPairs,
      s"pair total ${rows.map(_._3).sum} != events - users = $expectPairs")
    rows.groupBy(_._1).foreach { case (from, grp) =>
      val p = grp.map(_._4).sum
      assert(math.abs(p - 1.0) < 1e-6, s"P($from -> *) sums to $p")
    }
  }

  test("q134_rolling_active: bounded by cohort size, dominates hourly actives") {
    val rolling = graft.EventQueries.queries("q134_rolling_active")(spark, sfDir)
      .collect().map(r => r.getAs[java.time.LocalDateTime](0) -> r.getLong(1)).toMap
    val hourly = graft.Tables.events(spark, sfDir)
      .select(date_trunc("HOUR", col("ts")).cast("timestamp_ntz").as("hr"),
        col("user_id")).distinct()
      .groupBy("hr").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[java.time.LocalDateTime](0) -> r.getLong(1)).toMap
    val totalUsers = graft.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    hourly.foreach { case (hr, n) =>
      assert(rolling(hr) >= n, s"rolling(24h) at $hr below that hour's actives")
    }
    rolling.values.foreach(n => assert(n <= totalUsers))
  }

  test("s135_knn_triangles: counts equal a driver recompute from mutual edges") {
    val tri = graft.SimilarityQueries.queries("s135_knn_triangles")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = graft.SimilarityQueries.queries("s117_mutual_knn")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    val triOf = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).foreach { c =>
        if (c > b) { triOf(a) += 1; triOf(b) += 1; triOf(c) += 1 }
      }
    }
    tri.foreach { case (v, deg, n) =>
      assert(deg == adj.get(v).map(_.size.toLong).getOrElse(0L),
        s"degree mismatch at $v")
      assert(n == triOf(v), s"triangle count mismatch at $v: $n vs ${triOf(v)}")
      assert(n <= deg * (deg - 1) / 2, s"triangles exceed C(deg,2) at $v")
    }
    assert(tri.map(_._3).sum % 3 == 0, "corner total must be divisible by 3")
    assert(tri.map(_._3).sum > 0, "test corpus should contain triangles")
  }

  test("m136_media_near_dup: exact duplicates surface as hamming-0 pairs") {
    val pairs = graft.MultimodalQueries.queries("m136_media_near_dup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.values.foreach(h => assert(h >= 0 && h <= 3))
    // replayed-payload fixture (the corpus has no byte-identical payloads
    // at this sf): two identical payloads must pair at hamming 0; a
    // dissimilar payload must not pair with them
    import spark.implicits._
    val dir = tempDir()
    val payload = (1 to 50).map(i => s"frame$i").mkString(" ")
    val other = (1 to 50).map(i => s"zq${i * 7}x").mkString("|")
    Seq((1L, payload), (2L, payload), (3L, other))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.MultimodalQueries.queries("m136_media_near_dup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m.get((1L, 2L)).contains(0L), s"replayed payload pair missing: $m")
    assert(!m.contains((1L, 3L)) && !m.contains((2L, 3L)),
      s"dissimilar payload wrongly paired: $m")
  }

  test("t137_length_bands: bands are monotone in length and equi-depth on a fixture") {
    val rows = graft.TextQueries.queries("t137_length_bands")(spark, sfDir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, b) => assert(b >= 1 && b <= 4) }
    rows.groupBy(_._1).foreach { case (src, grp) =>
      grp.sortBy(_._2).sliding(2).foreach {
        case Array((_, l1, b1), (_, l2, b2)) =>
          assert(l1 > l2 || b1 <= b2, s"band not monotone in length for $src")
        case _ =>
      }
    }
    // 8 distinct lengths in one source split exactly 2/2/2/2
    import spark.implicits._
    val dir = tempDir()
    (1 to 8).map(i => (i.toLong, "x" * i, "en", "web", i.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bands = graft.TextQueries.queries("t137_length_bands")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(bands == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L), s"fixture bands: $bands")
  }

  test("q141_scd2: intervals tile per key, one current row, consecutive states differ") {
    val out = graft.EventQueries.queries("q141_scd2_dimension")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"user $user versions not contiguous")
      // exactly one open (current) interval, and it is the last version
      // (open = the 9999-12-31 SCD2 high-date sentinel)
      assert(sorted.count(_.getBoolean(5)) == 1, s"user $user current-count != 1")
      assert(sorted.last.getBoolean(5))
      assert(sorted.last.get(4).toString.startsWith("9999-12-31"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.get(4) == b.get(3),
            s"user $user: effective_to must equal next effective_from")
          assert(a.getString(2) != b.getString(2),
            s"user $user: consecutive SCD2 states must differ (collapse failed)")
        case _ =>
      }
    }
    // collapse fixture: a=→a→b→b→a gives versions a,b,a
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 7L, "a"), (2L, "2024-01-01 01:00:00", 7L, "a"),
      (3L, "2024-01-01 02:00:00", 7L, "b"), (4L, "2024-01-01 03:00:00", 7L, "b"),
      (5L, "2024-01-01 04:00:00", 7L, "a")))
    val hist = graft.EventQueries.queries("q141_scd2_dimension")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(hist.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "a")), hist.mkString(","))
  }

  test("q142_cdc: op partition matches the deterministic mutation rules") {
    val out = graft.EventQueries.queries("q142_snapshot_cdc")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val keys = graft.Tables.orders(spark, sfDir).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val expectDeletes = keys.filter(_ % 13 == 0)
    val expectUpdates = keys.filter(k => k % 13 != 0 && k % 7 == 0)
    val expectInserts = keys.filter(_ % 11 == 0).map(_ + 10000000L)
    assert(out.collect { case ("delete", k) => k }.toSet == expectDeletes)
    assert(out.collect { case ("update", k) => k }.toSet == expectUpdates)
    assert(out.collect { case ("insert", k) => k }.toSet == expectInserts)
    assert(out.length == expectDeletes.size + expectUpdates.size + expectInserts.size,
      "changelog must contain exactly the changed keys, nothing unchanged")
  }

  test("q149_ewma_features: closed-form weights equal the sequential recursion") {
    import spark.implicits._
    val dir = tempDir()
    // u1: three events, hand-recursable; u2: 40 events — only the last
    // 32 may contribute
    val rows =
      Seq((1L, "2024-01-01T00:00:00", 1L, "view", 10.0),
        (2L, "2024-01-01T01:00:00", 1L, "view", 20.0),
        (3L, "2024-01-01T02:00:00", 1L, "view", 40.0)) ++
        (1 to 40).map(i => (100L + i, f"2024-01-02T00:$i%02d:00", 2L, "view", i.toDouble))
    rows.map { case (id, ts, u, t, v) =>
      (id, java.sql.Timestamp.from(
        java.time.LocalDateTime.parse(ts).toInstant(java.time.ZoneOffset.UTC)),
        u, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.EventQueries.queries("q149_ewma_features")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // u1 by the recursion: e=10; e=.25*20+.75*10=12.5; e=.25*40+.75*12.5=19.375
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - 19.375) < 1e-12 &&
      out(1L)._3 == 40.0, out(1L))
    // u2: last 32 values are 9..40; recursion seeded at 9
    var e = 9.0
    (10 to 40).foreach(v => e = 0.25 * v + 0.75 * e)
    assert(out(2L)._1 == 32L && math.abs(out(2L)._2 - e) < 1e-9 &&
      out(2L)._3 == 40.0, s"${out(2L)} vs $e")
  }

  test("q148_robust_stats: winsorized mean and MAD on a known outlier group") {
    import spark.implicits._
    val dir = tempDir()
    ((1 to 9).map(v => ("A", v.toDouble)) :+ ("A" -> 1000.0))
      .toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = graft.EventQueries.queries("q148_robust_stats")(spark, dir).collect()(0)
    // sorted [1..9, 1000]: p05 = 1.45, med = 5.5, p95 = 9 + 0.55*991
    val p05 = 1 + 0.45 * 1.0; val p95 = 9 + 0.55 * 991.0
    val winsor = (p05 + (2 to 9).sum + p95) / 10.0
    assert(r.getLong(1) == 10L)
    assert(math.abs(r.getDouble(2) - 104.5) < 1e-9, "mean")
    assert(math.abs(r.getDouble(3) - winsor) < 1e-9, s"winsor ${r.getDouble(3)} vs $winsor")
    assert(r.getDouble(4) == 5.5, "median")
    // |x - 5.5| sorted: [.5,.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5] -> MAD 2.5
    assert(r.getDouble(5) == 2.5, s"mad ${r.getDouble(5)}")
    assert(r.getDouble(3) < r.getDouble(2) && r.getDouble(3) > r.getDouble(4),
      "winsorized mean sits between median and raw mean under a high outlier")
  }

  test("q151_event_paths: sliding triples per user, cross-user counts") {
    // u1: v->c->s->p contributes (v,c,s) and (c,s,p); u2: v->c->s
    // contributes (v,c,s) — so (v,c,s) counts 2; pairs-only users add none
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:01:00", 1L, "click"),
      (3L, "2024-01-01 00:02:00", 1L, "signup"),
      (4L, "2024-01-01 00:03:00", 1L, "purchase"),
      (5L, "2024-01-01 00:00:00", 2L, "view"),
      (6L, "2024-01-01 00:01:00", 2L, "click"),
      (7L, "2024-01-01 00:02:00", 2L, "signup"),
      (8L, "2024-01-01 00:00:00", 3L, "view"),
      (9L, "2024-01-01 00:01:00", 3L, "click")))
    val out = graft.EventQueries.queries("q151_event_paths")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(("view", "click", "signup", 2L),
      ("click", "signup", "purchase", 1L)), out.toSeq)
  }

  test("q153_interval_merge: containment and gaps resolve via the running max") {
    import spark.implicits._
    val dir = tempDir()
    val base = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
    // u1: [0,10], [5,8] CONTAINED (its end is below the running max — a
    // lag-based gap check would wrongly split at the next interval),
    // [9,20] overlap-extends, [25,30] after a gap → islands [0,20], [25,30]
    val rows = Seq(
      (1L, 0, 10.0, 1L), (2L, 5, 3.0, 1L), (3L, 9, 11.0, 1L), (4L, 25, 5.0, 1L),
      (5L, 0, 7.0, 2L))
    rows.map { case (id, off, len, u) =>
      (id, java.sql.Timestamp.from(base.plusSeconds(off).toInstant(java.time.ZoneOffset.UTC)),
        u, "view", len, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.EventQueries.queries("q153_interval_merge")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((2L, 25.0, 20.0)), out(1L))
    assert(out(2L) == ((1L, 7.0, 7.0)), out(2L))
  }

  test("q154_share_of_total: shares sum to 1 within each flag and overall") {
    val rows = graft.EventQueries.queries("q154_share_of_total")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDouble(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (flag, g) =>
      assert(math.abs(g.map(_._2).sum - 1.0) < 1e-6, s"flag $flag shares: ${g.map(_._2).sum}")
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-6, "grand-total shares")
    assert(rows.forall(r => r._2 > 0 && r._2 <= 1 && r._3 > 0 && r._3 <= 1))
  }

  test("q158_seasonal_anomaly: only the injected spike hour is flagged") {
    import spark.implicits._
    val dir = tempDir()
    // five consecutive Mondays, 2 events each at 10:00 — except the last,
    // which spikes to 10. Baseline per (view, Mon, 10h): med 2, MAD 0;
    // only the spike hour deviates (8 > 3×0).
    val mondays = Seq("2024-01-01", "2024-01-08", "2024-01-15",
      "2024-01-22", "2024-01-29")
    val rows = mondays.zipWithIndex.flatMap { case (day, di) =>
      val n = if (di == 4) 10 else 2
      (0 until n).map(j => (di * 100L + j,
        java.sql.Timestamp.from(java.time.LocalDateTime
          .parse(s"${day}T10:${"%02d".format(j)}:00")
          .toInstant(java.time.ZoneOffset.UTC)), 1L, "view", 0.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.EventQueries.queries("q158_seasonal_anomaly")(spark, dir)
      .collect()
    assert(out.length == 1, s"want exactly the spike hour: ${out.toSeq}")
    val r = out.head
    assert(r.getLong(2) == 10L && r.getDouble(3) == 2.0 && r.getDouble(4) == 0.0,
      s"spike row: $r")
    // hr_ts surfaces as Timestamp (fixture TIMESTAMP) or LocalDateTime
    // (testdata NTZ) depending on the input column type
    assert(r.getAs[Any]("hr_ts").toString.startsWith("2024-01-29"),
      s"spike day: $r")
  }

  test("q162_audience_overlap: hand-checked containment and jaccard") {
    // users {1,2,3} view, {2,3} cart, {3} purchase
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:00:00", 2L, "view"),
      (3L, "2024-01-01 00:00:00", 3L, "view"),
      (4L, "2024-01-01 01:00:00", 2L, "cart"),
      (5L, "2024-01-01 01:00:00", 3L, "cart"),
      (6L, "2024-01-01 02:00:00", 3L, "purchase")))
    val m = graft.EventQueries.queries("q162_audience_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    // jaccard lands rounded to 9 places
    assert(m(("cart", "view")) == ((2L, 3L, 2L, 1.0, 0.666666667)), m(("cart", "view")))
    assert(m(("cart", "purchase")) == ((2L, 1L, 1L, 1.0, 0.5)), m(("cart", "purchase")))
    assert(m(("purchase", "view")) == ((1L, 3L, 1L, 1.0, 0.333333333)), m(("purchase", "view")))
    assert(m.size == 3)
  }

  test("q167_decile_lift: 20 users at spends 1..20 produce the textbook gains curve") {
    import spark.implicits._
    val dir = tempDir()
    (1 to 20).map(u => (u.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z")),
        u.toLong, "purchase", u.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.EventQueries.queries("q167_decile_lift")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq == (1L to 10L), "ten deciles")
    assert(out.forall(_._2 == 2L), "two users per decile")
    // decile 1 holds the two biggest spenders: 20 + 19 = 39 of 210 total
    assert(out.head._3 == 39.0 && math.abs(out.head._4 - 39.0 / 210) < 1e-9)
    assert(math.abs(out.head._5 - (39.0 / 210) / 0.1) < 1e-6, s"lift: ${out.head}")
    // cumulative share ends at exactly 1, lift decays monotonically to 1
    assert(math.abs(out.last._4 - 1.0) < 1e-9 && math.abs(out.last._5 - 1.0) < 1e-9)
    assert(out.map(_._5).sliding(2).forall(p => p(0) >= p(1) - 1e-9), "lift monotone")
  }
}
