package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants for the round-8 BI operators over RANDOMIZED
  * inputs, each checked against a DRIVER-SIDE brute-force recompute (a
  * third engine beside Spark and the DuckDB oracle): the skew report's
  * Gini/shares from first principles, the A/B z-test from the textbook
  * formula with MessageDigest-recomputed variants, and association rules
  * from a literal nested-loop basket scan.
  */
class BiOpsPropertySpec extends SparkSpec {
  import spark.implicits._

  test("q175: Gini and shares match a first-principles recompute") {
    val gen: Gen[List[Int]] = for {
      k <- Gen.choose(2, 20)
      cs <- Gen.listOfN(k, Gen.choose(1, 30))
    } yield cs
    val cases = (1 to 6).flatMap(i =>
      gen.apply(Gen.Parameters.default.withSize(30), Seed(400L + i)))
    cases.foreach { counts =>
      val dir = tempDir()
      counts.zipWithIndex.flatMap { case (n, u) =>
        (1 to n).map(i => ((u * 1000 + i).toLong,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u.toLong, "view", 0.0, "{}"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val r = graft.EventQueries.queries("q175_skew_report")(spark, dir).head()
      val total = counts.sum.toDouble
      val k = counts.length
      // ties broken by user id ascending, exactly as the query orders
      val asc = counts.zipWithIndex.sortBy { case (c, u) => (c, u) }.map(_._1)
      val iweighted = asc.zipWithIndex.map { case (c, i) => (i + 1).toLong * c }.sum
      val gini = iweighted * 2.0 / (k * total) - (k + 1.0) / k
      val top10 = counts.sorted.reverse.take(10).sum / total
      assert(r.getLong(0) == counts.sum.toLong && r.getLong(1) == k.toLong)
      assert(math.abs(r.getDouble(3) - counts.max / total) < 1e-8)
      assert(math.abs(r.getDouble(4) - top10) < 1e-8, s"top10 (counts $counts): $r")
      assert(math.abs(r.getDouble(5) - gini) < 1e-8, s"gini (counts $counts): $r")
      assert(r.getDouble(5) >= -1e-9 && r.getDouble(5) < 1.0)
    }
  }

  private def variantA(u: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(u.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 4), 16) % 2 == 0
  }

  test("q168: z-score matches the textbook formula on random conversions") {
    val gen: Gen[List[Boolean]] = for {
      n <- Gen.choose(10, 60)
      bs <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield bs
    val cases = (1 to 6).flatMap(i =>
      gen.apply(Gen.Parameters.default.withSize(30), Seed(500L + i)))
    cases.foreach { conv =>
      // user u converts iff conv(u); ensure the pooled rate is not 0/1
      // (degenerate z) by pinning one converter and one non-converter
      val flags = conv.zipWithIndex.map { case (c, i) =>
        if (i == 0) true else if (i == 1) false else c
      }
      val dir = tempDir()
      flags.zipWithIndex.map { case (c, i) =>
        val u = (i + 1).toLong
        (u, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "purchase",
          if (c) 200.0 else 10.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val r = graft.EventQueries.queries("q168_ab_test")(spark, dir).head()
      val users = flags.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c) }
      val (as, bs) = users.partition { case (u, _) => variantA(u) }
      if (as.nonEmpty && bs.nonEmpty) {
        val (na, ca) = (as.size.toLong, as.count(_._2).toLong)
        val (nb, cb) = (bs.size.toLong, bs.count(_._2).toLong)
        assert((r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)) ==
          ((na, ca, nb, cb)), s"cells (flags $flags): $r")
        val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
        val p = (ca + cb).toDouble / (na + nb)
        val z = (pa - pb) / math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
        assert(math.abs(r.getDouble(6) - z) < 1e-5, s"z (flags $flags): $r vs $z")
        assert(r.getBoolean(7) == (math.abs(r.getDouble(6)) > 1.96))
      }
    }
  }

  test("q164: rules match a literal nested-loop basket recompute") {
    val gen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(10, 60)
      rows <- Gen.listOfN(n, for {
        o <- Gen.choose(1L, 12L)
        p <- Gen.choose(1L, 6L)
      } yield (o, p))
    } yield rows
    val cases = (1 to 6).flatMap(i =>
      gen.apply(Gen.Parameters.default.withSize(30), Seed(600L + i)))
    cases.foreach { li =>
      val dir = tempDir()
      li.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      (1L to 6L).map(p => (p, s"B$p")).toDF("p_partkey", "p_brand")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val got = graft.FunctionQueries.queries("q164_basket_rules")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(5), r.getDouble(6)))
        .toMap
      // brute force: basket sets, directional pair supports, conf/lift
      val baskets = li.groupBy(_._1).map { case (_, rs) =>
        rs.map(r => s"B${r._2}").toSet
      }.toList
      val nB = baskets.size
      val supp = baskets.flatten.groupBy(identity).map { case (b, xs) => b -> xs.size }
      val pairSupp = (for {
        bk <- baskets; a <- bk; b <- bk if a != b
      } yield (a, b)).groupBy(identity).map { case (p, xs) => p -> xs.size }
      val expected = pairSupp.filter(_._2 >= 5).map { case ((a, b), s) =>
        (a, b) -> (s.toLong,
          BigDecimal(s.toDouble / supp(a)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(s.toDouble * nB / (supp(a).toLong * supp(b))).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      // the query returns the top-20 by lift; on ≤30 possible rules just
      // check every returned rule against brute force and the count cap
      assert(got.size <= 20)
      got.foreach { case (k, v) =>
        assert(expected.contains(k), s"unexpected rule $k (rows $li)")
        val e = expected(k)
        assert(v._1 == e._1 && math.abs(v._2 - e._2) < 1e-8 &&
          math.abs(v._3 - e._3) < 1e-8, s"rule $k: $v vs $e")
      }
      if (expected.size <= 20) {
        assert(got.keySet == expected.keySet,
          s"missing rules: ${expected.keySet -- got.keySet} (rows $li)")
      }
    }
  }
}
