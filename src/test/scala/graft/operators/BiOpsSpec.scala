package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for the round-8 third-wave operators beyond their
  * DuckDB hash gates: association-rule arithmetic on a hand-computed
  * basket fixture, quality-check verdicts on a deliberately broken table,
  * KLL sketch accuracy + mergeability at the function level, A/B z-test
  * significance on a constructed extreme experiment (variant assignment
  * recomputed with JDK MessageDigest — a third, Spark-free engine), and
  * last-touch attribution tie/deadline semantics.
  */
class BiOpsSpec extends SparkSpec {

  private def eventsFixture(
      dir: String, rows: Seq[(Long, String, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ts, user, typ, v) =>
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q164_basket_rules: hand-computed support/confidence/lift") {
    import spark.implicits._
    val dir = tempDir()
    // 8 baskets: 6×{BX,BY}, 1×{BX}, 1×{BZ} → supp X=7, Y=6, Z=1, XY=6
    val li = (1L to 6L).flatMap(o => Seq((o, 1L), (o, 2L))) ++
      Seq((7L, 1L), (8L, 3L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "BX"), (2L, "BY"), (3L, "BZ")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val rules = graft.FunctionQueries.queries("q164_basket_rules")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    // only the two BX/BY directions clear the supp_both >= 5 floor
    assert(rules.keySet == Set(("BX", "BY"), ("BY", "BX")), s"rules: $rules")
    val (sXY, saX, scY, confXY, liftXY) = rules(("BX", "BY"))
    assert((sXY, saX, scY) == (6L, 7L, 6L))
    assert(math.abs(confXY - 6.0 / 7.0) < 1e-8)
    assert(math.abs(liftXY - 48.0 / 42.0) < 1e-8)
    val (_, _, _, confYX, liftYX) = rules(("BY", "BX"))
    assert(confYX == 1.0)
    assert(math.abs(liftYX - 48.0 / 42.0) < 1e-8)
  }

  test("q165_quality_checks: broken table trips exactly the broken checks") {
    import spark.implicits._
    val dir = tempDir()
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, Option(10L), "F", 100.0, ts("2024-01-01 00:00:00")),
      (2L, Option.empty[Long], "O", 200.0, ts("2024-01-02 00:00:00")),
      (2L, Option(11L), "P", 300.0, ts("2024-01-03 00:00:00")),
      (3L, Option(12L), "X", 20000000.0, ts("2024-01-04 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(1L, 99L).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rep = graft.FunctionQueries.queries("q165_quality_checks")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(rep.size == 7)
    assert(rep(("completeness", "orders.o_custkey")) == (0.75, false))
    assert(rep(("completeness", "orders.o_orderdate")) == (1.0, true))
    assert(rep(("uniqueness", "orders.o_orderkey")) == (0.75, false))
    assert(rep(("range_0_10m", "orders.o_totalprice")) == (0.75, false))
    assert(rep(("accepted_FOP", "orders.o_orderstatus")) == (0.75, false))
    assert(rep(("ref_integrity", "lineitem.l_orderkey")) == (0.5, false))
    assert(rep(("row_count", "orders")) == (4.0, true))
  }

  test("kll sketch: accuracy, mergeability, and serialization roundtrip") {
    import spark.implicits._
    val df = (1 to 10000).map(i => (i % 4, i.toDouble)).toDF("g", "v")
    // one-shot sketch: p50 within the ±3% rank band used by the gate
    val p50 = df.agg(expr("kll_quantile(kll_sketch_agg(v, 200), 0.5d)"))
      .head().getDouble(0)
    assert(p50 >= 4700.0 && p50 <= 5300.0, s"p50=$p50")
    // partial sketches per group merged == same accuracy band (the
    // persisted-sketch-table path: merge NEVER touches raw values)
    val merged = df.groupBy("g").agg(expr("kll_sketch_agg(v, 200)").as("sk"))
      .agg(expr("kll_quantile(kll_merge_agg(sk, 200), 0.5d)"))
      .head().getDouble(0)
    assert(merged >= 4700.0 && merged <= 5300.0, s"merged p50=$merged")
    val p90 = df.agg(expr("kll_quantile(kll_sketch_agg(v, 200), 0.9d)"))
      .head().getDouble(0)
    assert(p90 >= 8700.0 && p90 <= 9300.0, s"p90=$p90")
  }

  test("q166_quantile_rollup: rank contract holds on a known distribution") {
    val dir = tempDir()
    eventsFixture(dir, (1 to 1000).map { i =>
      (i.toLong, f"2024-01-${i % 10 + 1}%02d 00:00:00", i.toLong % 7, "m", i.toDouble)
    })
    val rows = graft.FunctionQueries.queries("q166_quantile_rollup")(spark, dir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(1) == 1000L)          // n
    assert(r.getLong(2) == 10L)            // n_day_cells
    assert(r.getDouble(3) == 500.5)        // exact interpolating p50 of 1..1000
    assert(r.getBoolean(4) && r.getBoolean(5), s"rank contract failed: $r")
  }

  /** The gated query's variant rule, recomputed Spark-free (third engine):
    * first 16 bits of md5(user_id string), even → A. */
  private def variantA(u: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(u.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 4), 16) % 2 == 0
  }

  test("q168_ab_test: constructed extreme experiment is significant") {
    val dir = tempDir()
    // every A-user converts (purchase over the 180 cut), no B-user does
    val users = (1L to 40L)
    eventsFixture(dir, users.map { u =>
      (u, "2024-01-01 00:00:00", u, "purchase",
        if (variantA(u)) 200.0 else 10.0)
    })
    val nA = users.count(variantA)
    assert(nA > 0 && nA < users.size, s"degenerate hash split nA=$nA")
    val r = graft.EventQueries.queries("q168_ab_test")(spark, dir).head()
    assert(r.getLong(0) == nA.toLong && r.getLong(1) == nA.toLong,
      s"A cell: $r")       // n_a, conv_a: all of A converted
    assert(r.getLong(3) == (users.size - nA).toLong && r.getLong(4) == 0L,
      s"B cell: $r")       // n_b, conv_b
    assert(r.getDouble(2) == 1.0 && r.getDouble(5) == 0.0)
    assert(r.getDouble(6) > 1.96 && r.getBoolean(7), s"z/significant: $r")
  }

  test("theta sketch: exact mode, estimation error, and set algebra") {
    import spark.implicits._
    // exact mode: below lgK=12's 4096 retained hashes the estimate IS
    // the exact distinct count
    val small = (1L to 1000L).toDF("u")
      .agg(expr("theta_long_sketch_agg(u, 12)").as("sk"))
      .select(expr("theta_union_estimate(sk, sk)")).head().getDouble(0)
    assert(small == 1000.0, s"exact-mode estimate drifted: $small")
    // estimation mode (100k ≫ 4096): union and intersection estimates
    // within the theta error envelope; theta hashing/compaction is
    // seed-fixed and order-independent, so these are deterministic
    val a = (1L to 60000L).toDF("u")
      .agg(expr("theta_long_sketch_agg(u, 12)").as("sk"))
    val b = (40001L to 100000L).toDF("u")
      .agg(expr("theta_long_sketch_agg(u, 12)").as("sk2"))
    val r = a.crossJoin(b).select(
      expr("theta_union_estimate(sk, sk2)"),
      expr("theta_intersect_estimate(sk, sk2)")).head()
    assert(math.abs(r.getDouble(0) - 100000.0) <= 5000.0,
      s"union est: ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 20000.0) <= 3000.0,
      s"intersect est: ${r.getDouble(1)}")
  }

  test("q170_theta_overlap: constructed overlap is recovered exactly") {
    val dir = tempDir()
    // X = users 1..10, Y = users 6..15 → |X∩Y| = 5 (exact-mode sketches)
    eventsFixture(dir,
      (1L to 10L).map(u => (u, "2024-01-01 00:00:00", u, "x", 0.0)) ++
        (6L to 15L).map(u => (100 + u, "2024-01-01 01:00:00", u, "y", 0.0)))
    val rows = graft.EventQueries.queries("q170_theta_overlap")(spark, dir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1)) == (("x", "y")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((10L, 10L, 5L)))
    assert(r.getBoolean(5) && r.getBoolean(6), s"accuracy gate tripped: $r")
  }

  test("q171_resample_interpolate: gap cells interpolate, edges clamp") {
    val dir = tempDir()
    // type m observed at hours 0,1,3,6 → h2=25, h4=60, h5=80 by linear
    // interpolation; type b observed only at h3 → all its cells clamp to 7
    eventsFixture(dir, Seq(
      (1L, "2024-01-01 00:00:00", 1L, "m", 0.0),
      (2L, "2024-01-01 01:00:00", 1L, "m", 10.0),
      (3L, "2024-01-01 03:00:00", 1L, "m", 40.0),
      (4L, "2024-01-01 06:00:00", 1L, "m", 100.0),
      (5L, "2024-01-01 03:00:00", 2L, "b", 7.0)))
    val m = graft.EventQueries.queries("q171_resample_interpolate")(spark, dir)
      .collect()
      .map(r => (r.getString(0),
        r.getAs[java.time.LocalDateTime](1).getHour) ->
        (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(m.size == 14, s"spine must be 7 hours x 2 types: ${m.size}")
    assert(m(("m", 2)) == ((25.0, false)))
    assert(m(("m", 4)) == ((60.0, false)))
    assert(m(("m", 5)) == ((80.0, false)))
    assert(m(("m", 3)) == ((40.0, true)))
    (0 to 6).foreach { h =>
      assert(m(("b", h))._1 == 7.0, s"b@$h must clamp to 7: ${m(("b", h))}")
    }
    assert(m(("b", 3))._2 && !m(("b", 2))._2)
  }

  test("q172_rolling_median: trailing window median over known counts") {
    val dir = tempDir()
    // daily counts for type m: d1=1, d2=9, d3=2 → med7 = 1, 5, 2
    val rows =
      Seq((1, 1)) ++ (1 to 9).map(i => (2, 10 + i)) ++ Seq((3, 30), (3, 31))
    eventsFixture(dir, rows.zipWithIndex.map { case ((day, _), i) =>
      (i.toLong, f"2024-01-0$day%d 05:00:00", 1L, "m", 0.0)
    })
    val m = graft.EventQueries.queries("q172_rolling_median")(spark, dir)
      .collect()
      .map(r => r.getDate(1).toLocalDate.getDayOfMonth ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(m(1) == ((1L, 1.0, 1L, 1L, 1L)))
    assert(m(2) == ((9L, 5.0, 1L, 9L, 2L)))   // median(1,9) interpolates to 5
    assert(m(3) == ((2L, 2.0, 1L, 9L, 3L)))   // median(1,9,2) = 2
  }

  test("q173_cusum_changepoint: two-regime series flags the level shift") {
    val dir = tempDir()
    // 10 days at n=5, then 10 days at n=15 → μ=10, MAD=5, 3×MAD=15;
    // closed-form CUSUM: s_pos ramps 5/day from day 11 (crosses 15 on
    // day 14), s_neg ramps 5/day from day 1 (crosses on day 4) and
    // unwinds 5/day after the shift (back under on day 17)
    val rows = (1 to 20).flatMap { day =>
      val n = if (day <= 10) 5 else 15
      (1 to n).map(i => ((day * 100 + i).toLong,
        f"2024-01-$day%02d 05:00:00", 1L, "m", 0.0))
    }
    eventsFixture(dir, rows)
    val m = graft.EventQueries.queries("q173_cusum_changepoint")(spark, dir)
      .collect()
      .map(r => r.getDate(1).toLocalDate.getDayOfMonth ->
        (r.getDouble(3), r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
      .toMap
    assert(m(10) == ((0.0, 50.0, false, true)))  // trough: s_pos reset, s_neg peak
    assert(m(13)._3 == false && m(14)._3 == true, s"spike onset: ${m(13)} ${m(14)}")
    assert(m(20) == ((50.0, 0.0, true, false)))  // full recovery of the drop side
    assert(m(3)._4 == false && m(4)._4 == true, s"drop onset: ${m(3)} ${m(4)}")
    assert(m(16)._4 == true && m(17)._4 == false, s"drop unwind: ${m(16)} ${m(17)}")
  }

  test("q174_period_growth: hand-computed MoM chain, edge months null") {
    import spark.implicits._
    val dir = tempDir()
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // monthly revenue 100 → 150 → 120: MoM = null, +50%, −20%
    Seq(
      (1L, 1L, "F", 40.0, ts("2024-01-05 00:00:00")),
      (2L, 1L, "F", 60.0, ts("2024-01-20 00:00:00")),
      (3L, 1L, "F", 150.0, ts("2024-02-10 00:00:00")),
      (4L, 1L, "F", 120.0, ts("2024-03-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = graft.EventQueries.queries("q174_period_growth")(spark, dir)
      .collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).getMonthValue ->
        (r.getDouble(1), r.getLong(2), Option(r.get(3)), Option(r.get(4))))
      .toMap
    assert(rows(1) == ((100.0, 2L, None, None)))
    assert(rows(2) == ((150.0, 1L, Some(50.0), None)))
    assert(rows(3) == ((120.0, 1L, Some(-20.0), None)))
  }

  test("q175_skew_report: Gini and load shares from a known distribution") {
    val dir = tempDir()
    // counts per user: u1=1, u2=1, u3=8 → sorted asc Σi·cᵢ = 1+2+24 = 27,
    // G = 2·27/(3·10) − 4/3 = 7/15
    val rows = Seq.tabulate(1)(i => (1L + i, 1L)) ++
      Seq((10L, 2L)) ++ Seq.tabulate(8)(i => (20L + i, 3L))
    eventsFixture(dir, rows.zipWithIndex.map { case ((id, u), i) =>
      (id * 100 + i, "2024-01-01 00:00:00", u, "view", 0.0)
    })
    val r = graft.EventQueries.queries("q175_skew_report")(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((10L, 3L, 8L)))
    assert(r.getDouble(3) == 0.8)                       // max_share
    assert(r.getDouble(4) == 1.0)                       // top10 covers all keys
    assert(math.abs(r.getDouble(5) - 7.0 / 15.0) < 1e-8, s"gini: $r")
    // uniform distribution → Gini exactly 0
    val dir2 = tempDir()
    eventsFixture(dir2, (0 until 6).map(i =>
      ((i + 1).toLong, "2024-01-01 00:00:00", (i % 3).toLong, "view", 0.0)))
    val u = graft.EventQueries.queries("q175_skew_report")(spark, dir2).head()
    assert(u.getDouble(5) == 0.0, s"uniform gini must be 0: $u")
  }

  test("s176_hard_negatives: same-label near neighbor skipped, hardest kept") {
    import spark.implicits._
    val dir = tempDir()
    // v0/v1 share label 0 and are near-identical; v2 (label 1) is the
    // hard negative for v0 — closer than v3 but farther than v1
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.141f), 0),
      (2L, Array(0.9f, 0.436f), 1),
      (3L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val m = graft.SimilarityQueries.queries("s176_hard_negatives")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    // v0's negatives are exactly the label-1 vectors, hardest first —
    // v1 (global nearest, same label) must NOT appear
    assert(m((0L, 1L))._1 == 2L, s"rank-1 negative: ${m((0L, 1L))}")
    assert(m((0L, 2L))._1 == 3L, s"rank-2 negative: ${m((0L, 2L))}")
    assert(m((0L, 1L))._2 > 0.85 && math.abs(m((0L, 2L))._2) < 1e-6)
    assert(!m.keySet.exists { case (v, _) => v == 0L && m.exists(e =>
      e._1._1 == 0L && e._2._1 == 1L) }, "same-label vector leaked as negative")
    // every anchor gets ≤ 2 negatives here (only two different-label docs)
    assert(m.keySet.count(_._1 == 0L) == 2)
  }

  test("q177_linear_attribution: equal split, 7-day boundary, direct fallback") {
    import spark.implicits._
    val dir = tempDir()
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    eventsFixture(dir, Seq(
      (1L, "2024-01-08 00:00:00", 1L, "click", 0.0),  // in o101's lookback
      (2L, "2024-01-09 00:00:00", 1L, "view", 0.0),   // in o101's lookback
      (3L, "2024-01-13 00:00:00", 2L, "click", 0.0),  // EXACTLY 7d before o102
      (4L, "2024-01-06 00:00:00", 3L, "view", 0.0)))  // AFTER o103 → excluded
    Seq(
      (101L, 1L, "F", 100.0, ts("2024-01-10 00:00:00")),
      (102L, 2L, "F", 30.0, ts("2024-01-20 00:00:00")),
      (103L, 3L, "F", 40.0, ts("2024-01-05 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val m = graft.EventQueries.queries("q177_linear_attribution")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toMap
    // o101's 100 splits 50/50; o102's 30 goes whole to the boundary click
    assert(m("click") == ((80.0, 2L, 2L)), s"click: $m")
    assert(m("view") == ((50.0, 1L, 1L)), s"view: $m")
    assert(m("direct") == ((40.0, 1L, 0L)), s"direct: $m")
  }

  test("s178_hard_negatives_lsh: tier is label-correct; recall vs exact measured") {
    val exact = graft.SimilarityQueries.queries("s176_hard_negatives")(spark, sfDir())
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val lsh = graft.SimilarityQueries.queries("s178_hard_negatives_lsh")(spark, sfDir())
      .collect()
    assert(lsh.nonEmpty)
    // label correctness: no pair shares a label (recomputed driver-side)
    val labels = graft.Tables.embeddings(spark, sfDir())
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    lsh.foreach { r =>
      assert(labels(r.getLong(0)) != labels(r.getLong(3)),
        s"same-label pair leaked from the LSH tier: $r")
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 3L)
    }
    // recall vs the exact tier is the banding bound (s96's contract) —
    // pin a floor so a broken band join cannot silently empty the tier
    val pairs = lsh.map(r => (r.getLong(0), r.getLong(3))).toSet
    val recall = (pairs & exact).size.toDouble / exact.size
    assert(recall >= 0.3, f"LSH hard-negative recall $recall%.3f below floor")
  }

  private def sfDir(): String = "/root/testdata/sf0.001"

  test("t179_fertility: hand-computed multilingual tokenizer stats") {
    import spark.implicits._
    val dir = tempDir()
    // en: "ab cd" (2 words, 2 subtokens, 5 bytes) + "don't stop"
    //     (2 words, 4 subtokens: don|'|t|stop, 10 bytes)
    // zh: "你好 世界" (2 words, 4 CJK subtokens, 13 UTF-8 bytes)
    Seq((1L, "ab cd", "en"), (2L, "don't stop", "en"), (3L, "你好 世界", "zh"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.TextQueries.queries("t179_fertility")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    assert(m("en") == ((2L, 4L, 6L, 15L, 1.5, 2.5, 3.75)), s"en: ${m("en")}")
    assert(m("zh") == ((1L, 2L, 4L, 13L, 2.0, 3.25, 6.5)), s"zh: ${m("zh")}")
  }

  test("s180_cluster_quality: accounts for every vector, agrees with s90") {
    val q = graft.SimilarityQueries.queries("s180_cluster_quality")(spark, sfDir())
      .collect()
    assert(q.nonEmpty)
    // cluster membership accounting must agree with s90's gated assignment
    val s90 = graft.SimilarityQueries.queries("s90_kmeans")(spark, sfDir())
      .collect().groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.length.toLong }
    val total = graft.Tables.embeddings(spark, sfDir()).count()
    assert(q.map(_.getLong(1)).sum == total, "clusters must cover the corpus")
    q.foreach { r =>
      val (c, n, srms, mNear, dbc) = (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(s90(c) == n, s"cluster $c size $n != s90's ${s90(c)}")
      assert(srms >= 0.0 && mNear > 0.0 && dbc > 0.0, s"degenerate stats: $r")
      // the DB component is at least the nearest-centroid ratio with the
      // tightest possible partner (S_j >= 0), a cheap lower-bound sanity
      assert(dbc >= srms / mNear - 1e-9, s"DB bound violated: $r")
    }
  }

  test("d181_lsh_tuner: S-curve monotonicity and a single closest choice") {
    val rows = graft.DedupQueries.queries("d181_lsh_tuner")(spark, sfDir())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(4),
        r.getBoolean(6)))
    assert(rows.length == 10 && rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // more bands → lower threshold, higher capture at fixed similarity
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3, s"threshold must fall with b: $a vs $b")
      assert(a._4 <= b._4 + 1e-12, s"capture must rise with b: $a vs $b")
    }
    val rec = rows.filter(_._5)
    assert(rec.length == 1, s"exactly one recommendation: ${rec.toSeq}")
    val best = rows.minBy(r => math.abs(r._3 - 0.4))
    assert(rec.head._1 == best._1, s"choice ${rec.head} != closest $best")
  }

  test("t187_language_mixture: code-switched doc flagged, pure docs not") {
    import spark.implicits._
    val dir = tempDir()
    Seq(
      // pure English: 5 en markers, nothing else → not mixed
      (1L, "the cat is of the and is house"),
      // half en / half es markers (4+4; 'la' avoided — it hits fr too) → mixed
      (2L, "the of and is de y es el"),
      // dominant en with es hits at EXACTLY top share 3/4 (6 vs 2) →
      // NOT mixed (the 4·top < 3·total boundary is strict)
      (3L, "the the of of and is de y"),
      // too few hits to judge (2 total) → not mixed
      (4L, "the el bonjour"))
      .map { case (id, text) => (id, text, "en") }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.TextQueries.queries("t187_language_mixture")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(6), r.getLong(7), Option(r.get(8)), r.getBoolean(9)))
      .toMap
    assert(m(1L) == ((6L, 1L, Some(1.0), false)), s"pure: ${m(1L)}")
    assert(m(2L)._4 == true && m(2L)._2 == 2L, s"mixed: ${m(2L)}")
    assert(m(2L)._3 == Some(0.5))
    assert(m(3L) == ((8L, 2L, Some(0.75), false)), s"boundary: ${m(3L)}")
    assert(m(4L)._4 == false && m(4L)._1 == 2L, s"sparse: ${m(4L)}")
  }

  test("d188_normalized_dedup: reformatted copies collapse, raw hash would miss") {
    import spark.implicits._
    val dir = tempDir()
    Seq(
      (1L, "Hello, World!  How are you?"),
      (2L, "hello world how are you"),        // normalized twin of 1
      (3L, "HELLO   WORLD\nHOW ARE YOU"),     // another reformat of 1
      (4L, "hello world how are you"),        // BYTE-exact dup of 2
      (5L, "something else entirely"))
      .map { case (id, t) => (id, t, "en") }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.DedupQueries.queries("d188_normalized_dedup")(spark, dir)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // docs 1-4 share one normalized cluster: 4 copies over 3 raw hashes
    // (2 and 4 are byte-identical) → 1 raw dup + 2 extra caught beyond
    // what d37's raw-byte grouping could collapse
    assert(m(1L) == ((4L, 1L, 2L)), s"cluster: ${m(1L)}")
    assert(m(5L) == ((1L, 0L, 0L)), s"singleton: ${m(5L)}")
  }

  test("q189/q190: growth metrics — accounting identities and a crafted fixture") {
    val sfD = sfDir()
    val nvr = graft.EventQueries.queries("q189_new_vs_returning")(spark, sfD)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // Σ new = distinct users; per-day new + returning = active
    val users = graft.Tables.events(spark, sfD)
      .select("user_id").distinct().count()
    assert(nvr.map(_._1).sum == users)
    nvr.foreach { case (nw, ret, act) => assert(nw + ret == act) }
    val st = graft.EventQueries.queries("q190_stickiness")(spark, sfD)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    st.foreach { case (dau, mau, s) =>
      assert(dau <= mau && s > 0.0 && s <= 1.0, s"bounds: $dau/$mau=$s")
    }
    // crafted: u1 active d1 & d3; u2 active d3 only; u3 active d40
    // (outside d3's 28-day window going forward, inside nothing shared)
    val dir = tempDir()
    eventsFixture(dir, Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 0.0),
      (2L, "2024-01-03 01:00:00", 1L, "view", 0.0),
      (3L, "2024-01-03 02:00:00", 2L, "view", 0.0),
      (4L, "2024-02-09 01:00:00", 3L, "view", 0.0)))
    val m = graft.EventQueries.queries("q189_new_vs_returning")(spark, dir)
      .collect()
      .map(r => r.getDate(0).toLocalDate.toString ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(m("2024-01-01") == ((1L, 0L)))
    assert(m("2024-01-03") == ((1L, 1L)))  // u2 new, u1 returning
    assert(m("2024-02-09") == ((1L, 0L)))
    val sm = graft.EventQueries.queries("q190_stickiness")(spark, dir)
      .collect()
      .map(r => r.getDate(0).toLocalDate.toString ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(sm("2024-01-01") == ((1L, 1L)))
    assert(sm("2024-01-03") == ((2L, 2L)))  // u1+u2 within the window
    assert(sm("2024-02-09") == ((1L, 1L)))  // January activity aged out
  }

  test("gram matrix aggregate: hand-computed moments, partition-order-free") {
    import spark.implicits._
    // vectors (1,2) and (3,4): Σxy = [[10,14],[14,20]], Σx = [4,6], n = 2
    def run(parts: Int): Seq[Long] =
      Seq(Seq(1L, 2L), Seq(3L, 4L)).toDF("q").repartition(parts)
        .agg(expr("gram_matrix_agg(q, 2)")).head().getSeq[Long](0)
    val g = run(1)
    assert(g == Seq(10L, 14L, 14L, 20L, 4L, 6L, 2L), s"moments: $g")
    // integer accumulation ⇒ identical buffer under any partitioning
    assert(run(4) == g, "partial merge must be order-independent")
    // s191's covariance derives exactly: cov(0,1) = (14 − 4·6/2)/1 = 2
    assert((g(1) - g(4).toDouble * g(5) / g(6)) / (g(6) - 1) == 2.0)
  }

  test("t193_zipf_slope: exact power law fits slope -1 with r2 = 1") {
    import spark.implicits._
    val dir = tempDir()
    // term wk appears 2520/k times for k = 1..10 (2520 = lcm(1..10), so
    // every count is exact): ln(freq) = ln(2520) − ln(rank) exactly
    val text = (1 to 10).flatMap(k => Seq.fill(2520 / k)(s"w$k")).mkString(" ")
    Seq((1L, text, "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.TextQueries.queries("t193_zipf_slope")(spark, dir).head()
    assert(r.getLong(0) == 10L && r.getLong(4) == 10L)
    assert(r.getDouble(1) == -1.0, s"slope: $r")
    assert(r.getDouble(3) == 1.0, s"r2: $r")
    assert(math.abs(r.getDouble(2) - math.log(2520.0)) < 1e-5, s"intercept: $r")
    assert(r.getLong(5) == (1 to 10).map(2520 / _).sum.toLong)
    // rank ties broken by term: a uniform corpus still fits deterministically
    val dir2 = tempDir()
    Seq((1L, "a b c a b c", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val u = graft.TextQueries.queries("t193_zipf_slope")(spark, dir2).head()
    assert(u.getDouble(1) == 0.0 && u.getLong(0) == 3L,
      s"uniform corpus must fit slope 0: $u")
  }

  test("q169_attribution: as-of pick, equal-ts touch, and direct fallback") {
    import spark.implicits._
    val dir = tempDir()
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    eventsFixture(dir, Seq(
      (1L, "2024-01-01 01:00:00", 1L, "click", 0.0),
      (2L, "2024-01-01 03:00:00", 1L, "view", 0.0)))
    Seq(
      (101L, 1L, "F", 10.0, ts("2024-01-01 02:00:00")), // after click → click
      (102L, 1L, "F", 20.0, ts("2024-01-01 03:00:00")), // AT view's ts → view (<=)
      (103L, 2L, "F", 40.0, ts("2024-01-01 05:00:00"))) // no events → direct
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val m = graft.EventQueries.queries("q169_attribution")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m == Map(
      "click" -> ((1L, 10.0)),
      "view" -> ((1L, 20.0)),
      "direct" -> ((1L, 40.0))), s"attribution: $m")
  }
}
