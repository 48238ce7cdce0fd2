package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for the round-10 operators beyond their DuckDB
  * hash gates: AUC against a hand-computed tied U-statistic, confusion/
  * F1 identities, ECE bin accounting, Kaplan–Meier against the textbook
  * product on a 4-user fixture, Fellegi–Sunter decisions on known
  * corruption, Gopher/C4 rule flags on crafted docs, item-CF cosine on
  * a 3-basket fixture, PSI null-case, RFM quintile assignment, radius
  * search consistency with brute top-k, and the zero-variance contrast
  * case.
  */
class EvalOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def eventsFixture(
      rows: Seq[(Long, String, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.map { case (id, ts, user, typ, v) =>
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def docsFixture(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q220_auc_roc: hand-computed AUC with a pos/neg tie") {
    // one cohort (user_id 4): pos scores {3, 2}, neg {1, 2}
    // U = 1 + 1 + 1 + 0.5(tie) = 3.5 → AUC = 3.5 / 4 = 0.875
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 4L, "purchase", 3.0),
      (2L, "2024-01-01 00:01:00", 4L, "purchase", 2.0),
      (3L, "2024-01-01 00:02:00", 4L, "click", 1.0),
      (4L, "2024-01-01 00:03:00", 4L, "view", 2.0)))
    val r = graft.EventQueries.queries("q220_auc_roc")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_pos") == 2L && row.getAs[Long]("n_neg") == 2L)
    assert(row.getAs[Long]("u2") == 7L, s"u2=${row.getAs[Long]("u2")}")
    assert(math.abs(row.getAs[Double]("auc") - 0.875) < 1e-12)
  }

  test("q220_auc_roc: AUC is 1 for perfect separation, 0.5 for identical scores") {
    val perfect = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 4L, "purchase", 9.0),
      (2L, "2024-01-01 00:01:00", 4L, "click", 1.0)))
    val p = graft.EventQueries.queries("q220_auc_roc")(spark, perfect).head()
    assert(p.getAs[Double]("auc") == 1.0)
    val coin = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 4L, "purchase", 5.0),
      (2L, "2024-01-01 00:01:00", 4L, "click", 5.0)))
    val c = graft.EventQueries.queries("q220_auc_roc")(spark, coin).head()
    assert(c.getAs[Double]("auc") == 0.5)
  }

  test("q221_confusion_f1: counts partition the fold and F1 matches the identity") {
    val rows = graft.EventQueries.queries("q221_confusion_f1")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val n = graft.Tables.events(spark, sfDir).count()
    val total = rows.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fp") +
      r.getAs[Long]("fn") + r.getAs[Long]("tn")).sum
    assert(total == n, s"confusion cells must partition the events: $total vs $n")
    rows.foreach { r =>
      val (tp, fp, fn) =
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
      val f1 = r.getAs[Double]("f1")
      assert(math.abs(f1 - 2.0 * tp / (2.0 * tp + fp + fn)) < 1e-12)
    }
  }

  test("q222_ece_calibration: bins cover all events and confidences sit in-bin") {
    val rows = graft.EventQueries.queries("q222_ece_calibration")(spark, sfDir)
      .collect()
    val n = graft.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_samples")).sum == n)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val conf = r.getAs[Double]("mean_conf")
      // mean confidence of bin b lies in [b/10, (b+1)/10] up to the
      // milli-lattice rounding (bin 9 also absorbs p_milli = 1000)
      assert(conf >= bin / 10.0 - 0.001 &&
        conf <= (bin + 1) / 10.0 + (if (bin == 9) 0.001 else 0.0005),
        s"bin $bin mean_conf $conf out of band")
    }
  }

  test("q223_kaplan_meier: textbook product on a 4-user fixture") {
    // corpus max = u4's last event. durations: u1 → 0d (death at 0),
    // u2 → 10d (death), u3 → 20d (death), u4 → 30d censored (last event
    // inside the final 7 days). KM: S(0)=3/4, S(10)=3/4·2/3=1/2,
    // S(20)=1/2·1/2=1/4, S(30): no deaths → 1/4.
    val dir = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 00:00:00", 2L, "view", 1.0),
      (3L, "2024-01-11 00:00:00", 2L, "view", 1.0),
      (4L, "2024-01-01 00:00:00", 3L, "view", 1.0),
      (5L, "2024-01-21 00:00:00", 3L, "view", 1.0),
      (6L, "2024-01-01 00:00:00", 4L, "view", 1.0),
      (7L, "2024-01-31 00:00:00", 4L, "view", 1.0)))
    val m = graft.EventQueries.queries("q223_kaplan_meier")(spark, dir)
      .collect().map(r => r.getAs[Long]("t_days") -> r.getAs[Double]("survival"))
      .toMap
    assert(m.keySet == Set(0L, 10L, 20L, 30L), s"durations: ${m.keySet}")
    assert(math.abs(m(0L) - 0.75) < 1e-6)
    assert(math.abs(m(10L) - 0.5) < 1e-6)
    assert(math.abs(m(20L) - 0.25) < 1e-6)
    assert(math.abs(m(30L) - 0.25) < 1e-6)
  }

  test("q223_kaplan_meier: survival is monotone non-increasing on sf data") {
    val sv = graft.EventQueries.queries("q223_kaplan_meier")(spark, sfDir)
      .collect().map(_.getAs[Double]("survival"))
    assert(sv.nonEmpty)
    sv.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-12, s"survival must not increase: $a -> $b")
    case _ => ()
    }
  }

  test("d219_record_linkage: uncorrupted true pairs match, truncated ones demote") {
    val rows = graft.DedupQueries.queries("d219_record_linkage")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val byPair = rows.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
      r.getAs[String]("decision")).toMap
    // custkey 1: 1%3, 1%5, 1%7 all nonzero → fully intact → match
    assert(byPair((1L, 1000001L)) == "match")
    // custkey 3: name truncated → name disagrees → below the match bar
    assert(byPair.get((3L, 1000003L)).forall(_ != "match"))
    // every emitted pair shares the blocking prefix by construction and
    // decisions never include filtered non-matches
    assert(rows.forall(_.getAs[String]("decision") != "non-match"))
  }

  test("t217_gopher_filters: rule flags fire on crafted docs") {
    val longDoc = (Seq.fill(10)("the of and that have with be to") ++
      Seq.fill(3)("alpha beta gamma delta epsilon zeta eta theta"))
      .mkString(" ") // 104 words, all alphabetic, stopword-rich
    val dir = docsFixture(Seq(
      (1L, longDoc),
      (2L, "tiny doc only"), // fails the 50-word floor
      (3L, Seq.fill(60)("### ... ###").mkString(" ")))) // symbol storm
    val m = graft.TextQueries.queries("t217_gopher_filters")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("gopher_keep"), r.getAs[Boolean]("pass_word_count"),
          r.getAs[Boolean]("pass_symbol_ratio"))).toMap
    assert(m(1L)._1, "clean long doc must keep")
    assert(!m(2L)._2, "3-word doc must fail word count")
    assert(!m(3L)._3, "symbol storm must fail the symbol ratio")
  }

  test("t218_c4_filters: content screens fire") {
    val dir = docsFixture(Seq(
      (1L, "First sentence here. Second one too! A third, yes? Clean text."),
      (2L, "this page uses javascript enable it to proceed and more words here."),
      (3L, "lorem ipsum dolor sit amet. Second sentence. Third sentence.")))
    val m = graft.TextQueries.queries("t218_c4_filters")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("c4_keep"), r.getAs[Boolean]("has_javascript"),
          r.getAs[Boolean]("has_lorem"), r.getAs[Boolean]("ends_terminal"))).toMap
    assert(m(1L)._1 && m(1L)._4, "clean doc keeps and ends terminal")
    assert(!m(2L)._1 && m(2L)._2, "javascript doc drops")
    assert(!m(3L)._1 && m(3L)._3, "lorem ipsum doc drops")
  }

  test("s226_item_cf: cosine on a 3-basket fixture") {
    import spark.implicits._
    val dir = tempDir()
    // customers 1,2 both buy {10, 20}; customer 3 buys {10, 30}
    // n(10)=3, n(20)=2, n(30)=1; co(10,20)=2 → cos = 2/√6
    Seq((100L, 1L), (101L, 1L), (102L, 2L), (103L, 2L), (104L, 3L), (105L, 3L))
      .toDF("o_orderkey", "o_custkey")
      .withColumn("o_orderstatus", lit("F"))
      .withColumn("o_totalprice", lit(1.0))
      .withColumn("o_orderdate", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((100L, 10L), (101L, 20L), (102L, 10L), (103L, 20L), (104L, 10L),
      (105L, 30L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_suppkey", lit(1L)).withColumn("l_linenumber", lit(1L))
      .withColumn("l_quantity", lit(1.0))
      .withColumn("l_extendedprice", lit(1.0))
      .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
      .withColumn("l_returnflag", lit("N")).withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", lit("2024-01-02 00:00:00").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = graft.SimilarityQueries.queries("s226_item_cf")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("neighbor_id")) ->
        (r.getAs[Long]("co"), r.getAs[Long]("cos_e9"))).toMap
    val expected = math.floor(2.0 / math.sqrt(6.0) * 1e9 + 0.5).toLong
    assert(rows((10L, 20L)) == (2L, expected), s"got ${rows.get((10L, 20L))}")
    assert(rows((20L, 10L))._2 == expected)
    // item 30 co-occurs with 10 only ONCE — pruned by min support 2
    assert(!rows.contains((30L, 10L)) && !rows.contains((10L, 30L)),
      s"min-support-2 must prune co=1 pairs: $rows")
  }

  test("q227_psi_drift: identical halves give PSI ~ 0 and no flag") {
    import spark.implicits._
    val dir = tempDir()
    // the same 4 prices land on both sides of the cut → p == q per band
    val rows = for {
      side <- Seq("1998-01-01 00:00:00", "1999-01-01 00:00:00")
      (p, i) <- Seq(10000.0, 60000.0, 110000.0, 460000.0).zipWithIndex
    } yield (side.hashCode.toLong * 10 + i, 1L, "F", p, side, "1-URGENT")
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "d", "o_orderpriority")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = graft.FunctionQueries.queries("q227_psi_drift")(spark, dir).collect()
    assert(r.forall(_.getAs[Long]("psi_term_e9") == 0L))
    assert(r.forall(!_.getAs[Boolean]("drift_flag")))
  }

  test("q228_rfm_segments: five distinct customers spread the quintiles") {
    val rows = graft.FunctionQueries.queries("q228_rfm_segments")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val scores = rows.map(_.getAs[Long](c)).distinct.sorted
      assert(scores.head >= 1L && scores.last <= 5L, s"$c out of 1..5")
      assert(scores.length == 5, s"$c must use all quintiles on sf data")
    }
    val segs = rows.map(_.getAs[String]("segment")).distinct.toSet
    assert(segs.subsetOf(Set("champion", "loyal", "big_spender", "at_risk",
      "hibernating", "regular")))
  }

  test("s225_radius_search: agrees with brute-force top-k above the radius") {
    val radius = graft.SimilarityQueries.queries("s225_radius_search")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(radius.nonEmpty)
    // every brute-force top-k neighbor with cosine >= 0.2 must be inside
    // the radius result (the radius set is a superset at the threshold)
    val brute = graft.SimilarityQueries.queries("s42_ann_brute")(spark, sfDir)
      .collect()
      .filter(r => math.floor(r.getAs[Double]("cosine") * 1e9 + 0.5) >= 2e8)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(brute.nonEmpty && brute.forall(radius.contains),
      "radius result must contain every above-threshold top-k neighbor")
  }

  test("s237_radius_lsh: exact-verified subset of the brute radius with usable recall") {
    def pairs(name: String): Set[(Long, Long)] =
      graft.SimilarityQueries.queries(name)(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs("s225_radius_search")
    val lsh = pairs("s237_radius_lsh")
    assert(lsh.nonEmpty && lsh.subsetOf(brute),
      "exact verify makes the LSH tier precision-1.0 — never a false pair")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.3,
      f"banding recall $recall%.2f collapsed below the design band")
  }

  test("m236_mime_sniff: every container sniffs to its declared type") {
    val rows = graft.MultimodalQueries.queries("m236_mime_sniff")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("type_match")))
    assert(rows.map(_.getAs[String]("sniffed")).toSet ==
      Set("image/bmp", "audio/wav", "video/avi"))
  }

  test("m229_image_contrast: constant image has exactly zero variance") {
    val bmp = graft.ImageIoDecoder.syntheticBmp(32, 32, 0, 0, 77)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    var sg = 0L; var sg2 = 0L
    for (y <- 0 until 32; x <- 0 until 32) {
      val g = img.getRGB(x, y) & 0xff
      sg += g; sg2 += g.toLong * g
    }
    assert(sg == 77L * 1024 && 1024L * sg2 - sg * sg == 0L)
    // and the gated query flags no gradient image as low-contrast
    val rows = graft.MultimodalQueries.queries("m229_image_contrast")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.forall(!_.getAs[Boolean]("low_contrast")))
    assert(rows.forall(_.getAs[Long]("var_num") > 0L))
  }

  test("q224_tpch_q10: revenue ranks descending and returnflag filter binds") {
    val rows = graft.CoreQueries.queries("q224_tpch_q10")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Double]("revenue"))
    revs.sliding(2).foreach { case Array(a, b) => assert(a >= b) case _ => () }
  }
}
