package graft.operators

import graft.SparkSpec

/** Behavioral contracts for the round-4 corpus operators beyond their
  * DuckDB hash gates: t85's keep verdict matches its own fractions, d86
  * keeps exactly the corpus-wide first occurrence per duplicated chunk,
  * and s87's quantized-rerank stage recovers the exact top neighbor.
  */
class CorpusOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("t85_repetition: verdict is consistent and a pathological doc is dropped") {
    val rows = graft.TextQueries.queries("t85_repetition")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val topBg = r.getAs[Double]("top_bigram_frac")
      val dupTg = r.getAs[Double]("dup_trigram_frac")
      assert(topBg >= 0.0 && topBg <= 1.0 && dupTg >= 0.0 && dupTg <= 1.0)
      assert(r.getAs[Boolean]("keep") == (topBg <= 0.06 && dupTg <= 0.2),
        s"keep flag disagrees with its own fractions for doc ${r.get(0)}")
    }
    // a synthetic one-phrase-forever doc must fail both filters
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, Seq.fill(40)("buy cheap pills now").mkString(" ")),
        (2L, (1 to 120).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.TextQueries.queries("t85_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(!m(1L), "fully repetitive doc must be dropped")
    assert(m(2L), "all-distinct doc must be kept")
  }

  test("d86_chunk_dedup: exactly one kept copy per chunk, and it is the first") {
    val rows = graft.DedupQueries.queries("d86_chunk_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // every dropped chunk has n_copies > 1; kept rows with n_copies == 1
    // are singletons
    rows.filter(!_._4).foreach { case (d, c, n, _) =>
      assert(n > 1, s"dropped chunk ($d,$c) claims $n copies")
    }
    // rebuild the chunk text to verify keep-first per equivalence class
    import org.apache.spark.sql.functions._
    val chunks = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(30))).as("start"), col("t"))
      .select(col("doc_id"), (col("start") / 30).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("t"), col("start") + 1, lit(30))).as("chunk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val byChunk = rows.groupBy { case (d, c, _, _) => chunks((d, c)) }
    byChunk.foreach { case (_, group) =>
      val kept = group.filter(_._4)
      assert(kept.size == 1, s"expected exactly one kept copy, got ${kept.size}")
      val first = group.map(g => (g._1, g._2)).min
      assert((kept.head._1, kept.head._2) == first,
        "kept copy is not the (doc_id, chunk_idx)-first occurrence")
      assert(group.forall(_._3 == group.size.toLong), "n_copies mismatch")
    }
  }

  test("d88_decontaminate: eval docs excluded, overlap flagged, clean doc kept") {
    val rows = graft.DedupQueries.queries("d88_decontaminate")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 29 != 0), "eval docs must not appear in the output")
    assert(rows.exists(_._3), "the corpus's known near-dup pairs must contaminate")
    rows.foreach { case (id, n, c) => assert(c == (n > 0), s"flag/count disagree for $id") }
    // synthetic: doc 29 is eval; doc 1 copies 13 of its tokens verbatim
    // (one shared 13-gram), doc 2 is disjoint
    import spark.implicits._
    val dir = tempDir()
    val evalText = (1 to 20).map(i => s"ev$i").mkString(" ")
    Seq((29L, evalText),
        (1L, "lead " + (3 to 15).map(i => s"ev$i").mkString(" ") + " tail"),
        (2L, (1 to 30).map(i => s"tr$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.DedupQueries.queries("d88_decontaminate")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(m(1L) == ((1L, true)), "doc sharing one 13-gram must be contaminated")
    assert(m(2L) == ((0L, false)), "disjoint doc must be clean")
    assert(!m.contains(29L))
  }

  test("t95_stratified_sample: exact floor(n/5) quota per source") {
    val rows = graft.TextQueries.queries("t95_stratified_sample")(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, g) =>
      assert(g.count(_._2) == g.length / 5,
        s"source $src: ${g.count(_._2)} sampled of ${g.length}")
    }
  }

  test("d93_incremental_minhash: delta-only pairs, consistent with full d39") {
    val inc = graft.DedupQueries.queries("d93_incremental_minhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(inc.nonEmpty, "the corpus's known near-dups must cross the 10% slice")
    inc.foreach { case (n, c) =>
      assert(n % 10 == 0, s"doc_new $n is not in the batch slice")
      assert(c % 10 != 0, s"doc_corpus $c is not in the corpus slice")
    }
    // every incremental pair must appear in the full-corpus d39 output
    val full = graft.DedupQueries.queries("d39_dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    inc.foreach { case (n, c) =>
      assert(full.contains((math.min(n, c), math.max(n, c))),
        s"incremental pair ($n,$c) missing from the full join")
    }
  }

  test("t92_pipeline_e2e: verdict is the conjunction of its stage flags") {
    val rows = graft.TextQueries.queries("t92_pipeline_e2e")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val keep = r.getAs[Boolean]("keep")
      val expected = r.getAs[String]("predicted_lang") == "en" &&
        r.getAs[Double]("quality_score") >= 40.0 &&
        r.getAs[Boolean]("rep_keep") && r.getAs[Boolean]("is_canonical")
      assert(keep == expected, s"verdict mismatch for doc ${r.get(0)}")
      assert((r.getAs[String]("split") == null) == !keep,
        s"split must be materialized exactly for kept docs (doc ${r.get(0)})")
    }
    assert(rows.exists(!_.getAs[Boolean]("keep")), "pipeline must drop something")
    assert(rows.count(_.getAs[Boolean]("keep")) > rows.length / 2,
      "pipeline must not drop most of a normal corpus")
  }

  test("s94_knn_graph: k neighbors per vector, no self-loops, agrees with brute top-1") {
    val rows = graft.SimilarityQueries.queries("s94_knn_graph")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byVec = rows.groupBy(_._1)
    assert(byVec.values.forall(_.length == 5), "every vector gets exactly k=5 neighbors")
    rows.foreach { case (v, _, n) => assert(v != n, s"self-loop at $v") }
    // the query-set top-1 from s42 must match this graph's top-1 rows
    val brute = graft.SimilarityQueries.queries("s42_ann_brute")(spark, sfDir).collect()
      .filter(_.getLong(2) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    brute.foreach { case (q, n1) =>
      val g = rows.find(r => r._1 == q && r._2 == 1L).get
      assert(g._3 == n1, s"graph top-1 for $q (${g._3}) != brute top-1 ($n1)")
    }
  }

  test("s90_kmeans: every vector assigned once to a seed cluster, distances sane") {
    val rows = graft.SimilarityQueries.queries("s90_kmeans")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).distinct.length == rows.length, "one assignment per vector")
    val seedIds = rows.map(_._1).distinct.sorted.take(8).toSet
    assert(rows.map(_._2).toSet.subsetOf(seedIds), "cluster ids are seed vec_ids")
    assert(rows.map(_._2).distinct.length > 1, "k-means must not collapse to one cluster")
    rows.foreach { case (v, _, d) => assert(d >= 0, s"negative distance for $v") }
  }

  test("s108_semdedup: prunes within clusters, keep-lowest invariant holds") {
    val assigned = graft.SimilarityQueries.queries("s90_kmeans")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val kept = graft.SimilarityQueries.queries("s108_semdedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val keptIds = kept.map(_._1).toSet
    assert(kept.length < assigned.length,
      s"semdedup pruned nothing (${kept.length} of ${assigned.length})")
    assert(keptIds.subsetOf(assigned.map(_._1).toSet), "survivor outside corpus")
    // survivors carry their s90 cluster unchanged
    val clusterOf = assigned.toMap
    kept.foreach { case (v, c) =>
      assert(clusterOf(v) == c, s"vector $v cluster drifted: $c vs ${clusterOf(v)}")
    }
    // keep-lowest: pruning a vector requires a LOWER surviving id in its
    // cluster, so each cluster's minimum vec_id can never be pruned
    assigned.groupBy(_._2).foreach { case (c, vs) =>
      val lowest = vs.map(_._1).min
      assert(keptIds.contains(lowest), s"cluster $c lost its lowest id $lowest")
    }
  }

  test("s283_semdedup_scaled: K grows with the corpus and shrinks quadratic pair work") {
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val expectedK = math.max(8L, (n + graft.SimilarityQueries.ScaledWidth - 1) /
      graft.SimilarityQueries.ScaledWidth)
    assert(expectedK > 8, s"fixture too small to exercise growth (K=$expectedK)")
    val scaled = graft.SimilarityQueries.queries("s283_semdedup_scaled")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the derivation itself rides in the frame (and the driver hash gate)
    assert(scaled.forall(_._3 == expectedK),
      s"k_used ${scaled.head._3} != derived $expectedK")
    // every cluster keeps its lowest id, so survivor clusters = non-empty
    // clusters: the grown K must actually partition finer than the fixed 8
    assert(scaled.map(_._2).distinct.length > 8,
      s"only ${scaled.map(_._2).distinct.length} clusters under forced width")
    // the SemDeDup scale argument in numbers: Σ cᵢ² (the within-cluster
    // pair work) under the grown K must undercut the fixed-K=8 run's —
    // the whole point of growing K with n (VERDICT r12 #1)
    def pairWork(rows: Array[(Long, Long)]): Long =
      rows.groupBy(_._2).values.map(v => v.length.toLong * v.length).sum
    val prev = spark.conf.getOption("spark.graft.kmeans.targetWidth")
    spark.conf.set("spark.graft.kmeans.targetWidth",
      graft.SimilarityQueries.ScaledWidth.toString)
    val grownAssign =
      try graft.SimilarityQueries.queries("s90_kmeans")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      finally prev match {
        case Some(v) => spark.conf.set("spark.graft.kmeans.targetWidth", v)
        case None => spark.conf.unset("spark.graft.kmeans.targetWidth")
      }
    val fixedAssign = graft.SimilarityQueries.queries("s90_kmeans")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // measured 0.51× on this fixture; 0.7 leaves margin without letting a
    // no-op growth (ratio ~1.0) slip through
    assert(pairWork(grownAssign) * 10 <= pairWork(fixedAssign) * 7,
      s"grown-K pair work ${pairWork(grownAssign)} not well below " +
        s"fixed-K ${pairWork(fixedAssign)}")
  }

  test("t111_source_overlap: hand-computed contamination matrix incl. zero-overlap pairs") {
    import spark.implicits._
    val dir = tempDir()
    // srcA and srcB share both 8-grams (identical text); srcC is disjoint
    val txt = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    Seq((1L, txt, "en", "srcA", 0L), (2L, txt, "en", "srcB", 0L),
        (3L, "x1 x2 x3 x4 x5 x6 x7 x8", "en", "srcC", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.TextQueries.queries("t111_source_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      ("srcA", "srcB", 2L, 2L, 2L, 1.0),
      ("srcA", "srcC", 0L, 2L, 1L, 0.0),
      ("srcB", "srcC", 0L, 2L, 1L, 0.0)), s"unexpected matrix: ${rows.toSeq}")
  }

  test("s109_pagerank: mass conservation and sink-floor invariants") {
    val rows = graft.SimilarityQueries.queries("s109_pagerank")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = rows.length
    assert(n > 0 && rows.map(_._1).distinct.length == n, "one rank per vector")
    val Scale = 1000000000000L
    val base = Scale * 15L / (100L * n)
    rows.foreach { case (v, r) =>
      assert(r >= base, s"vector $v rank $r below the teleport floor $base")
    }
    // total mass: starts at ~Scale, each iteration keeps 0.15 + 0.85 of it
    // minus sub-micro floor losses (< 1 per edge per iteration)
    val total = rows.map(_._2).sum
    assert(total <= Scale && total >= (Scale * 97L) / 100L,
      s"total rank mass $total drifted outside [0.97, 1.0]·$Scale")
    assert(rows.map(_._2).distinct.length > 1, "ranks must differentiate nodes")
  }

  test("q91_hll_distinct: accuracy contract holds on every group") {
    val rows = graft.FunctionQueries.queries("q91_hll_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hll_ok"), s"HLL off by >5% for ${r.get(0)}")
      assert(r.getAs[Long]("exact_users") > 0)
    }
  }

  test("s87_ann_rerank: k results per query, exact top neighbor recovered") {
    val rerank = graft.SimilarityQueries.queries("s87_ann_rerank")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = graft.SimilarityQueries.queries("s42_ann_brute")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val queries = rerank.map(_._1).distinct
    assert(queries.length == 5)
    queries.foreach { q =>
      assert(rerank.count(_._1 == q) == 10, s"query $q did not return k=10 rows")
      val top1Rerank = rerank.find(r => r._1 == q && r._3 == 1L).get._2
      val top1Brute = brute.find(r => r._1 == q && r._3 == 1L).get._2
      assert(top1Rerank == top1Brute,
        s"query $q: rerank top-1 $top1Rerank != exact top-1 $top1Brute")
    }
  }

  test("t101_dsir: target-vocabulary docs outrank off-target docs and get selected") {
    import spark.implicits._
    val dir = tempDir()
    // src0/src1 are the target domain: give them a distinctive vocabulary;
    // off-target docs either share it (should score high) or not (low)
    val mk = (ts: Seq[String]) => ts.mkString(" ")
    Seq(
      (1L, mk(Seq.fill(30)("alpha beta gamma").flatMap(_.split(" "))), "en", "src0", 0L),
      (2L, mk(Seq.fill(30)("alpha beta delta").flatMap(_.split(" "))), "en", "src1", 0L),
      (3L, mk(Seq.fill(30)("alpha beta gamma").flatMap(_.split(" "))), "en", "src7", 0L),
      (4L, mk(Seq.fill(30)("omega sigma tau").flatMap(_.split(" "))), "en", "src8", 0L),
      (5L, mk(Seq.fill(30)("omega sigma rho").flatMap(_.split(" "))), "en", "src9", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.TextQueries.queries("t101_dsir")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("avg_logratio"), r.getAs[Boolean]("selected")))
      .toMap
    // doc3 uses exactly the target vocabulary → scores like the target docs;
    // docs 4/5 use a disjoint vocabulary → strictly lower ratio, not selected
    assert(rows(3L)._1 > rows(4L)._1 && rows(3L)._1 > rows(5L)._1,
      s"target-vocab doc must outrank off-target docs: $rows")
    assert(rows(3L)._2, "target-vocabulary doc must clear the 75th-pct cut")
    assert(!rows(4L)._2 && !rows(5L)._2, "off-target docs must not be selected")
    // selection is monotone in the score: once a doc is unselected, no
    // lower-scoring doc may be selected
    val sorted = rows.values.toSeq.sortBy(-_._1)
    assert(!sorted.sliding(2).exists {
      case Seq((_, s1), (_, s2)) => !s1 && s2; case _ => false
    }, s"selected flags must be a prefix of the score ordering: $sorted")
  }

  test("s103_hybrid_retrieval: dense fused ranks, RRF arithmetic, vector list = s42") {
    val rows = graft.SimilarityQueries.queries("s103_hybrid_retrieval")(spark, sfDir)
      .collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L), "one fused list per query id 0..4")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("fused_rank")).sorted.toSeq == (1L to 10L),
        s"query $q: fused ranks not dense 1..10")
      rs.foreach { r =>
        val lex = if (r.isNullAt(2)) None else Some(r.getLong(2))
        val vec = if (r.isNullAt(3)) None else Some(r.getLong(3))
        assert(lex.nonEmpty || vec.nonEmpty, "fused row from neither list")
        val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
        assert(r.getAs[Double]("rrf") == expect,
          s"query $q doc ${r.getLong(1)}: rrf != 1/(60+rank) sum")
      }
    }
    // the vector half must agree rank-for-rank with the s42 exact baseline
    val s42 = graft.SimilarityQueries.queries("s42_ann_brute")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.filterNot(_.isNullAt(3)).foreach { r =>
      assert(s42((r.getLong(0), r.getLong(1))) == r.getLong(3),
        s"vector rank disagrees with s42 for (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("t106_bpe_train: hand-computed merge order on a synthetic corpus") {
    import spark.implicits._
    val dir = tempDir()
    // words: "aaab"×2, "cd"×1
    //  round 1: (a,a)=4 wins → aaab = [aa, a, b]
    //  round 2: (aa,a)=2 vs (a,b)=2 vs (c,d)=1 — lexicographic tie-break
    //           picks (a,b) → aaab = [aa, ab]
    //  round 3: (aa,ab)=2 wins
    // (also exercises single-char words: "a" must yield no pairs, and the
    // left-to-right non-overlap rule: "aaa" in "aaab" merges once)
    Seq((1L, "aaab cd a", "en", "src0", 0L), (2L, "aaab a", "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = graft.TextQueries.queries("t106_bpe_train")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "a", "b", "ab", 2L),
      (3L, "aa", "ab", "aaab", 2L)), s"unexpected merge table: ${merges.toSeq}")

    // encode with the same merges: aaab→[aaab] (1 tok), cd→[c,d] (2), a→[a]
    //  doc 1 "aaab cd a": 3 words, 4 bpe tokens, 7 chars → 1.75 chars/tok
    //  doc 2 "aaab a":    2 words, 2 bpe tokens, 5 chars → 2.5
    val enc = graft.TextQueries.queries("t107_bpe_encode")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(enc.toSeq == Seq(
      (1L, 3L, 4L, 7L, 1.75),
      (2L, 2L, 2L, 5L, 2.5)), s"unexpected encoding stats: ${enc.toSeq}")
  }

  test("t102_novelty: exact copies score 0, fresh docs score 1, overlap in between") {
    import spark.implicits._
    val dir = tempDir()
    val base = (1 to 20).map(i => s"w$i").mkString(" ")        // 13 distinct 8-grams
    val fresh = (1 to 20).map(i => s"x$i").mkString(" ")
    val half = ((1 to 10).map(i => s"w$i") ++ (1 to 10).map(i => s"y$i")).mkString(" ")
    Seq((1L, base, "en", "src0", 0L), (2L, base, "en", "src1", 0L),
        (3L, fresh, "en", "src2", 0L), (4L, half, "en", "src3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.TextQueries.queries("t102_novelty")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_distinct_grams"), r.getAs[Double]("novelty")))
      .toMap
    assert(rows(1L) == (13L, 1.0), s"first doc owns all its grams: $rows")
    assert(rows(2L) == (13L, 0.0), s"exact copy must be 0-novel: $rows")
    assert(rows(3L) == (13L, 1.0), s"disjoint doc must be fully novel: $rows")
    // doc4 shares only its first 3 grams (w1..w8 … w3..w10) with doc1
    assert(rows(4L)._1 == 13L && rows(4L)._2 == 10.0 / 13.0,
      s"overlap doc must be 10/13 novel: $rows")
  }

  test("d112_dup_span_coverage: interval merge on hand-built overlap cases") {
    import spark.implicits._
    val dir = tempDir()
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val fresh = (1 to 20).map(i => s"x$i").mkString(" ")
    // shares w1..w10 with doc1 → dup 8-gram starts {1,2,3}, merged
    // interval [1,10] → 10 covered tokens of 20
    val half = ((1 to 10).map(i => s"w$i") ++ (1 to 10).map(i => s"z$i")).mkString(" ")
    val short = "s1 s2 s3"                                     // < 8 tokens, no grams
    Seq((1L, base, "en", "src0", 0L), (2L, base, "en", "src1", 0L),
        (3L, fresh, "en", "src2", 0L), (4L, half, "en", "src3", 0L),
        (5L, short, "en", "src4", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.DedupQueries.queries("d112_dup_span_coverage")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"),
        r.getAs[Long]("covered_tokens"), r.getAs[Double]("dup_span_frac")))
      .toMap
    assert(rows(1L) == (13L, 13L, 20L, 1.0), s"verbatim copy covers everything: $rows")
    assert(rows(2L) == (13L, 13L, 20L, 1.0), s"other copy covers everything: $rows")
    assert(rows(3L) == (13L, 0L, 0L, 0.0), s"disjoint doc has no coverage: $rows")
    assert(rows(4L) == (13L, 3L, 10L, 0.5),
      s"overlapping starts must merge to one 10-token interval: $rows")
    assert(rows(5L) == (0L, 0L, 0L, 0.0), s"sub-gram doc has zero grams: $rows")
  }

  test("t113_quality_classifier: feature count, score bounds, determinism") {
    val rows = graft.TextQueries.queries("t113_quality_classifier")(spark, sfDir)
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (nf, ss, score, keep) = (r.getAs[Long]("n_feats"), r.getAs[Long]("score_sum"),
        r.getAs[Double]("score"), r.getAs[Boolean]("keep"))
      assert(score >= -1.0 && score <= 1.0, s"score out of [-1,1]: $score")
      assert(keep == (ss > 0), "keep flag disagrees with its own sum")
      assert(math.abs(score - ss.toDouble / (nf * 32768.0)) < 1e-12)
    }
    // identical text ⇒ identical score (pure function of content)
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "alpha beta gamma", "en", "s", 0L), (2L, "alpha beta gamma", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val two = graft.TextQueries.queries("t113_quality_classifier")(spark, dir).collect()
    assert(two.length == 2 && two(0).getAs[Long]("score_sum") == two(1).getAs[Long]("score_sum"))
    // 3 tokens → 3 unigrams + 2 bigrams
    assert(two(0).getAs[Long]("n_feats") == 5L)
  }

  test("t114_bigram_logprob: formulaic text outranks novel text") {
    import spark.implicits._
    val dir = tempDir()
    // doc1 repeats one bigram; doc2 is all unique bigrams over the same corpus
    val formulaic = Seq.fill(15)("p q").mkString(" ")
    val novel = (1 to 30).map(i => s"u$i").mkString(" ")
    Seq((1L, formulaic, "en", "s", 0L), (2L, novel, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.TextQueries.queries("t114_bigram_logprob")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob")))
      .toMap
    assert(m(1L)._1 == 29L && m(2L)._1 == 29L)
    assert(m(1L)._2 > m(2L)._2,
      s"repeated bigrams must be more probable than unique ones: $m")
    // probabilities are < 1, so the mean log must be negative
    m.values.foreach { case (_, lp) => assert(lp < 0.0) }
  }

  test("t115_mixture_temperature: sqrt flattening boosts small sources") {
    import spark.implicits._
    val dir = tempDir()
    // small = 100 tokens, big = 400 → sqrt weights 1:2, naive share 1:4
    val small = (1 to 100).map(_ => "s").mkString(" ")
    val big = (1 to 400).map(_ => "b").mkString(" ")
    Seq((1L, small, "en", "srcS", 0L), (2L, big, "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.TextQueries.queries("t115_mixture_temperature")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("sample_prob"),
          r.getAs[Long]("target_tokens"), r.getAs[Double]("epochs"))).toMap
    assert(rows("srcS")._1 == 100L && rows("srcB")._1 == 400L)
    assert(math.abs(rows("srcS")._2 - 1.0 / 3.0) < 1e-4, s"sqrt share: $rows")
    assert(math.abs(rows("srcB")._2 - 2.0 / 3.0) < 1e-4, s"sqrt share: $rows")
    // budget = 250 tokens → 83 / 166 target split
    assert(rows("srcS")._3 + rows("srcB")._3 <= 250L)
    // the small source is UP-sampled relative to the big one
    assert(rows("srcS")._4 > rows("srcB")._4,
      s"temperature sampling must boost the small source: $rows")
  }

  test("s116_knn_classify: vote recomputed from the s94 graph matches") {
    val graph = graft.SimilarityQueries.queries("s94_knn_graph")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")))
    val labels = graft.Tables.embeddings(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    val expected = graph.groupBy(_._1).map { case (v, edges) =>
      val counts = edges.map(e => labels(e._2)).groupBy(identity)
        .map { case (l, xs) => (l, xs.length.toLong) }
      val (bl, bc) = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head
      v -> (bl, bc)
    }
    val got = graft.SimilarityQueries.queries("s116_knn_classify")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("predicted_label"), r.getAs[Long]("votes"))).toMap
    assert(got.size == 500, "one prediction per vector")
    assert(got == expected, "vote must equal the recomputed majority over s94's edges")
    got.values.foreach { case (_, v) => assert(v >= 1L && v <= 5L) }
  }

  test("d118_split_leakage: leaked val doc flagged, clean test doc not") {
    import spark.implicits._
    val dir = tempDir()
    // t69 buckets: doc 1 → train, doc 5 → val, doc 3 → test
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")
    val fresh = (1 to 20).map(i => s"x$i").mkString(" ")
    Seq((1L, shared, "en", "s", 0L),   // train
        (5L, shared, "en", "s", 0L),   // val — verbatim copy of train
        (3L, fresh, "en", "s", 0L))    // test — disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.DedupQueries.queries("d118_split_leakage")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Long]("n_distinct_grams"),
        r.getAs[Long]("n_leaked"), r.getAs[Boolean]("contaminated"))).toMap
    assert(!rows.contains(1L), "train docs are not scored")
    assert(rows(5L) == (("val", 13L, 13L, true)), s"val copy fully leaked: $rows")
    assert(rows(3L) == (("test", 13L, 0L, false)), s"disjoint test doc clean: $rows")
  }

  test("t121_token_entropy: uniform doc scores 0, all-distinct doc scores ln(n)") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, Seq.fill(16)("same").mkString(" "), "en", "s", 0L),
        (2L, (1 to 16).map(i => s"w$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.TextQueries.queries("t121_token_entropy")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_types"), r.getAs[Double]("entropy"),
        r.getAs[Double]("norm_entropy"), r.getAs[Double]("ttr"))).toMap
    assert(m(1L) == ((1L, -0.0, 0.0, 1.0 / 16.0)) || m(1L) == ((1L, 0.0, 0.0, 1.0 / 16.0)),
      s"uniform doc must have zero entropy: $m")
    assert(m(2L)._1 == 16L && math.abs(m(2L)._2 - math.log(16.0)) < 1e-5,
      s"all-distinct doc entropy must be ln(16): $m")
    assert(math.abs(m(2L)._3 - 1.0) < 1e-9, s"normalized entropy at ceiling: $m")
  }

  test("d122_dedup_report: per-source rates from a cross-source duplicate") {
    import spark.implicits._
    val dir = tempDir()
    val same = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"x$i").mkString(" ")
    Seq((1L, same, "en", "srcA", 0L),
        (2L, same, "en", "srcB", 0L),     // near-dup of doc1, dropped by keep-first
        (3L, other, "en", "srcB", 0L))    // unique
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.DedupQueries.invalidateCaches(spark, dir)
    try {
      val rows = graft.DedupQueries.queries("d122_dedup_report")(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_near_dup_docs"), r.getAs[Long]("n_dropped_keep_first"),
          r.getAs[Long]("n_clusters"), r.getAs[Double]("drop_rate"))).toMap
      assert(rows("srcA") == ((1L, 1L, 0L, 1L, 0.0)), s"canonical stays: $rows")
      assert(rows("srcB") == ((2L, 1L, 1L, 1L, 0.5)), s"copy dropped: $rows")
    } finally graft.DedupQueries.invalidateCaches(spark, dir)
  }

  test("s123_ann_recall_eval: per-vector recall matches the s94/s96 edge sets") {
    // the eval samples queries at vec_id % 5 == 0 (the recall protocol)
    val exact = graft.SimilarityQueries.queries("s94_knn_graph")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")))
      .filter(_._1 % 5 == 0).toSet
    val lsh = graft.SimilarityQueries.queries("s96_knn_graph_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val rows = graft.SimilarityQueries.queries("s123_ann_recall_eval")(spark, sfDir)
      .collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getLong(0) % 5 == 0), "only sampled queries appear")
    rows.foreach { r =>
      val (v, k, hits, rec) = (r.getLong(0), r.getAs[Long]("k"),
        r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k"))
      assert(k == 5L)
      val expected = exact.filter(_._1 == v).count(lsh.contains)
      assert(hits == expected.toLong, s"vector $v: $hits hits, expected $expected")
      assert(math.abs(rec - hits / 5.0) < 1e-12)
    }
    val mean = rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length
    info(f"mean LSH recall@5 over the corpus: $mean%.3f")
    assert(mean >= 0.5, s"aggregate recall $mean collapsed")
  }

  test("t124_oov_rate: rare tokens counted, frequent tokens pass") {
    import spark.implicits._
    val dir = tempDir()
    // "common" appears 10 times corpus-wide (>= 5); rare tokens once each
    Seq((1L, Seq.fill(5)("common").mkString(" "), "en", "s", 0L),
        (2L, Seq.fill(5)("common").mkString(" ") + " rare1 rare2 rare3 rare4 rare5",
          "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.TextQueries.queries("t124_oov_rate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_oov"), r.getAs[Double]("oov_rate"),
        r.getAs[Boolean]("high_oov"))).toMap
    assert(m(1L) == ((0L, 0.0, false)), s"all-frequent doc is clean: $m")
    assert(m(2L) == ((5L, 0.5, true)), s"half-rare doc flags high OOV: $m")
  }

  test("d129_semantic_decontamination: one row per corpus vector, flags consistent") {
    val total = graft.Tables.embeddings(spark, sfDir).count()
    val evalN = graft.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 29 === 0).count()
    val rows = graft.DedupQueries.queries("d129_semantic_decontamination")(spark, sfDir)
      .collect()
    assert(rows.length == total - evalN, "every non-eval vector scored exactly once")
    rows.foreach { r =>
      assert(r.getLong(0) % 29 != 0, "eval vectors must not be scored")
      assert(r.getAs[Long]("nearest_eval_id") % 29 == 0,
        "nearest neighbor must come from the eval slice")
      assert(r.getAs[Boolean]("contaminated") == (r.getAs[Double]("max_cosine") >= 0.4))
    }
  }

  test("d128_lsh_design_curve: full sample coverage, theory matches closed form") {
    // mirror the query's bounded design sample (% 7 under the fixed
    // id cap — invisible at this SF, binding at production scale)
    val sampleN = graft.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0 &&
        org.apache.spark.sql.functions.col("doc_id") < 2100).count()
    val rows = graft.DedupQueries.queries("d128_lsh_design_curve")(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == sampleN * (sampleN - 1) / 2,
      "every sampled pair lands in exactly one decile")
    rows.foreach { r =>
      val (dec, np, nc, frac, theory) = (r.getLong(0), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_candidates"), r.getAs[Double]("candidate_frac"),
        r.getAs[Double]("theory_p"))
      assert(nc <= np && frac >= 0.0 && frac <= 1.0)
      val s = (dec + 0.5) / 10.0
      val expected = 1.0 - math.pow(1.0 - math.pow(s, 4.0), 12.0)
      assert(math.abs(theory - expected) < 1e-6,
        s"decile $dec theory $theory != closed form $expected")
    }
    // the curve must actually rise when more than one decile is
    // populated (at sf0.001 the 1-in-7 sample may catch no near-dup
    // pair, leaving only decile 0)
    val sorted = rows.sortBy(_.getLong(0))
    if (sorted.length > 1) {
      assert(sorted.last.getAs[Double]("theory_p") > sorted.head.getAs[Double]("theory_p"))
    }
  }

  test("t127_shuffle_shards: total cover, dense per-shard positions, stable") {
    val rows = graft.TextQueries.queries("t127_shuffle_shards")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"), r.getAs[Long]("pos_in_shard")))
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500,
      "every doc assigned exactly once")
    rows.foreach { case (_, sh, _) => assert(sh >= 0 && sh < 16) }
    // positions within each shard are dense 0..n-1 (a pack-ready layout)
    rows.groupBy(_._2).foreach { case (sh, g) =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq,
        s"shard $sh positions not dense")
    }
    // determinism: a second run is identical
    val again = graft.TextQueries.queries("t127_shuffle_shards")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"), r.getAs[Long]("pos_in_shard")))
    assert(rows.toSeq == again.toSeq, "shuffle must be a pure function of (doc_id, salt)")
  }

  test("m120_media_dedup: byte-identical payloads collapse to the first copy") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "same payload", "en", "s", 0L), (4L, "same payload", "en", "s", 0L),
        (2L, "unique payload", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.MultimodalQueries.queries("m120_media_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dup_count"), r.getAs[Long]("canonical_id"),
          r.getAs[Boolean]("is_canonical"))).toMap
    assert(rows(1L) == ((2L, 1L, true)), s"first copy canonical: $rows")
    assert(rows(4L) == ((2L, 1L, false)), s"replay not canonical: $rows")
    assert(rows(2L) == ((1L, 2L, true)), s"unique payload canonical: $rows")
  }

  test("s117_mutual_knn: exactly the reciprocal s94 edges, a < b") {
    val edges = graft.SimilarityQueries.queries("s94_knn_graph")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val expected = edges.filter { case (a, b) => a < b && edges.contains((b, a)) }
    val got = graft.SimilarityQueries.queries("s117_mutual_knn")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, b) => a < b }, "pairs must be ordered a < b")
    assert(got.toSet == expected, "mutual pairs must match the reciprocal edge set")
    assert(got.length == got.distinct.length, "no duplicate pairs")
  }

  test("t144_line_dedup: boilerplate keeps only its first occurrence; reconstruction preserves order") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter"
    val dir = tempDir()
    Seq(
      (1L, s"first article body. $boiler. more first content"),
      (2L, s"$boiler. second article body"),
      (3L, "third article body. unique closing line"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.TextQueries.queries("t144_line_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 owns the boilerplate's first occurrence (lowest doc_id)
    assert(out(1L) == ((3L, 3L,
      s"first article body $boiler more first content")))
    // doc 2 loses it but keeps its own sentence, in original order
    assert(out(2L) == ((2L, 1L, "second article body")))
    assert(out(3L) == ((2L, 2L, "third article body unique closing line")))
    // corpus-level invariants: kept <= total, each distinct sentence kept once
    val real = graft.TextQueries.queries("t144_line_dedup")(spark, sfDir).collect()
    assert(real.forall(r => r.getLong(2) <= r.getLong(1)))
  }
}
