package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants for the round-6 corpus operators over
  * RANDOMIZED micro-corpora (fixed scalacheck seeds): span coverage is
  * bounded by and consistent with dup-gram counts, classifier features
  * and bounds hold for any text, entropy respects its ceiling, OOV
  * counts and split-leakage counts never exceed their denominators, and
  * media dedup always keeps exactly one canonical copy per digest. These
  * complement the hand-built fixtures with adversarial shapes (singleton
  * docs, repeated tokens, sub-gram docs) a fixed fixture misses.
  */
class CorpusPropertySpec extends SparkSpec {
  import spark.implicits._

  // small alphabet forces cross-doc gram/token collisions; lengths span
  // the sub-gram (<8 tokens) edge
  private val corpusGen: Gen[List[(Long, String)]] = for {
    nDocs <- Gen.choose(3, 12)
    docs <- Gen.listOfN(nDocs, for {
      len <- Gen.choose(1, 40)
      toks <- Gen.listOfN(len, Gen.oneOf((1 to 12).map(i => s"w$i")))
    } yield toks.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }

  private def corpora(n: Int): Seq[List[(Long, String)]] =
    (1 to n).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default.withSize(30), Seed(i.toLong)))

  private def stage(rows: List[(Long, String)]): String = {
    val dir = tempDir()
    rows.map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d112: coverage bounded by n_tokens, consistent with dup-gram count") {
    corpora(4).foreach { rows =>
      val dir = stage(rows)
      graft.DedupQueries.queries("d112_dup_span_coverage")(spark, dir)
        .collect().foreach { r =>
          val (n, ng, nd, cov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_grams"),
            r.getAs[Long]("n_dup_grams"), r.getAs[Long]("covered_tokens"))
          assert(cov >= 0 && cov <= n, s"coverage $cov outside [0, $n]")
          assert(nd <= ng, s"dup grams $nd exceed total grams $ng")
          assert((cov == 0) == (nd == 0), "coverage and dup count must agree on zero")
          if (nd > 0) assert(cov >= 8, "any dup gram covers at least one full window")
        }
    }
  }

  test("t113: feature count is 2n-1, score bounded, flag consistent") {
    corpora(4).foreach { rows =>
      val dir = stage(rows)
      val byDoc = graft.TextQueries.queries("t113_quality_classifier")(spark, dir)
        .collect().map(r => r.getLong(0) -> r).toMap
      rows.foreach { case (id, text) =>
        val n = text.split("\\s+").length.toLong
        val r = byDoc(id)
        assert(r.getAs[Long]("n_feats") == 2 * n - 1,
          s"doc $id: ${r.getAs[Long]("n_feats")} feats for $n tokens")
        val score = r.getAs[Double]("score")
        assert(score >= -1.0 && score <= 1.0)
        assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("score_sum") > 0))
      }
    }
  }

  test("t121: entropy within [0, ln(n_types)], ttr within (0, 1]") {
    corpora(4).foreach { rows =>
      val dir = stage(rows)
      graft.TextQueries.queries("t121_token_entropy")(spark, dir)
        .collect().foreach { r =>
          val (types, h, nh, ttr) = (r.getAs[Long]("n_types"), r.getAs[Double]("entropy"),
            r.getAs[Double]("norm_entropy"), r.getAs[Double]("ttr"))
          assert(h >= -1e-9 && h <= math.log(types.toDouble) + 1e-6,
            s"entropy $h outside [0, ln($types)]")
          assert(nh >= -1e-9 && nh <= 1.0 + 1e-6, s"normalized entropy $nh outside [0,1]")
          assert(ttr > 0.0 && ttr <= 1.0)
        }
    }
  }

  test("t124/d118: counters never exceed denominators; train docs unreported") {
    corpora(4).foreach { rows =>
      val dir = stage(rows)
      graft.TextQueries.queries("t124_oov_rate")(spark, dir).collect().foreach { r =>
        assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
        assert(r.getAs[Boolean]("high_oov") == (r.getAs[Double]("oov_rate") > 0.2))
      }
      val leak = graft.DedupQueries.queries("d118_split_leakage")(spark, dir).collect()
      leak.foreach { r =>
        assert(r.getAs[Long]("n_leaked") <= r.getAs[Long]("n_distinct_grams"))
        assert(r.getString(1) != "train", "train docs must not be scored")
      }
    }
  }

  test("m120: exactly one canonical per digest, dup_count consistent") {
    corpora(4).foreach { rows =>
      val dir = stage(rows)
      val out = graft.MultimodalQueries.queries("m120_media_dedup")(spark, dir)
        .collect().map(r => (r.getString(2), r.getLong(0),
          r.getAs[Long]("dup_count"), r.getAs[Boolean]("is_canonical")))
      out.groupBy(_._1).foreach { case (sha, g) =>
        assert(g.count(_._4) == 1, s"digest $sha has ${g.count(_._4)} canonicals")
        assert(g.forall(_._3 == g.length.toLong), s"dup_count mismatch for $sha")
        val canonical = g.filter(_._4).head._2
        assert(canonical == g.map(_._2).min, "canonical must be the lowest doc_id")
      }
    }
  }

  // ---- d145/d152: PassJoin losslessness against brute force ----------

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  private def key6(text: String): String =
    text.trim.split("\\s+").take(6).mkString(" ").toLowerCase

  /** Random corpora where some docs are CHARACTER-mutated copies of
    * others (the adversarial regime for segment blocking: edits at
    * arbitrary positions, including segment boundaries). */
  private def mutatedCorpora(n: Int): Seq[List[(Long, String)]] =
    corpora(n).zipWithIndex.map { case (rows, ci) =>
      val rnd = new scala.util.Random(1000 + ci)
      val mutants = rows.filter(_ => rnd.nextBoolean()).take(4).map { case (id, t) =>
        val chars = t.toCharArray
        val nEdits = 1 + rnd.nextInt(3) // 1..3 edits: straddles the k=2 gate
        (0 until nEdits).foreach { _ =>
          if (chars.nonEmpty) {
            val p = rnd.nextInt(math.min(chars.length, 30))
            chars(p) = ('a' + rnd.nextInt(26)).toChar
          }
        }
        (id + 1000L, new String(chars))
      }
      rows ++ mutants
    }

  test("d145: PassJoin pair set EQUALS brute-force levenshtein on mutated corpora") {
    mutatedCorpora(5).foreach { rows =>
      val dir = stage(rows)
      val keys = rows.map { case (id, t) => id -> key6(t) }
        .filter(_._2.length >= 3)
      val expected = (for {
        (i1, k1) <- keys; (i2, k2) <- keys
        if i1 < i2 && math.abs(k1.length - k2.length) <= 2
        d = lev(k1, k2) if d <= 2
      } yield (i1, i2, d.toLong)).toSet
      val got = graft.DedupQueries.queries("d145_edit_distance")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"blocking lost or invented pairs:\n missing=${expected -- got}\n extra=${got -- expected}")
    }
  }

  test("d152: keeper is the component-min of the brute-force pair graph") {
    mutatedCorpora(3).foreach { rows =>
      val dir = stage(rows)
      val keys = rows.map { case (id, t) => id -> key6(t) }.filter(_._2.length >= 3)
      val pairs = for {
        (i1, k1) <- keys; (i2, k2) <- keys
        if i1 < i2 && math.abs(k1.length - k2.length) <= 2 && lev(k1, k2) <= 2
      } yield (i1, i2)
      // brute-force components
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = rows.map(_._1).map(id => id -> find(id)).toMap
      val got = graft.DedupQueries.queries("d152_fuzzy_keep_first")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"keeper map diverged: ${got.toSet -- expected.toSet}")
    }
  }

  test("t155: growth curve is monotone and lands on the exact corpus totals") {
    corpora(4).foreach { rows =>
      val dir = stage(rows)
      val out = graft.TextQueries.queries("t155_vocab_growth")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val allToks = rows.flatMap(_._2.trim.split("\\s+"))
      assert(out.map(_._4).toSeq == out.map(_._4).sorted.toSeq, "cum_tokens monotone")
      assert(out.map(_._5).toSeq == out.map(_._5).sorted.toSeq, "cum_vocab monotone")
      out.foreach { case (_, _, _, ct, cv) =>
        assert(cv <= ct, s"vocab $cv cannot exceed instances $ct") }
      assert(out.last._4 == allToks.length.toLong, "total instances")
      assert(out.last._5 == allToks.distinct.length.toLong, "total vocabulary")
      assert(out.map(_._2).sum == allToks.length.toLong, "bucket partition covers corpus")
    }
  }
}
