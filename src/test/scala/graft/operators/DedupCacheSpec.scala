package graft.operators

import graft.SparkSpec

/** Cache-lifecycle contract for DedupQueries' per-(application, directory)
  * state (ADVICE r3): the shared shingle frame and the embedding tier-gate
  * count are cached for the application's lifetime, so an in-application
  * REWRITE of a data directory must be followed by
  * [[graft.DedupQueries.invalidateCaches]] — after which queries serve the
  * new corpus, not the stale cache.
  */
class DedupCacheSpec extends SparkSpec {
  import spark.implicits._

  test("invalidateCaches: a rewritten directory serves fresh shingles and embeddings") {
    val dir = tempDir()

    def writeCorpus(docs: Seq[(Long, String)], nVecs: Int): Unit = {
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (0 until nVecs).map(i => (i.toLong, Array.fill(8)(0.5f)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    // corpus 1: one identical doc pair, 3 identical vectors
    writeCorpus(Seq((1L, "a b c d e f"), (2L, "a b c d e f")), 3)
    val jac1 = graft.DedupQueries.queries("d38_dedup_jaccard")(spark, dir).collect()
    assert(jac1.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val emb1 = graft.DedupQueries.queries("d41_dedup_embedding")(spark, dir).count()
    assert(emb1 == 3) // C(3,2) identical vectors, all cosine 1.0

    // rewrite the SAME directory with a disjoint corpus, then invalidate
    writeCorpus(Seq((10L, "x y z w v u"), (11L, "x y z w v u"),
      (12L, "p q r s t m")), 5)
    graft.DedupQueries.invalidateCaches(spark, dir)

    val jac2 = graft.DedupQueries.queries("d38_dedup_jaccard")(spark, dir).collect()
    assert(jac2.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 11L)),
      "stale shingle frame served after invalidateCaches")
    val emb2 = graft.DedupQueries.queries("d41_dedup_embedding")(spark, dir).count()
    assert(emb2 == 10, "stale embedding state served after invalidateCaches")
  }
}
