package graft.operators

import graft.SparkSpec

/** Behavioral contract for t146_weighted_sample (Efraimidis–Spirakis A-ES)
  * beyond its DuckDB hash gate: the full selection is recomputed HERE from
  * first principles (JDK MessageDigest md5 → exact uniform → key → sort) as
  * a third independent implementation, the weight bias is visible on a
  * skewed corpus (every heavy doc drawn, sample mean weight far above the
  * corpus mean), and k ≥ n degenerates to a full ranking.
  */
class WeightedSampleSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.map { case (id, w) => (id, s"doc $id", w) }
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The operator's key formula, re-derived independently of both Spark
    * and DuckDB. */
  private def key(docId: Long, w: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$docId|es".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 13), 16)
    math.pow((h + 0.5) / 4503599627370496.0, 1.0 / w)
  }

  test("selection matches an independent Scala recompute; heavy docs dominate") {
    // 140 weight-1 docs + 10 weight-10000 docs, k = 100
    val rows = (1L to 140L).map(i => i -> 1L) ++ (141L to 150L).map(i => i -> 10000L)
    val dir = writeDocs(rows)
    val got = graft.TextQueries.queries("t146_weighted_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3))) // (doc_id, sample_rank)
    val expected = rows.map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => (id, (i + 1).toLong) }
    assert(got.toSeq == expected.toSeq,
      s"A-ES selection diverged from the independent recompute")
    val heavy = got.map(_._1).filter(_ > 140L)
    assert(heavy.length == 10, s"all 10 heavy docs must be drawn, got ${heavy.length}")
  }

  test("k >= n degenerates to a full ranking") {
    val dir = writeDocs((1L to 40L).map(i => i -> (i % 7 + 1)))
    val got = graft.TextQueries.queries("t146_weighted_sample")(spark, dir).collect()
    assert(got.length == 40)
    assert(got.map(_.getLong(3)).toSeq == (1L to 40L).toSeq, "dense ranks 1..n")
  }
}
