package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contract for d138_substring_dedup (ExactSubstr, Lee et al.
  * 2022 shape) beyond its DuckDB hash gate: an UNALIGNED 60-token copy —
  * invisible to d86's fixed 30-token chunk grid — is recovered as one
  * maximal span with exact boundaries, and a 49-token copy (below the
  * 50-token guarantee threshold) is not reported.
  */
class ExactSubstrSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("unaligned 60-token copy: caught by d138 with exact boundaries, missed by d86") {
    // doc 1: 200 globally unique tokens a1..a200
    // doc 2: 100 filler tokens b1..b100, then a COPY of doc 1's tokens
    //        31..90 (60 tokens), then 40 trailing filler c1..c40.
    //        Copy offset 101-31 = 70 is NOT a multiple of 30, so no
    //        30-token chunk of doc 2 equals any chunk of doc 1.
    val a = (1 to 200).map(i => s"a$i")
    val doc2 = (1 to 100).map(i => s"b$i") ++ a.slice(30, 90) ++ (1 to 40).map(i => s"c$i")
    val dir = writeDocs(Seq(1L -> a.mkString(" "), 2L -> doc2.mkString(" ")))

    val spans = graft.DedupQueries.queries("d138_substring_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.toSeq == Seq((1L, 2L, 31L, 101L, 60L)),
      s"expected exactly the (31,101,60) span, got ${spans.toSeq}")

    // d86 sees zero duplicated chunks on the same corpus
    val d86 = graft.DedupQueries.queries("d86_chunk_dedup")(spark, dir).collect()
    assert(d86.forall(_.getAs[Long]("n_copies") == 1L),
      "d86's aligned chunk grid must miss the unaligned copy entirely")
  }

  test("49-token copy stays below the reporting threshold") {
    val a = (1 to 120).map(i => s"x$i")
    val doc2 = (1 to 57).map(i => s"y$i") ++ a.slice(10, 59) // 49 tokens copied
    val dir = writeDocs(Seq(1L -> a.mkString(" "), 2L -> doc2.mkString(" ")))
    val n = graft.DedupQueries.queries("d138_substring_dedup")(spark, dir).count()
    assert(n == 0L, s"49-token span must not be reported, got $n rows")
  }

  test("two distinct shared spans at different offsets are both maximal") {
    // doc 3 embeds doc 1's tokens 1..60 at position 11 and 101..155 (55
    // tokens) at position 81 — different alignment offsets, one row each.
    val a = (1 to 200).map(i => s"p$i")
    val doc3 = (1 to 10).map(i => s"q$i") ++ a.slice(0, 60) ++
      (1 to 10).map(i => s"r$i") ++ a.slice(100, 155) ++ (1 to 10).map(i => s"s$i")
    val dir = writeDocs(Seq(1L -> a.mkString(" "), 3L -> doc3.mkString(" ")))
    val spans = graft.DedupQueries.queries("d138_substring_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._3, t._4))
    assert(spans.toSeq == Seq((1L, 3L, 1L, 11L, 60L), (1L, 3L, 101L, 81L, 55L)),
      s"expected the (1,11,60) and (101,81,55) spans, got ${spans.toSeq}")
  }
}
