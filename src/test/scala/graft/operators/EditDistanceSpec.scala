package graft.operators

import graft.SparkSpec

/** Behavioral contract for d145_edit_distance (PassJoin blocking + exact
  * levenshtein verify) beyond its DuckDB hash gate: edits that fall INSIDE
  * tokens — invisible to every word-shingle gate — are caught at ed ≤ 2,
  * the ed = 3 neighbor is rejected, and a single leading INSERTION (which
  * shifts every segment's position by one) is still caught, exercising the
  * position-shift tolerance of the segment probe.
  */
class EditDistanceSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // the key is the lowercased first-6-token prefix; trailing tokens differ
  // so whole-document equality never helps
  private val base = "alpha bravo charlie delta echo foxtrot trail one"

  test("in-token typos at ed 1 and 2 are caught; ed 3 is rejected") {
    val dir = writeDocs(Seq(
      1L -> base,
      2L -> "alpha bravo charlee delta echo foxtrot trail two", // 1 sub
      3L -> "alpha brevo charlee delta echo foxtrot trail three", // 2 subs
      4L -> "alpha brevo charlee delta echo foxtrots trail four", // 3 edits
      5L -> "completely different words here now okay trail five"))
    val rows = graft.DedupQueries.queries("d145_edit_distance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 4L, 1L), (2L, 4L, 2L)),
      s"unexpected pair set: $rows")
  }

  test("a leading insertion shifts every segment yet is still caught") {
    // doc 7 inserts one char at position 0: every segment of doc 6's key
    // appears in doc 7 shifted by +1 — only the probe's ±k position
    // window can recover the candidate.
    val dir = writeDocs(Seq(
      6L -> base,
      7L -> "xalpha bravo charlie delta echo foxtrot trail seven"))
    val rows = graft.DedupQueries.queries("d145_edit_distance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((6L, 7L, 1L)), s"expected the shifted ed-1 pair, got ${rows.toSeq}")
  }

  test("length difference beyond k excludes the pair before any verify") {
    // same first tokens but 4 extra chars inside the 6-token prefix
    val dir = writeDocs(Seq(
      8L -> base,
      9L -> "alphaabcd bravo charlie delta echo foxtrot trail nine"))
    val n = graft.DedupQueries.queries("d145_edit_distance")(spark, dir).count()
    assert(n == 0L, s"length-gap pair must not surface, got $n rows")
  }

  test("d152: keep-first collapses A~B~C chains even when ed(A,C) > 2") {
    // 1~2 at ed 2, 2~3 at ed 2, but ed(1,3) = 4 — only transitive
    // closure groups all three; doc 4 is isolated and keeps itself
    val dir = writeDocs(Seq(
      1L -> "alpha bravo charlie delta echo foxtrot t one",
      2L -> "alphx bravy charlie delta echo foxtrot t two",
      3L -> "alphx bravy charlze delta echv foxtrot t three",
      4L -> "utterly unrelated words occupy this prefix t four"))
    val out = graft.DedupQueries.queries("d152_fuzzy_keep_first")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 4L, true)),
      s"chain must collapse to doc 1: $out")
  }
}
