package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** String-column data-skipping contract ([[SnapshotTable
  * .readRangeString]] / [[SnapshotTable.readPrefix]] over `s:`-marked
  * URL-encoded stats lines): pruning is exact under hostile values
  * ('|' — the manifest line delimiter — newlines, '%', unicode),
  * byte-order-correct for supplementary-plane strings, conservative
  * for stat-less files and for the numeric view, and composes with
  * deletion vectors and OPTIMIZE like every other read path.
  */
class StringSkippingSpec extends SparkSpec {

  test("range and prefix reads prune per-chunk on ordered string ingest " +
      "and stay exact; stat-less files scan conservatively") {
    import spark.implicits._
    val dir = tempDir("t")
    def chunk(lo: Int, hi: Int) = (lo until hi)
      .map(k => (f"2024-${k / 28 + 1}%02d-${k % 28 + 1}%02d", k.toLong, k % 2))
      .toDF("day", "v", "p")
    SnapshotTable.write(spark, dir, chunk(0, 84), "p") // v1: Jan-Mar, no stats
    SnapshotTable.setStatsColumns(spark, dir, Seq("day")) // v2
    SnapshotTable.append(spark, dir, chunk(84, 168), "p") // v3: Apr-Jun
    SnapshotTable.append(spark, dir, chunk(168, 252), "p") // v4: Jul-Sep
    // stat-less v1 files + pruned later chunks: a Feb window keeps all
    // v1 files (conservative) and skips every covered non-Feb file
    val strCov = SnapshotTable.fileStatsStr(spark, dir, "day").keySet
    val (feb, kF, tF) = SnapshotTable.readRangeString(spark, dir, "day",
      "2024-02-01", "2024-02-28")
    assert(kF < tF && feb.count() == 28L)
    SnapshotTable.analyzeStats(spark, dir, "day") // v5: backfill
    assert(SnapshotTable.fileStatsStr(spark, dir, "day").keySet
      .size > strCov.size)
    val (may, kM, tM) = SnapshotTable.readRangeString(spark, dir, "day",
      "2024-05-01", "2024-05-28")
    assert(kM * 2 <= tM, s"May window must prune: kept $kM/$tM")
    assert(may.count() == 28L)
    val (aug, kA, tA) = SnapshotTable.readPrefix(spark, dir, "day", "2024-08")
    assert(kA * 2 <= tA && aug.count() == 28L)
    // numeric view of a string column: conservative, never wrong
    val (_, kN, tN) = SnapshotTable.readRange(spark, dir, "day", 0L, 9L)
    assert(kN == tN)
  }

  test("hostile values round-trip: '|', newline, '%', and unicode in " +
      "stats never corrupt the manifest or mis-prune") {
    import spark.implicits._
    val dir = tempDir("t")
    val vals = Seq("a|b", "a\nb", "100%", "zz~", "épée", "早晨", "  lead")
    SnapshotTable.write(spark, dir,
      vals.zipWithIndex.map { case (s, i) => (s, i.toLong, 0) }
        .toDF("k", "v", "p"), "p") // v1
    SnapshotTable.setStatsColumns(spark, dir, Seq("k")) // v2
    SnapshotTable.analyzeStats(spark, dir, "k") // v3
    val stats = SnapshotTable.fileStatsStr(spark, dir, "k")
    assert(stats.nonEmpty, "string stats must exist after ANALYZE")
    // the committed min really is the binary-least hostile value
    assert(stats.values.map(_._1).min == "  lead")
    // exact reads straddling the hostile values
    val (df, _, _) = SnapshotTable.readRangeString(spark, dir, "k",
      "a", "b")
    assert(df.select("k").collect().map(_.getString(0)).toSet ==
      Set("a|b", "a\nb"))
    val (pf, _, _) = SnapshotTable.readPrefix(spark, dir, "k", "100")
    assert(pf.count() == 1L)
    // a later append still parses the carried hostile-value lines
    SnapshotTable.append(spark, dir,
      Seq(("mmm", 9L, 0)).toDF("k", "v", "p"), "p") // v4
    assert(SnapshotTable.read(spark, dir).count() == 8L)
  }

  test("byte-order correctness: supplementary-plane continuations are " +
      "never wrongly excluded by a prefix read, and pruning bounds use " +
      "Spark's UTF-8 order") {
    import spark.implicits._
    val dir = tempDir("t")
    // "p𐀀" (U+10000) is ABOVE "p￿" in UTF-8 byte order
    // but BELOW it in Java's UTF-16 code-unit order — the classic
    // disagreement; a between(prefix, prefix + "￿")-style scheme
    // would drop it
    val supp = "p" + new String(Character.toChars(0x10000))
    SnapshotTable.write(spark, dir,
      Seq(("p", 1L, 0), (supp, 2L, 0), ("p￿", 3L, 0), ("q", 4L, 0))
        .toDF("k", "v", "p"), "p")
    SnapshotTable.setStatsColumns(spark, dir, Seq("k"))
    SnapshotTable.analyzeStats(spark, dir, "k")
    val (pf, _, _) = SnapshotTable.readPrefix(spark, dir, "k", "p")
    assert(pf.count() == 3L,
      "every p-prefixed row must survive, incl. the U+10000 continuation")
    val (rf, _, _) = SnapshotTable.readRangeString(spark, dir, "k",
      "p", "q")
    assert(rf.count() == 4L)
  }

  test("string skipping composes with DVs and OPTIMIZE: deleted rows " +
      "stay deleted in pruned reads; compact keeps registered string " +
      "coverage") {
    import spark.implicits._
    val dir = tempDir("t")
    def chunk(lo: Int, hi: Int) = (lo until hi)
      .map(k => (f"d$k%04d", k.toLong, k % 2)).toDF("k", "v", "p")
    SnapshotTable.write(spark, dir, chunk(0, 100), "p") // v1
    SnapshotTable.setStatsColumns(spark, dir, Seq("k")) // v2
    SnapshotTable.append(spark, dir, chunk(100, 200), "p") // v3
    SnapshotTable.deleteWhereDV(spark, dir, col("v") % 10 === 0L) // v4
    val (df, _, _) = SnapshotTable.readRangeString(spark, dir, "k",
      "d0100", "d0149")
    assert(df.count() == 45L, "DVs must apply inside a pruned read")
    SnapshotTable.compact(spark, dir, "p") // v5: folds DVs, rewrites
    val cov = SnapshotTable.fileStatsStr(spark, dir, "k").keySet
    assert(SnapshotTable.latest(spark, dir).get._2.forall(cov),
      "compact must re-stat every rewrite for registered string columns")
    val (df2, _, _) = SnapshotTable.readRangeString(spark, dir, "k",
      "d0100", "d0149")
    assert(df2.count() == 45L)
  }
}
