package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stats-on-ingest contract ([[SnapshotTable.setStatsColumns]]):
  * registered columns get per-file min/max stats computed by every
  * content-adding commit path on its newly staged files; pre-existing
  * files stay stat-less until ANALYZE; clearing the registration stops
  * coverage; a registered column absent from a batch's schema is
  * skipped (schema evolution stays legal); names are validated.
  */
class IngestStatsSpec extends SparkSpec {

  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, (k * 37) % 1000, k % 2, s"r$k")).toDF("a", "b", "p", "v")
  }

  private def files(dir: String): Set[String] =
    SnapshotTable.latest(spark, dir).get._2.toSet

  test("append, appendBatch, merge, updateWhere, deleteWhere, and all " +
      "OPTIMIZE classes cover their new files; pre-registration files " +
      "stay uncovered until ANALYZE; clearing stops coverage") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 100L), "p") // v1: none
    val pre = files(dir)
    SnapshotTable.setStatsColumns(spark, dir, Seq("a", "b")) // v2
    assert(SnapshotTable.statsColumnsOf(spark, dir) == Seq("a", "b"))
    def covered(c: String): Set[String] =
      SnapshotTable.fileStats(spark, dir, c).keySet
    def newSince(before: Set[String]): Set[String] = files(dir) -- before

    SnapshotTable.append(spark, dir, mkDf(100L until 200L), "p") // v3
    val appended = newSince(pre)
    assert(appended.nonEmpty &&
      appended.forall(f => covered("a")(f) && covered("b")(f)),
      "append must stat its new files for every registered column")
    assert(pre.forall(f => !covered("a")(f)),
      "pre-registration files stay stat-less until ANALYZE")

    val atV3 = files(dir)
    SnapshotTable.appendBatch(spark, dir, mkDf(200L until 250L), "p",
      batchId = 1L) // v4
    assert(newSince(atV3).forall(f => covered("a")(f) && covered("b")(f)),
      "appendBatch must stat its new files")

    val atV4 = files(dir)
    SnapshotTable.merge(spark, dir, "p", "a",
      mkDf(240L until 260L)) // v5: updates + inserts
    assert(newSince(atV4).forall(f => covered("a")(f) && covered("b")(f)),
      "merge must stat its staged files")

    val atV5 = files(dir)
    SnapshotTable.updateWhere(spark, dir, "p", col("a") === 7L,
      Map("v" -> lit("patched"))) // v6: MoR rewrite
    assert(newSince(atV5).forall(f => covered("a")(f) && covered("b")(f)),
      "updateWhere must stat its rewrite files")

    val atV6 = files(dir)
    SnapshotTable.deleteWhere(spark, dir, "p", col("a") === 11L) // v7
    assert(newSince(atV6).forall(f => covered("a")(f) && covered("b")(f)),
      "deleteWhere must stat its survivor files")

    SnapshotTable.analyzeStats(spark, dir, "a") // v8: backfill history
    assert(files(dir).forall(covered("a")),
      "ANALYZE must close the pre-registration gap")

    val atV8 = files(dir)
    SnapshotTable.compact(spark, dir, "p") // v9: OPTIMIZE
    assert(newSince(atV8).forall(f => covered("a")(f) && covered("b")(f)),
      "compact must stat its rewrites — maintenance keeps skipping alive")

    val v9 = SnapshotTable.latest(spark, dir).get._1
    SnapshotTable.writeIf(spark, dir, mkDf(400L until 450L), "p", v9) // v10
    assert(files(dir).forall(f => covered("a")(f) && covered("b")(f)),
      "writeIf (the MV-refresh commit path) must stat its replace files")

    SnapshotTable.setStatsColumns(spark, dir, Seq.empty) // v11: clear
    assert(SnapshotTable.statsColumnsOf(spark, dir).isEmpty)
    val atV11 = files(dir)
    SnapshotTable.append(spark, dir, mkDf(300L until 320L), "p") // v12
    assert((files(dir) -- atV11).forall(f => !covered("a")(f)),
      "a cleared registration must stop covering new files")
  }

  test("a registered column absent from a batch's schema is skipped " +
      "(schema evolution), and skipping prunes on range-correlated " +
      "ingest without any OPTIMIZE") {
    import spark.implicits._
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      (0L until 100L).map(k => (k, k % 2)).toDF("a", "p"), "p") // v1
    SnapshotTable.setStatsColumns(spark, dir, Seq("a", "later")) // v2
    // 'later' is not in the schema yet: the append must not fail and
    // must still stat 'a'
    val pre = files(dir)
    SnapshotTable.append(spark, dir,
      (100L until 200L).map(k => (k, k % 2)).toDF("a", "p"), "p") // v3
    val added = files(dir) -- pre
    assert(added.forall(SnapshotTable.fileStats(spark, dir, "a").keySet))
    assert(SnapshotTable.fileStats(spark, dir, "later").isEmpty)
    // the column arrives (schema evolution): stats begin
    val atV3 = files(dir)
    SnapshotTable.append(spark, dir,
      (200L until 300L).map(k => (k, k % 2, k * 10)).toDF("a", "p", "later"),
      "p") // v4
    assert((files(dir) -- atV3)
      .forall(SnapshotTable.fileStats(spark, dir, "later").keySet))
    // range-correlated ingest skips from ingest alone: backfill 'a'
    // over v1's files, then a window inside the last chunk prunes
    SnapshotTable.analyzeStats(spark, dir, "a") // v5
    val (got, kept, total) = SnapshotTable.readRange(spark, dir, "a",
      220L, 260L)
    assert(kept * 2 <= total, s"window must prune: kept $kept/$total")
    assert(got.count() == 41L)
  }

  test("validation: '|' and ',' in names are refused; registration is " +
      "idempotent") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 10L), "p")
    intercept[IllegalArgumentException] {
      SnapshotTable.setStatsColumns(spark, dir, Seq("a|b"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.setStatsColumns(spark, dir, Seq("a,b"))
    }
    val v = SnapshotTable.setStatsColumns(spark, dir, Seq("a"))
    assert(SnapshotTable.setStatsColumns(spark, dir, Seq("a")) == v,
      "re-registering the same columns must not commit")
  }
}
