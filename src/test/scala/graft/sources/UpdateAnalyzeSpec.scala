package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 lakehouse maintenance verbs on the deletion-vector
  * substrate: merge-on-read UPDATE ([[SnapshotTable.updateWhere]] —
  * DV-delete old versions + append new versions, one atomic commit,
  * zero data-file rewrites), ANALYZE
  * ([[SnapshotTable.analyzeStats]] — metadata-only stats backfill for
  * stats-less files), and the full re-cluster OPTIMIZE
  * ([[SnapshotTable.compactClustered]] — range re-cluster + DV fold +
  * fresh index in one commit).
  */
class UpdateAnalyzeSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  private def rows(dir: String): Set[(Long, Long, Long)] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"), col("p").cast("long"),
        col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("updateWhere rewrites no data file, stacks, and moves partitions") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L))), "p")
    val (_, files0, _) = SnapshotTable.latestFull(spark, dir).get
    val (v1, n1) = SnapshotTable.updateWhere(spark, dir, "p",
      col("k") <= 2L, Map("v" -> (col("v") + 100L)))
    assert(v1 == 2L && n1 == 2L)
    val (_, files1, dvs1) = SnapshotTable.latestFull(spark, dir).get
    assert(files0.forall(files1.contains),
      "a merge-on-read update must carry every old data file untouched")
    assert(dvs1.nonEmpty, "the old row versions are suppressed by a DV")
    assert(rows(dir) == Set((1L, 0L, 110L), (2L, 0L, 120L), (3L, 1L, 30L)))
    // stacked: the second update sees the FIRST update's values
    val (_, n2) = SnapshotTable.updateWhere(spark, dir, "p",
      col("v") === 110L, Map("v" -> (col("v") * 2L)))
    assert(n2 == 1L)
    assert(rows(dir) == Set((1L, 0L, 220L), (2L, 0L, 120L), (3L, 1L, 30L)))
    // a partition-moving assignment lands the row in its new dir
    val (_, n3) = SnapshotTable.updateWhere(spark, dir, "p",
      col("k") === 3L, Map("p" -> lit(0L)))
    assert(n3 == 1L)
    assert(rows(dir) == Set((1L, 0L, 220L), (2L, 0L, 120L), (3L, 0L, 30L)))
    // time travel: the pre-update snapshot is intact
    assert(SnapshotTable.read(spark, dir, Some(1L))
      .select(col("v").cast("long")).collect().map(_.getLong(0)).toSet ==
      Set(10L, 20L, 30L))
    // OPTIMIZE folds the accumulated update DVs away
    SnapshotTable.compact(spark, dir, "p")
    assert(SnapshotTable.latestFull(spark, dir).get._3.isEmpty)
    assert(rows(dir) == Set((1L, 0L, 220L), (2L, 0L, 120L), (3L, 0L, 30L)))
  }

  test("updateWhere: no-match commits nothing; bad assignments rejected") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L))), "p")
    val (v, n) = SnapshotTable.updateWhere(spark, dir, "p",
      col("k") > 100L, Map("v" -> lit(0L)))
    assert(v == 1L && n == 0L)
    assert(SnapshotTable.latest(spark, dir).get._1 == 1L)
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, dir, "p", col("k") === 1L, Map.empty)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, dir, "p", col("k") === 1L,
        Map(SnapshotTable.FileCol -> lit("x")))
    }
  }

  test("updateWhere racing an append: both effects land") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      () => { SnapshotTable.updateWhere(spark, dir, "p",
        col("k") === 1L, Map("v" -> (col("v") + 1L))); () },
      () => { SnapshotTable.append(spark, dir, mkDf(Seq((9L, 0L, 90L))), "p"); () }
    ).map(op => new Thread(() => {
      gate.await(); try op() catch { case t: Throwable => errs.add(t): Unit }
    }))
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(rows(dir) == Set((1L, 0L, 11L), (2L, 1L, 20L), (9L, 0L, 90L)))
  }

  test("analyzeStats backfills only missing files, is idempotent, and " +
      "enables pruning on an append-built table") {
    val dir = tempDir("t")
    // three appends of DISJOINT key ranges — naturally skippable, but
    // stats-less until ANALYZE
    SnapshotTable.write(spark, dir,
      mkDf((1L to 40L).map(k => (k, k % 2, k * 10L))), "p")
    SnapshotTable.append(spark, dir,
      mkDf((41L to 80L).map(k => (k, k % 2, k * 10L))), "p")
    SnapshotTable.append(spark, dir,
      mkDf((81L to 120L).map(k => (k, k % 2, k * 10L))), "p")
    assert(SnapshotTable.fileStats(spark, dir, "k").isEmpty)
    val (_, kept0, tot0) = SnapshotTable.readRange(spark, dir, "k", 1L, 20L)
    assert(kept0 == tot0, "stats-less files cannot prune")
    val v = SnapshotTable.analyzeStats(spark, dir, "k")
    assert(v == 4L)
    val stats = SnapshotTable.fileStats(spark, dir, "k")
    assert(stats.keySet == SnapshotTable.latest(spark, dir).get._2.toSet,
      "ANALYZE must cover every data file")
    assert(SnapshotTable.analyzeStats(spark, dir, "k") == v,
      "a fully-covered table re-analyzes to a no-op, no new commit")
    val (df, kept1, tot1) = SnapshotTable.readRange(spark, dir, "k", 1L, 20L)
    assert(kept1 < tot1, "disjoint appends must prune after ANALYZE")
    assert(df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == (1L to 20L).toSet)
    // second indexed column coexists: lines are self-describing
    SnapshotTable.analyzeStats(spark, dir, "v")
    assert(SnapshotTable.fileStats(spark, dir, "v").nonEmpty)
    assert(SnapshotTable.fileStats(spark, dir, "k") == stats,
      "a second column's ANALYZE must not disturb the first index")
  }

  test("compactClustered: one commit rewrites the table range-clustered, " +
      "folds DVs, refreshes the full index, relation identical") {
    val dir = tempDir("t")
    // fragmented, interleaved appends: every file spans the key domain
    (0 until 4).foreach { i =>
      val chunk = mkDf((1L to 200L).collect {
        case k if k % 4 == i => (k, k % 2, k * 10L)
      })
      if (i == 0) SnapshotTable.write(spark, dir, chunk, "p")
      else SnapshotTable.append(spark, dir, chunk, "p")
    }
    SnapshotTable.deleteWhereDV(spark, dir, col("k") % 10L === 0L)
    val before = rows(dir)
    val v = SnapshotTable.compactClustered(spark, dir, "p", "k",
      rangeParts = 5)
    assert(v == SnapshotTable.latest(spark, dir).get._1)
    val (_, files, dvs) = SnapshotTable.latestFull(spark, dir).get
    assert(dvs.isEmpty, "the re-cluster folds every DV in")
    assert(rows(dir) == before, "re-clustering must not change the relation")
    assert(SnapshotTable.fileStats(spark, dir, "k").keySet == files.toSet,
      "every rewritten file carries fresh stats")
    val (df, kept, tot) = SnapshotTable.readRange(spark, dir, "k", 1L, 40L)
    assert(kept * 2 <= tot, s"a narrow range must prune (kept $kept/$tot)")
    assert(df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == (1L to 40L).filterNot(_ % 10 == 0).toSet)
  }
}
