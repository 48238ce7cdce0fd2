package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cost and correctness contract of exactly-once replay detection
  * (VERDICT r13 #1) and of the vacuum watermark (ADVICE r13):
  *
  *  - a streaming commit reads a CONSTANT number of manifests no matter
  *    how long the table's history is — the carried
  *    `lastbatch.<queryId>` header answers the replay question from the
  *    latest manifest alone (the r13 `#batch=` tag walk read the ENTIRE
  *    history for every NEW batch id: O(n²) cumulative, one GET per
  *    historical manifest per micro-batch on object storage);
  *  - replays at any depth return the originally-committed version:
  *    last-batch via the header, ancient ids via the bounded lookback;
  *  - the header survives interleaved non-batch commits and full
  *    content replaces (the Delta txn-appId contract);
  *  - two concurrent replays of the SAME batch commit exactly once
  *    (ADVICE r13: mergeBatch's single pre-check let both land);
  *  - a stale CAS loser publishing into a version hole vacuum re-opened
  *    retracts itself against the low watermark (ADVICE r13: the
  *    invisible-commit lost update).
  */
class StreamingReplaySpec extends SparkSpec {

  private def mkDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("k", "p")
  }

  private def keys(dir: String): Set[Long] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"))
      .collect().map(_.getLong(0)).toSet

  test("appendBatch commit cost is O(1) manifests regardless of history " +
      "depth, and replays at every depth return the original version") {
    val dir = tempDir("t")
    val versions = (0 until 60).map { b =>
      b.toLong -> SnapshotTable.appendBatch(spark, dir,
        mkDf(Seq((b.toLong, b % 2L))), "p", b.toLong, "qA")
    }.toMap
    assert(SnapshotTable.latest(spark, dir).get._1 == 60L)
    assert(keys(dir) == (0L until 60L).toSet)

    // manifest reads for a NEW batch near depth 10 vs depth 60 must be
    // EQUAL — the r13 shape grew linearly with history
    def readsFor(body: => Unit): Long = {
      val before = SnapshotTable.manifestReadCount.get()
      body
      SnapshotTable.manifestReadCount.get() - before
    }
    val deep = readsFor {
      SnapshotTable.appendBatch(spark, dir,
        mkDf(Seq((1000L, 0L))), "p", 60L, "qA"): Unit
    }
    assert(deep <= 4L,
      s"a new-batch commit at depth 61 read $deep manifests — not O(1)")

    // replay of the LAST batch: answered from the latest header alone
    val lastReplay = readsFor {
      assert(SnapshotTable.appendBatch(spark, dir,
        mkDf(Seq((9999L, 0L))), "p", 60L, "qA") == 61L,
        "last-batch replay must return the original version")
    }
    assert(lastReplay <= 2L,
      s"last-batch replay read $lastReplay manifests — not O(1)")
    assert(SnapshotTable.latest(spark, dir).get._1 == 61L,
      "a replay must not commit")
    assert(!keys(dir).contains(9999L), "a replayed batch's rows must not land")

    // ancient replays (inside the lookback window) return their
    // original versions without committing
    assert(SnapshotTable.appendBatch(spark, dir,
      mkDf(Seq((9999L, 0L))), "p", 3L, "qA") == versions(3L))
    assert(SnapshotTable.appendBatch(spark, dir,
      mkDf(Seq((9999L, 0L))), "p", 42L, "qA") == versions(42L))
    assert(SnapshotTable.latest(spark, dir).get._1 == 61L)

    // ancient replay PAST the lookback window: monotone engine batch
    // ids guarantee it was applied — still a no-op, latest version back
    spark.conf.set("spark.graft.snapshot.replayLookback", "5")
    try {
      assert(SnapshotTable.appendBatch(spark, dir,
        mkDf(Seq((9999L, 0L))), "p", 2L, "qA") == 61L)
      assert(!keys(dir).contains(9999L))
    } finally spark.conf.unset("spark.graft.snapshot.replayLookback")
  }

  test("the replay header survives interleaved non-batch commits, full " +
      "replaces, and distinct query ids stay independent") {
    val dir = tempDir("t")
    SnapshotTable.appendBatch(spark, dir, mkDf(Seq((1L, 0L))), "p", 0L, "qA")
    SnapshotTable.appendBatch(spark, dir, mkDf(Seq((2L, 1L))), "p", 0L, "qB")
    // non-batch commits in between must CARRY both markers forward
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 0L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 3L)
    val (_, _, metaTop) = SnapshotTable.history(spark, dir).maxBy(_._1)
    assert(metaTop.contains("lastbatch.qA") && metaTop.contains("lastbatch.qB"),
      s"non-batch commits dropped a replay marker: $metaTop")
    // replays of both query ids are no-ops at their original versions
    assert(SnapshotTable.appendBatch(spark, dir,
      mkDf(Seq((99L, 0L))), "p", 0L, "qA") == 1L)
    assert(SnapshotTable.appendBatch(spark, dir,
      mkDf(Seq((99L, 0L))), "p", 0L, "qB") == 2L)
    // a full content REPLACE keeps the markers (Delta txn-appId rule)
    SnapshotTable.write(spark, dir, mkDf(Seq((7L, 0L))), "p")
    assert(SnapshotTable.appendBatch(spark, dir,
      mkDf(Seq((99L, 0L))), "p", 0L, "qA") == 1L,
      "an overwrite must not forget applied batches")
    assert(keys(dir) == Set(7L))
  }

  test("mergeBatch: concurrent replays of the same batch commit exactly once") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 1L))), "p")
    val updates = mkDf(Seq((2L, 0L), (3L, 1L)))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { _ =>
      new Thread(() => {
        gate.await()
        try results.add(SnapshotTable.mergeBatch(spark, dir, "p", "k",
          updates, 5L, "qC")): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet.size == 1,
      s"racing replays returned different versions: ${results.asScala.toSet}")
    // exactly ONE commit carries the batch tag — the version ladder the
    // q288 oracle pins (ADVICE r13: both racers used to land)
    val tagged = SnapshotTable.history(spark, dir)
      .filter(_._3.get("batch").contains("qC/5"))
    assert(tagged.size == 1, s"batch qC/5 committed ${tagged.size} times")
    assert(SnapshotTable.latest(spark, dir).get._1 == 2L,
      "a duplicate replay commit advanced the version ladder")
  }

  test("a stale CAS loser cannot publish into a vacuum-opened version hole") {
    val dir = tempDir("t")
    (1 to 5).foreach(i => SnapshotTable.append(spark, dir,
      mkDf(Seq((i.toLong, 0L))), "p"))
    assert(SnapshotTable.latest(spark, dir).get._1 == 5L)
    SnapshotTable.vacuum(spark, dir, retain = 1) // drops v1..v4 manifests
    // a slow writer that read v2 long ago now retries its CAS: v3 has no
    // manifest file any more, so the raw rename would "succeed" — an
    // invisible commit below the readable range whose rows are lost.
    // The watermark (published before the manifests were deleted) must
    // make the publish retract itself.
    val ok = SnapshotTable.commitAt(spark, dir, 2L,
      Manifest.Snapshot(Seq("p=0/ghost.parquet")), Map.empty)
    assert(!ok, "a commit below the vacuum watermark must be refused")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_manifests/v3.manifest")),
      "the retracted manifest must not linger")
    assert(SnapshotTable.latest(spark, dir).get._1 == 5L)
    assert(keys(dir) == (1L to 5L).toSet)
  }

  test("vacuum racing live appends never loses a committed row") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((0L, 0L))), "p")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val vac = new Thread(() => {
      try while (!stop.get()) SnapshotTable.vacuum(spark, dir, retain = 1)
      catch { case t: Throwable => errs.add(t): Unit }
    })
    vac.start()
    try (1 to 8).foreach { i =>
      SnapshotTable.append(spark, dir, mkDf(Seq((i.toLong, i % 2L))), "p")
    } finally { stop.set(true); vac.join(120000) }
    assert(errs.isEmpty, s"vacuum failed: ${Option(errs.peek()).map(_.toString)}")
    // every appended row is readable: no append's staged files were
    // swept inside the rename→publish window (the retention guard)
    assert(keys(dir) == (0L to 8L).toSet,
      "vacuum swept a concurrent writer's staged-but-uncommitted files")
  }
}
