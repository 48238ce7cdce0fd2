package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Writer-writer optimistic-concurrency contract: a mutation that loses
  * the version CAS must RE-DERIVE against the winner's state, never
  * re-publish its pre-race file/DV/stats lists at the advanced version
  * (the classic lost update — commit()'s legacy blind retry had exactly
  * that shape for content-bearing mutations). These tests race real
  * threads; each scenario asserts BOTH effects landed.
  */
class ConcurrentWritersSpec extends SparkSpec {

  private def mkDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("k", "p")
  }

  private def keys(dir: String): Set[Long] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"))
      .collect().map(_.getLong(0)).toSet

  private def inParallel(ops: (() => Unit)*): Unit = {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = ops.map { op =>
      new Thread(() => {
        gate.await()
        try op() catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
  }

  test("racing appends: both writers' rows land, none dropped") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((0L, 0L))), "p")
    val batches = (1 to 6).map(i => mkDf(Seq((i * 10L, (i % 2).toLong))))
    inParallel(batches.map(b =>
      () => { SnapshotTable.append(spark, dir, b, "p"); () }): _*)
    assert(keys(dir) == Set(0L, 10L, 20L, 30L, 40L, 50L, 60L),
      "a lost-update append dropped a racer's rows")
    // versions are dense: 6 appends after v1 -> v7
    assert(SnapshotTable.latest(spark, dir).get._1 == 7L)
  }

  test("racing DV deletes: both delete sets apply") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf((1L to 20L).map(k => (k, k % 2))), "p")
    inParallel(
      () => { SnapshotTable.deleteWhereDV(spark, dir, col("k") <= 5); () },
      () => { SnapshotTable.deleteWhereDV(spark, dir, col("k") >= 16); () })
    assert(keys(dir) == (6L to 15L).toSet,
      "a lost-update DV commit dropped the racer's deletion vector")
  }

  test("append racing a DV delete: the deletion AND the new rows survive") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf((1L to 10L).map(k => (k, k % 2))), "p")
    inParallel(
      () => { SnapshotTable.deleteWhereDV(spark, dir, col("k") <= 3); () },
      () => { SnapshotTable.append(spark, dir, mkDf(Seq((100L, 0L))), "p"); () })
    assert(keys(dir) == ((4L to 10L).toSet + 100L),
      "one racer's effect was clobbered")
  }

  test("merge racing an append: upsert and append both land") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 1L))), "p")
    inParallel(
      () => { SnapshotTable.merge(spark, dir, "p", "k",
        mkDf(Seq((2L, 0L), (3L, 1L)))); () },
      () => { SnapshotTable.append(spark, dir, mkDf(Seq((50L, 1L))), "p"); () })
    val rows = SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"), col("p").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // merge moved k=2 to p=0 and inserted k=3; append added k=50 —
    // whichever order the CAS serialized them in
    assert(rows == Set((1L, 0L), (2L, 0L), (3L, 1L), (50L, 1L)), s"got $rows")
  }

  test("MoR merge racing an append: the loser re-derives — upsert and " +
      "append both land, no DV addresses a stale file") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf((1L to 20L).map(k => (k, k % 2))), "p")
    inParallel(
      () => { SnapshotTable.mergeDV(spark, dir, "p", "k",
        mkDf(Seq((2L, 0L), (30L, 1L)))); () },
      () => { SnapshotTable.append(spark, dir, mkDf(Seq((50L, 1L))), "p"); () })
    val got = keys(dir)
    assert(got == ((1L to 20L).toSet ++ Set(30L, 50L)),
      s"a racer's effect was clobbered: $got")
    // k=2 must appear exactly once (old version DV-suppressed)
    assert(SnapshotTable.read(spark, dir).filter(col("k") === 2L)
      .count() == 1L)
    assert(SnapshotTable.latest(spark, dir).get._1 == 3L)
  }

  test("restore racing an append: restore re-derives at the winner's " +
      "version; the relation is the target's and the racer's rows stay " +
      "time-travel readable") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L))), "p") // v1
    SnapshotTable.append(spark, dir, mkDf(Seq((2L, 1L))), "p") // v2
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 0L))), "p") // v3
    inParallel(
      () => { SnapshotTable.restore(spark, dir, 2L); () },
      () => { SnapshotTable.append(spark, dir, mkDf(Seq((99L, 1L))), "p"); () })
    val vEnd = SnapshotTable.latest(spark, dir).get._1
    assert(vEnd == 5L, "both commits must land, in some CAS order")
    val ks = keys(dir)
    // two legal serializations: append-then-restore (latest = exactly
    // v2's relation) or restore-then-append (v2's relation + k=99);
    // either way NOTHING is lost from history
    assert(ks == Set(1L, 2L) || ks == Set(1L, 2L, 99L), s"got $ks")
    val hist = (1L to vEnd).flatMap(v =>
      SnapshotTable.read(spark, dir, Some(v))
        .select(col("k").cast("long")).collect().map(_.getLong(0))).toSet
    assert(hist.contains(99L) && hist.contains(3L),
      "every racer's rows must stay readable somewhere in history")
  }
}
