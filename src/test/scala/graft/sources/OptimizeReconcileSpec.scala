package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** OPTIMIZE commit-reconciliation contract (VERDICT r15 #1 — the
  * maintenance-CAS livelock fix): a full-recluster OPTIMIZE that loses
  * its version CAS to PURE APPENDS must re-commit the already-staged
  * rewrite plus the winners' files — never re-run the table-wide
  * shuffle — while a conflicting interleave (DV delete over rewritten
  * rows, restore) still forces a true re-derive. The shuffle count is
  * pinned via [[SnapshotTable.optimizeDeriveCount]] (the q293
  * read-count-pin pattern); deterministic CAS losses are injected with
  * the `afterStage` seam, and a real-thread race closes the loop.
  * Also covers the partition-scoped form (VERDICT r15 #4): out-of-scope
  * files stay byte-identical in the manifest and out-of-scope DV rows
  * keep applying.
  */
class OptimizeReconcileSpec extends SparkSpec {

  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, (k * 2654435761L) % 1000L, k % 2, k * 7L))
      .toDF("k", "b", "p", "v")
  }

  private def keys(dir: String): Set[Long] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long")).collect().map(_.getLong(0)).toSet

  test("a CAS lost to a pure append commit-reconciles: one derivation, " +
      "the staged rewrite plus the winner's rows all land, DVs fold") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 400L), "p")      // v1
    SnapshotTable.deleteWhereDV(spark, dir, col("k") % 10 === 0)   // v2
    val d0 = SnapshotTable.optimizeDeriveCount.get()
    val v = SnapshotTable.compactClusteredHooked(spark, dir, "p", "k",
      8, Nil,
      // lands v3 between the stage and the first commit attempt — the
      // OPTIMIZE loses its CAS at v3 and must reconcile, not redo
      () => { SnapshotTable.append(spark, dir,
        mkDf(1000L until 1020L), "p"); () })
    assert(SnapshotTable.optimizeDeriveCount.get() - d0 == 1,
      "a pure-append interleave must NOT re-run the rewrite shuffle")
    assert(v == 4L, "append won v3; the reconciled OPTIMIZE commits v4")
    assert(keys(dir) ==
      ((0L until 400L).filter(_ % 10 != 0) ++ (1000L until 1020L)).toSet,
      "clustered rows AND the winner's appended rows must all land")
    assert(SnapshotTable.latestFull(spark, dir).get._3.isEmpty,
      "the reconciled commit still folds every pre-stage DV")
    // the rewrite's skipping index survives reconciliation: a narrow
    // window prunes (the appended file has no stats and is kept
    // conservatively)
    val (got, kept, tot) = SnapshotTable.readRange(spark, dir, "k", 100L, 149L)
    assert(kept * 2 <= tot, s"window must prune after reconcile: $kept/$tot")
    assert(got.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == (100L until 150L).filter(_ % 10 != 0).toSet)
    // row-preserving relative to its parent: the feed stays silent for
    // the OPTIMIZE and surfaces exactly the append
    val (_, ins, dels) = SnapshotTable.readChangesSince(spark, dir, 2L).get
    assert(dels.count() == 0L)
    assert(ins.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == (1000L until 1020L).toSet)
  }

  test("a conflicting interleave (DV delete over rewritten rows) forces " +
      "a re-derive; the result is still exact") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 300L), "p") // v1
    val d0 = SnapshotTable.optimizeDeriveCount.get()
    val v = SnapshotTable.compactClusteredHooked(spark, dir, "p", "k",
      8, Nil,
      () => { SnapshotTable.deleteWhereDV(spark, dir, col("k") < 30L); () })
    assert(SnapshotTable.optimizeDeriveCount.get() - d0 == 2,
      "a delete over the staged rewrite's rows MUST re-derive")
    assert(v == 3L)
    assert(keys(dir) == (30L until 300L).toSet,
      "the re-derived rewrite must fold the racing delete")
    assert(SnapshotTable.latestFull(spark, dir).get._3.isEmpty)
  }

  test("a racing RESTORE (files leave the manifest) forces a re-derive " +
      "for the z-order class too") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 200L), "p")       // v1
    SnapshotTable.append(spark, dir, mkDf(200L until 260L), "p")    // v2
    val d0 = SnapshotTable.optimizeDeriveCount.get()
    val v = SnapshotTable.compactZOrderedNHooked(spark, dir, "p",
      Seq("k", "b"), 16, 0, Nil,
      () => { SnapshotTable.restore(spark, dir, 1L); () })          // v3
    assert(SnapshotTable.optimizeDeriveCount.get() - d0 == 2,
      "a restore rips the staged rewrite's input files out — re-derive")
    assert(v == 4L)
    assert(keys(dir) == (0L until 200L).toSet,
      "the re-derived z-order must cluster the RESTORED state")
  }

  test("scoped OPTIMIZE (WHERE): out-of-scope files byte-identical in " +
      "the manifest, in-scope pruning holds, out-of-scope DV rows keep " +
      "applying, the feed stays silent") {
    val dir = tempDir("t")
    // three appends fragment both partitions
    SnapshotTable.write(spark, dir, mkDf(0L until 100L), "p")       // v1
    SnapshotTable.append(spark, dir, mkDf(100L until 200L), "p")    // v2
    SnapshotTable.append(spark, dir, mkDf(200L until 300L), "p")    // v3
    SnapshotTable.deleteWhereDV(spark, dir, col("k") % 11 === 0)    // v4
    val before = SnapshotTable.latest(spark, dir).get._2
    val outBefore = before.filterNot(_.startsWith("p=0/")).toSet
    val v = SnapshotTable.compactClustered(spark, dir, "p", "k",
      rangeParts = 8, scope = Seq("0"))                              // v5
    assert(v == 5L)
    val st = SnapshotTable.latestFull(spark, dir).get
    assert(st._2.filterNot(_.startsWith("p=0/")).toSet == outBefore,
      "out-of-scope files must be carried BY NAME, byte-identical")
    assert(st._2.count(_.startsWith("p=0/")) <
      before.count(_.startsWith("p=0/")) + 8 + 1,
      "the scope was rewritten")
    assert(st._3.nonEmpty,
      "a scoped rewrite must CARRY the DV set — out-of-scope rows still " +
        "apply (the folded scope's addresses are dead rows, harmless)")
    assert(keys(dir) == (0L until 300L).filter(_ % 11 != 0).toSet,
      "every DV row — in-scope folded, out-of-scope carried — applies")
    assert(SnapshotTable.readChangesSince(spark, dir, 4L).isEmpty,
      "scoped OPTIMIZE is row-preserving maintenance: feed silent")
    // in-scope pruning: only even k (p=0) files carry stats; a narrow
    // window keeps all out-of-scope files (no stats) plus few in-scope
    val inScope = st._2.count(_.startsWith("p=0/"))
    val (_, kept, tot) = SnapshotTable.readRange(spark, dir, "k", 40L, 79L)
    assert(kept < tot && (tot - kept) > 0 && kept - (tot - inScope) <
      inScope, s"in-scope files must prune: kept $kept/$tot ($inScope in scope)")
    // an empty scope value set on a partition with no files is a no-op
    assert(SnapshotTable.compactClustered(spark, dir, "p", "k",
      scope = Seq("7")) == 5L)
  }

  test("real-thread race: a steady append stream racing BOTH OPTIMIZE " +
      "classes — every appended and every clustered row lands") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 200L), "p")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appends = (1 to 5).map { i =>
      new Thread(() => {
        gate.await()
        try SnapshotTable.append(spark, dir,
          mkDf((1000L * i) until (1000L * i + 10L)), "p"): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    val optimizers = Seq(
      new Thread(() => {
        gate.await()
        try SnapshotTable.compactClustered(spark, dir, "p", "k",
          rangeParts = 8): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      }),
      new Thread(() => {
        gate.await()
        try SnapshotTable.compactZOrderedN(spark, dir, "p", Seq("k", "b"),
          rangeParts = 16): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      }))
    (appends ++ optimizers).foreach(_.start())
    gate.countDown()
    (appends ++ optimizers).foreach(_.join(240000))
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(keys(dir) == ((0L until 200L) ++
      (1 to 5).flatMap(i => (1000L * i) until (1000L * i + 10L))).toSet,
      "no racer's rows may be lost under append/OPTIMIZE contention")
  }
}
