package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CDC replication contract ([[SnapshotTable.replicate]] — the change
  * feed's consumer half): first call = full copy; later calls apply
  * ONLY the feed since the recorded source version (pure deletes as one
  * keyed DV-delete, inserts+updates as one MERGE, bookkeeping atomic
  * with the last applied change); idempotent by replay; the replica's
  * own maintenance (compact) does not lose the bookkeeping.
  */
class ReplicaSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  private def rows(dir: String): Set[(Long, Long, Long)] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"), col("p").cast("long"),
        col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("replicate tracks every mutation verb incrementally and " +
      "idempotently") {
    val src = tempDir("t"); val dst = tempDir("t")
    SnapshotTable.write(spark, src,
      mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(rows(dst) == rows(src), "first call copies the snapshot")
    // one of each producer verb, then ONE incremental apply
    SnapshotTable.append(spark, src, mkDf(Seq((4L, 1L, 40L))), "p")
    SnapshotTable.deleteWhereDV(spark, src, col("k") === 2L)
    SnapshotTable.updateWhere(spark, src, "p",
      col("k") === 1L, Map("v" -> (col("v") + 100L)))
    SnapshotTable.merge(spark, src, "p", "k",
      mkDf(Seq((3L, 0L, 99L), (5L, 0L, 50L)))) // move k=3, insert k=5
    val vAfter = SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(rows(dst) == rows(src),
      s"replica diverged: dst=${rows(dst)} src=${rows(src)}")
    assert(rows(dst) ==
      Set((1L, 0L, 110L), (3L, 0L, 99L), (4L, 1L, 40L), (5L, 0L, 50L)))
    // up to date: no commit
    assert(SnapshotTable.replicate(spark, src, dst, "p", "k") == vAfter)
    assert(SnapshotTable.latest(spark, dst).get._1 == vAfter)
    // replica-side maintenance keeps the bookkeeping (carried header)
    SnapshotTable.compact(spark, dst, "p")
    SnapshotTable.append(spark, src, mkDf(Seq((6L, 1L, 60L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(rows(dst) == rows(src),
      "compact on the replica must not lose the source-version marker")
  }

  test("crash-window replay: re-running after a partial apply converges") {
    val src = tempDir("t"); val dst = tempDir("t")
    SnapshotTable.write(spark, src,
      mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k")
    SnapshotTable.deleteWhereDV(spark, src, col("k") === 2L)
    SnapshotTable.append(spark, src, mkDf(Seq((7L, 0L, 70L))), "p")
    // simulate the crash between the delete commit and the merge
    // commit: apply ONLY the delete half by hand (bookkeeping not
    // advanced), then run the real replicate — the replayed delete
    // matches nothing and the merge still lands
    import spark.implicits._
    SnapshotTable.deleteMatchingDV(spark, dst, "k", Seq(2L).toDF("k"))
    SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(rows(dst) == rows(src))
    assert(rows(dst) == Set((1L, 0L, 10L), (7L, 0L, 70L)))
  }

  test("a source vacuumed past the marker refuses loudly with the " +
      "remedy named; reseed=true re-copies and incremental resumes") {
    val src = tempDir("t"); val dst = tempDir("t")
    SnapshotTable.write(spark, src,
      mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k") // marker 1
    SnapshotTable.append(spark, src, mkDf(Seq((3L, 0L, 30L))), "p") // v2
    SnapshotTable.append(spark, src, mkDf(Seq((4L, 1L, 40L))), "p") // v3
    SnapshotTable.vacuum(spark, src, retain = 1) // v1, v2 manifests gone
    val vStuck = SnapshotTable.latest(spark, dst).get._1
    val e = intercept[SnapshotTable.ReplicaSourceVacuumedException] {
      SnapshotTable.replicate(spark, src, dst, "p", "k")
    }
    assert(e.getMessage.contains("reseed = true"),
      s"the refusal must name the remedy: ${e.getMessage}")
    assert(SnapshotTable.latest(spark, dst).get._1 == vStuck,
      "a refused replicate must apply nothing")
    // the opt-in full re-copy converges and restarts the marker
    SnapshotTable.replicate(spark, src, dst, "p", "k", reseed = true)
    assert(rows(dst) == rows(src))
    // steady-state incremental replication resumes from the new marker
    SnapshotTable.append(spark, src, mkDf(Seq((5L, 0L, 50L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(rows(dst) == rows(src))
    assert(rows(dst) == Set((1L, 0L, 10L), (2L, 1L, 20L), (3L, 0L, 30L),
      (4L, 1L, 40L), (5L, 0L, 50L)))
  }

  test("a maintenance-only source window advances the marker with a " +
      "metadata-only commit — vacuum can never strand a replica whose " +
      "source only ever OPTIMIZEd (ADVICE r15)") {
    val src = tempDir("t"); val dst = tempDir("t")
    SnapshotTable.write(spark, src,
      mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k") // marker 1
    val vDst = SnapshotTable.latest(spark, dst).get._1
    // the source runs ONLY row-preserving maintenance
    val srcV = SnapshotTable.compactClustered(spark, src, "p", "k") // v2
    assert(srcV == 2L)
    val vAdv = SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(vAdv == vDst + 1,
      "the marker must advance with exactly one metadata-only commit")
    assert(rows(dst) == rows(src), "no row may move")
    // the bookkeeping commit is invisible to the replica's own feed
    assert(SnapshotTable.readChangesSince(spark, dst, vDst).isEmpty,
      "the marker commit must be #datachange=false")
    // idempotent: nothing further to advance
    assert(SnapshotTable.replicate(spark, src, dst, "p", "k") == vAdv)
    // the point of the fix: the source vacuums its pre-maintenance
    // history and the replica is NOT stranded on a reclaimed marker
    SnapshotTable.vacuum(spark, src, retain = 1)
    SnapshotTable.append(spark, src, mkDf(Seq((3L, 0L, 30L))), "p")
    SnapshotTable.replicate(spark, src, dst, "p", "k")
    assert(rows(dst) == rows(src))
    assert(rows(dst) == Set((1L, 0L, 10L), (2L, 1L, 20L), (3L, 0L, 30L)))
  }

  test("MERGE refuses a duplicate-key batch wholesale — CDC replay can " +
      "never silently diverge on an ambiguous upsert") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L))), "p")
    val v0 = SnapshotTable.latest(spark, dir).get._1
    // the same key twice in one batch: which row should win is
    // undefined — the contract is a loud wholesale refusal
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir, "p", "k",
        mkDf(Seq((2L, 0L, 20L), (2L, 0L, 99L))))
    }
    assert(e.getMessage.contains("key-unique"))
    assert(SnapshotTable.latest(spark, dir).get._1 == v0 &&
      rows(dir) == Set((1L, 0L, 10L)),
      "a refused merge must leave version and relation untouched")
    // mergeBatch rides the same contract
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeBatch(spark, dir, "p", "k",
        mkDf(Seq((3L, 0L, 30L), (3L, 0L, 31L))), batchId = 7L)
    }
    assert(SnapshotTable.latest(spark, dir).get._1 == v0)
  }

  test("a non-replica destination is refused; deleteMatchingDV is " +
      "join-based and no-ops on absent keys") {
    val src = tempDir("t"); val dst = tempDir("t")
    SnapshotTable.write(spark, src, mkDf(Seq((1L, 0L, 10L))), "p")
    SnapshotTable.write(spark, dst, mkDf(Seq((9L, 0L, 90L))), "p")
    intercept[RuntimeException] {
      SnapshotTable.replicate(spark, src, dst, "p", "k")
    }
    import spark.implicits._
    val v0 = SnapshotTable.latest(spark, dst).get._1
    val (v1, n) = SnapshotTable.deleteMatchingDV(spark, dst, "k",
      Seq(12345L).toDF("k"))
    assert(v1 == v0 && n == 0L, "absent keys must not commit")
  }
}
