package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RESTORE contract ([[SnapshotTable.restore]]): a metadata-only
  * commit returns the table to an earlier version's exact relation
  * (files, DVs, stats); history stays time-travel readable; carried
  * headers — above all exactly-once replay markers — keep their
  * CURRENT values; the change feed represents the restore's un-deletes
  * as resurrection inserts and converges; refusals are loud and typed
  * (future target, vacuumed target, current-constraint violation).
  */
class RestoreSpec extends SparkSpec {

  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, k % 2, s"r$k")).toDF("k", "p", "v")
  }

  test("restore returns the exact target relation, keeps history " +
      "readable, is a no-op at current, and the feed converges via " +
      "resurrection inserts") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 100L), "p") // v1
    SnapshotTable.append(spark, dir, mkDf(100L until 200L), "p") // v2
    val (_, nDel) = SnapshotTable.deleteWhereDV(spark, dir,
      col("k") % 10 === 0) // v3: 20 rows out
    assert(nDel == 20L)
    SnapshotTable.append(spark, dir, mkDf(200L until 250L), "p") // v4
    val keysAt = (v: Long) => SnapshotTable.read(spark, dir, Some(v))
      .select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
    val target = keysAt(2L)
    val vR = SnapshotTable.restore(spark, dir, 2L)
    assert(vR == 5L)
    val now = SnapshotTable.read(spark, dir)
      .select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
    assert(now == target, "restored relation must equal the target exactly")
    assert(SnapshotTable.latestFull(spark, dir).get._3.isEmpty,
      "the target had no DVs, so the restored snapshot must not either")
    // undone versions stay readable
    assert(keysAt(4L).size == 230 && keysAt(3L).size == 180)
    // restore to current commits nothing
    assert(SnapshotTable.restore(spark, dir, 5L) == 5L)
    assert(SnapshotTable.latest(spark, dir).get._1 == 5L)
    // feed across the restore: deletes = the v4 chunk, inserts = the
    // 20 resurrected rows; applying it to the v4 state yields v5
    val (fv, ins, del) = SnapshotTable.readChangesSince(spark, dir, 4L).get
    assert(fv == 5L)
    val insK = ins.select(col("k").cast("long")).collect()
      .map(_.getLong(0)).toSet
    val delK = del.select(col("k").cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(insK == (0L until 200L).filter(_ % 10 == 0).toSet,
      "un-deletes must surface as resurrection inserts")
    assert(delK == (200L until 250L).toSet)
    assert((keysAt(4L) -- delK) ++ insK == target, "feed must converge")
  }

  test("exactly-once replay markers keep their current values: a " +
      "restored table does not re-apply an already-committed batch") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 50L), "p") // v1
    val vB = SnapshotTable.appendBatch(spark, dir, mkDf(50L until 80L),
      "p", batchId = 7L, queryId = "s") // v2
    assert(vB == 2L)
    SnapshotTable.append(spark, dir, mkDf(80L until 90L), "p") // v3
    SnapshotTable.restore(spark, dir, 2L) // v4
    val before = SnapshotTable.read(spark, dir).count()
    // the engine replays batch 7 after recovery: the marker — carried
    // at its CURRENT value through the restore — makes it a no-op
    val replay = SnapshotTable.appendBatch(spark, dir, mkDf(50L until 80L),
      "p", batchId = 7L, queryId = "s")
    assert(replay == 2L, "replay must return the original version")
    assert(SnapshotTable.read(spark, dir).count() == before,
      "a restore must never let an applied batch double-apply")
    assert(SnapshotTable.latest(spark, dir).get._1 == 4L)
  }

  test("restoreAsOf resolves a timestamp to the highest committed " +
      "version at or before it, with restore's exact semantics") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 50L), "p") // v1
    SnapshotTable.append(spark, dir, mkDf(50L until 100L), "p") // v2
    val tsV2 = SnapshotTable.history(spark, dir)
      .find(_._1 == 2L).get._2
    Thread.sleep(25) // distinct commit stamps for v3
    SnapshotTable.append(spark, dir, mkDf(100L until 150L), "p") // v3
    val vR = SnapshotTable.restoreAsOf(spark, dir, tsV2)
    assert(vR == 4L)
    assert(SnapshotTable.read(spark, dir).count() == 100L,
      "the as-of restore must land on v2's relation")
    intercept[IllegalArgumentException] {
      SnapshotTable.restoreAsOf(spark, dir, tsV2 - 100000L) // before v1
    }
  }

  test("refusals: future target, vacuumed target, and a restored " +
      "relation violating a CURRENT constraint") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 10L) // k=0 violates later
      .withColumn("k", col("k") - 1), "p") // v1: has k = -1
    SnapshotTable.deleteWhere(spark, dir, "p", col("k") < 0L) // v2: clean
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dir, 99L)
    }
    SnapshotTable.addConstraint(spark, dir, "k_nonneg", "k >= 0") // v3
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.restore(spark, dir, 1L) // v1 rows violate k_nonneg
    }
    assert(SnapshotTable.latest(spark, dir).get._1 == 3L,
      "a refused restore must leave the version untouched")
    // vacuumed target: retention guards lift for aged manifests only,
    // so force-apply by retaining just the latest and aging nothing —
    // vacuum(retain = 1) drops the v1/v2 manifests themselves
    val dir2 = tempDir("t")
    SnapshotTable.write(spark, dir2, mkDf(0L until 10L), "p") // v1
    SnapshotTable.append(spark, dir2, mkDf(10L until 20L), "p") // v2
    SnapshotTable.append(spark, dir2, mkDf(20L until 30L), "p") // v3
    SnapshotTable.vacuum(spark, dir2, retain = 1)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dir2, 1L)
    }
    assert(e.getMessage.contains("vacuum"),
      "the refusal must name vacuum as the cause")
  }
}
