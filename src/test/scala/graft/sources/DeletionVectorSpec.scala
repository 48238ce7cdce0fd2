package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deletion-vector contract for SnapshotTable (the q287 gate's unit
  * matrix): a DV delete commits row removals WITHOUT touching any data
  * file; stacked DVs compose; older snapshots are isolated from later
  * DVs; every mutation carries DVs forward; compact rewrites every
  * DV-referenced partition so the fold is complete and idempotent;
  * vacuum reclaims unreferenced DV sidecars; and mergeBatch makes a
  * replayed CDC batch a no-op.
  */
class DeletionVectorSpec extends SparkSpec {

  private def mkDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("k", "p")
  }

  private def keys(dir: String, version: Option[Long] = None): Set[Long] =
    SnapshotTable.read(spark, dir, version)
      .select(col("k").cast("long"))
      .collect().map(_.getLong(0)).toSet

  test("deleteWhereDV removes rows without rewriting any data file") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))), "p")
    val (_, f1, dv1) = SnapshotTable.latestFull(spark, dir).get
    assert(dv1.isEmpty)
    val (v2, n) = SnapshotTable.deleteWhereDV(spark, dir, col("k") % 2 === 0)
    assert(v2 == 2L && n == 2L)
    val (_, f2, dv2) = SnapshotTable.latestFull(spark, dir).get
    assert(f2 == f1, "data-file list must be untouched by a DV delete")
    assert(dv2.nonEmpty && dv2.forall(_.startsWith("_dv/")))
    assert(keys(dir) == Set(1L, 3L))
    // older snapshot isolated from the DV
    assert(keys(dir, Some(1L)) == Set(1L, 2L, 3L, 4L))
  }

  test("stacked DVs compose; re-deleting a deleted row is a no-op") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf((1L to 10L).map(k => (k, k % 2))), "p")
    val (_, n1) = SnapshotTable.deleteWhereDV(spark, dir, col("k") <= 3)
    assert(n1 == 3L)
    // k <= 5 overlaps the first delete: only 4 and 5 are still live
    val (_, n2) = SnapshotTable.deleteWhereDV(spark, dir, col("k") <= 5)
    assert(n2 == 2L, s"already-deleted rows must not re-count: $n2")
    assert(keys(dir) == (6L to 10L).toSet)
  }

  test("no-match DV delete commits nothing") {
    val dir = tempDir("t")
    val v1 = SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L))), "p")
    val (v, n) = SnapshotTable.deleteWhereDV(spark, dir, col("k") > 100)
    assert(v == v1 && n == 0L)
    assert(SnapshotTable.latest(spark, dir).get._1 == v1)
  }

  test("append and merge carry deletion vectors forward") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L), (3L, 1L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)
    SnapshotTable.append(spark, dir, mkDf(Seq((4L, 1L))), "p")
    assert(keys(dir) == Set(1L, 3L, 4L), "append must not resurrect k=2")
    // merge rewrites partition p=1 (k=3 matched) but must keep the DV
    // that suppresses k=2 in untouched partition p=0
    SnapshotTable.merge(spark, dir, "p", "k", mkDf(Seq((3L, 1L))))
    assert(keys(dir) == Set(1L, 3L, 4L), "merge must not resurrect k=2")
  }

  test("compact folds DVs COMPLETELY: DV-referenced partitions rewrite " +
      "even when not crowded, and OPTIMIZE is idempotent") {
    val dir = tempDir("t")
    // p=0 gets TWO files (crowded); p=1 one file — but p=1 holds a live
    // DV row, so it must rewrite too or its deletion could never fold
    // (ADVICE r13: the old skip left uncrowded partitions' DVs pinned
    // forever and every compact call re-staged an identical DV set)
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (3L, 1L), (4L, 1L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((2L, 0L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k").isin(2L, 3L))
    val before = keys(dir)
    assert(before == Set(1L, 4L))
    val (v1, compacted) = SnapshotTable.compact(spark, dir, "p")
    assert(compacted == Seq("p=0", "p=1"),
      "every partition with a live DV row is a rewrite candidate")
    val (_, files, dvs) = SnapshotTable.latestFull(spark, dir).get
    assert(keys(dir) == before, "compaction must not change the relation")
    assert(dvs.isEmpty,
      "a complete fold returns the table to the DV-free fast read path")
    assert(files.exists(_.startsWith("p=1/")))
    // idempotent: nothing left to do -> NO new commit, same version back
    val (v2, again) = SnapshotTable.compact(spark, dir, "p")
    assert(v2 == v1 && again.isEmpty,
      s"a no-op OPTIMIZE must not commit (v1=$v1, v2=$v2)")
    SnapshotTable.vacuum(spark, dir, retain = 1)
    assert(keys(dir) == before)
  }

  test("compact with every partition crowded folds ALL DVs away") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (3L, 1L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((2L, 0L), (4L, 1L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k").isin(2L, 3L))
    SnapshotTable.compact(spark, dir, "p")
    val (_, _, dvs) = SnapshotTable.latestFull(spark, dir).get
    assert(dvs.isEmpty, s"all files rewritten -> no DV survives: $dvs")
    assert(keys(dir) == Set(1L, 4L))
  }

  test("vacuum reclaims DV sidecars no retained manifest references") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L), (3L, 0L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((4L, 0L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)
    SnapshotTable.compact(spark, dir, "p") // folds the DV away
    val dvDir = new java.io.File(dir, "_dv")
    assert(Option(dvDir.listFiles()).exists(_.nonEmpty),
      "pre-vacuum: the orphaned DV sidecar still sits on disk")
    val deleted = SnapshotTable.vacuum(spark, dir, retain = 1)
    assert(deleted > 0)
    assert(Option(dvDir.listFiles()).forall(_.isEmpty) || !dvDir.exists(),
      "post-vacuum: no unreferenced DV sidecar remains")
    assert(keys(dir) == Set(1L, 3L, 4L))
  }

  test("write (full replace) clears deletion vectors") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 1L)
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L))), "p")
    val (_, _, dvs) = SnapshotTable.latestFull(spark, dir).get
    assert(dvs.isEmpty, "a replace defines fresh content; stale DVs must not apply")
    assert(keys(dir) == Set(1L, 2L))
  }

  test("readAppendsSince fails loudly when a DV landed in between") {
    val dir = tempDir("t")
    val v1 = SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 1L)
    // a file-list diff cannot see the deletion — an incremental
    // maintainer must be told to rebuild, never silently go stale
    val e = intercept[IllegalStateException] {
      SnapshotTable.readAppendsSinceVersioned(spark, dir, v1)
    }
    assert(e.getMessage.contains("deletion-vector set changed"), e.getMessage)
    // once the DV is folded away AND the fold's rewrites are the only
    // delta, the diff path reports the rewritten files (the documented
    // rewrite-resurfacing contract), not an error
    SnapshotTable.compact(spark, dir, "p")
    val v4 = SnapshotTable.latest(spark, dir).get._1
    SnapshotTable.append(spark, dir, mkDf(Seq((9L, 1L))), "p")
    val got = SnapshotTable.readAppendsSince(spark, dir, v4).get
      .select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
    assert(got == Set(9L))
  }

  test("plan pin: DV-free read keeps the plain scan; DV'd read joins") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L))), "p")
    val plain = SnapshotTable.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plain.contains("Join") && !plain.contains("row_index"),
      s"a DV-free table must pay zero read overhead:\n$plain")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 1L)
    val dvd = SnapshotTable.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(dvd.contains("LeftAnti"),
      s"a DV'd read must anti-join the address set:\n$dvd")
  }

  test("mergeBatch: replayed batch returns its version without re-applying") {
    val dir = tempDir("t")
    val v1 = SnapshotTable.mergeBatch(spark, dir, "p", "k",
      mkDf(Seq((1L, 0L), (2L, 1L))), batchId = 0L, queryId = "t")
    assert(v1 == 1L)
    val up = mkDf(Seq((2L, 1L))).withColumn("k", col("k")) // replace k=2
    val v2 = SnapshotTable.mergeBatch(spark, dir, "p", "k", up, 1L, "t")
    assert(v2 == 2L)
    // replay batch 1 (checkpoint lost): must return v2, commit nothing
    val vr = SnapshotTable.mergeBatch(spark, dir, "p", "k", up, 1L, "t")
    assert(vr == v2)
    assert(SnapshotTable.latest(spark, dir).get._1 == v2)
    // replay batch 0 (ancient id): still detected
    val vr0 = SnapshotTable.mergeBatch(spark, dir, "p", "k",
      mkDf(Seq((1L, 0L), (2L, 1L))), 0L, "t")
    assert(vr0 == v1)
    assert(SnapshotTable.latest(spark, dir).get._1 == v2)
    assert(keys(dir) == Set(1L, 2L))
  }

  test("compact rewrites N crowded partitions in parallel tasks, " +
      "keeping the per-partition file bound (VERDICT r13 #3)") {
    import spark.implicits._
    val df = (1 to 6000).map(i => (i.toLong, (i % 6).toLong)).toDF("k", "p")
    // the layout compact stages: hashing on the partition column gives
    // each value its own task — the r13 repartition(targetFiles=1)
    // funneled all six partitions through ONE task
    val laid = SnapshotTable.compactLayout(df, 6, 1, "p")
    val pids = laid
      .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"),
        col("p"))
      .groupBy("p").agg(countDistinct("pid").as("npid"),
        first("pid").as("pid"))
      .collect()
    assert(pids.forall(_.getLong(1) == 1L),
      "targetFiles=1 demands exactly one task per partition value")
    assert(pids.map(_.getInt(2)).distinct.length > 1,
      "N crowded partitions must rewrite in >1 task, not a single funnel")
    // targetFiles=2 spreads each value over AT MOST 2 tasks
    val laid2 = SnapshotTable.compactLayout(df, 6, 2, "p")
    val spread = laid2
      .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"),
        col("p"))
      .groupBy("p").agg(countDistinct("pid").as("npid")).collect()
    assert(spread.forall(_.getLong(1) <= 2L),
      "targetFiles=2 must bound each partition's task (=file) count at 2")
    // end to end: the staged rewrite honors the file bound
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, df.filter(col("k") % 2 === 0), "p")
    SnapshotTable.append(spark, dir, df.filter(col("k") % 2 =!= 0), "p")
    SnapshotTable.compact(spark, dir, "p", targetFiles = 1)
    val byPart = SnapshotTable.latest(spark, dir).get._2
      .groupBy(_.split('/').head)
    assert(byPart.size == 6 && byPart.values.forall(_.size == 1),
      s"one file per partition after OPTIMIZE: ${byPart.view.mapValues(_.size).toMap}")
    assert(SnapshotTable.read(spark, dir).count() == 6000L)
  }
}
