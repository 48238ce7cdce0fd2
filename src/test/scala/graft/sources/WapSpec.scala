package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Write-audit-publish contract ([[SnapshotTable.writeBranch]] /
  * [[SnapshotTable.readBranch]] / [[SnapshotTable.publishBranch]] /
  * [[SnapshotTable.dropBranch]] — the Iceberg WAP pattern on the
  * manifest substrate): staged files are invisible to every reader
  * until publish; audits query the staged rows; publish is one CAS
  * append that plants the branch's exactly-once marker (the
  * `lastbatch.` machinery), so replays return the original version;
  * constraints enforce at publish, not stage; drop deletes the bytes;
  * vacuum protects a staged branch for its whole lifetime.
  */
class WapSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  private def rows(dir: String): Set[(Long, Long, Long)] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"), col("p").cast("long"),
        col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("stage → audit → drop: staged rows visible only through the " +
      "branch, bytes deleted on drop") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    def dataFiles(): Int = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(f => f.isDirectory && f.getPath.getName.contains("="))
        .flatMap(d => fs.listStatus(d.getPath)).length
    }
    val filesBefore = dataFiles()
    SnapshotTable.writeBranch(spark, dir,
      mkDf(Seq((3L, 0L, 30L), (4L, 1L, -40L))), "p", "b1")
    assert(dataFiles() > filesBefore, "staging lands real bytes")
    assert(rows(dir) == Set((1L, 0L, 10L), (2L, 1L, 20L)),
      "staged files must be invisible to table readers")
    assert(SnapshotTable.latest(spark, dir).get._1 == 1L,
      "staging commits no table version")
    assert(SnapshotTable.readBranch(spark, dir, "b1", stagedOnly = true)
      .count() == 2L)
    assert(SnapshotTable.readBranch(spark, dir, "b1").count() == 4L,
      "the audit surface is base ∪ staged")
    // a second stager of the same pending name is refused
    intercept[RuntimeException] {
      SnapshotTable.writeBranch(spark, dir, mkDf(Seq((9L, 0L, 90L))), "p", "b1")
    }
    SnapshotTable.dropBranch(spark, dir, "b1")
    intercept[RuntimeException] {
      SnapshotTable.readBranch(spark, dir, "b1")
    }
    // the staged bytes are gone from the partition dirs (vacuum-free)
    assert(dataFiles() == filesBefore,
      "dropBranch must delete exactly the staged bytes")
    SnapshotTable.dropBranch(spark, dir, "b1") // idempotent
  }

  test("publish: CAS append with exactly-once marker; constraints " +
      "enforce at publish; crash window between commit and manifest " +
      "sweep replays clean; published names are one-shot") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L))), "p")  // v1
    SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")       // v2
    SnapshotTable.writeBranch(spark, dir,
      mkDf(Seq((2L, 0L, -20L), (3L, 1L, 30L))), "p", "b1")
    // constraints gate the PUBLISH, wholesale
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.publishBranch(spark, dir, "b1")
    }
    assert(SnapshotTable.latest(spark, dir).get._1 == 2L &&
      rows(dir) == Set((1L, 0L, 10L)),
      "a refused publish must leave the table untouched")
    SnapshotTable.dropBranch(spark, dir, "b1")
    SnapshotTable.writeBranch(spark, dir,
      mkDf(Seq((2L, 0L, 20L), (3L, 1L, 30L))), "p", "b1")
    val v = SnapshotTable.publishBranch(spark, dir, "b1")            // v3
    assert(v == 3L)
    assert(rows(dir) ==
      Set((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L)))
    // replayed publish: same version, nothing re-applied
    assert(SnapshotTable.publishBranch(spark, dir, "b1") == v)
    assert(rows(dir).size == 3)
    // crash window: the commit landed but the branch manifest survived
    // (hand-recreated) — the rerun answers from the marker and sweeps it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bp = new org.apache.hadoop.fs.Path(dir,
      "_manifests/branch.b1.manifest")
    fs.create(bp, true).close()
    assert(SnapshotTable.publishBranch(spark, dir, "b1") == v)
    assert(!fs.exists(bp), "the rerun must sweep the leftover manifest")
    // the marker survives unrelated commits, and the name stays one-shot
    SnapshotTable.compact(spark, dir, "p")
    assert(SnapshotTable.publishBranch(spark, dir, "b1") == v,
      "the exactly-once marker must survive maintenance commits")
    intercept[IllegalArgumentException] {
      SnapshotTable.writeBranch(spark, dir, mkDf(Seq((9L, 0L, 90L))),
        "p", "b1")
    }
  }

  test("vacuum protects a staged branch's files for its whole " +
      "lifetime, not just the retention window") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L))), "p")
    SnapshotTable.writeBranch(spark, dir, mkDf(Seq((2L, 0L, 20L))), "p", "b1")
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 1L, 30L))), "p")
    // age every unreferenced file past retention: zero grace
    spark.conf.set("spark.graft.vacuum.retentionMs", "0")
    try SnapshotTable.vacuum(spark, dir, retain = 1)
    finally spark.conf.unset("spark.graft.vacuum.retentionMs")
    assert(SnapshotTable.readBranch(spark, dir, "b1", stagedOnly = true)
      .count() == 1L,
      "vacuum must never reclaim a staged branch's files")
    assert(SnapshotTable.publishBranch(spark, dir, "b1") > 0L)
    assert(rows(dir) == Set((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L)))
  }
}
