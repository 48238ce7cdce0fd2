package graft.sources

import graft.SparkSpec

/** Scale shape of the r17 manifest protocol (VERDICT r16 #1): with
  * 10^4+ files in the table, commit cost and latestState cost must be
  * DELTA-sized, not file-count-sized — delta manifests carry only the
  * changed lines, a parquet checkpoint sidecar lands every
  * checkpointInterval commits, reconstruction replays at most the delta
  * tail since the nearest checkpoint/full manifest, and vacuum
  * materializes a checkpoint at its kept floor before reclaiming the
  * manifests a kept version's delta chain ran through.
  *
  * The file lists are SYNTHETIC (commitAt never stats data files):
  * 2*10^4 names exercise the manifest protocol's file-count axis without
  * minutes of parquet staging — the axis under test is metadata cost.
  */
class ManyFilesManifestSpec extends SparkSpec {

  private def manifestLen(dir: String, v: Long): Long =
    java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "_manifests", s"v$v.manifest"))

  private def manifestText(dir: String, v: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_manifests", s"v$v.manifest"))
      .asScala.toSeq
  }

  private def readsFor(body: => Unit): Long = {
    val before = SnapshotTable.manifestReadCount.get()
    body
    SnapshotTable.manifestReadCount.get() - before
  }

  test("commit cost is flat in file count: delta manifests at 2*10^4 " +
      "files, checkpoints on cadence, exact reconstruction cold") {
    val dir = tempDir("t")
    val base = (1 to 20000).map(i => f"p=0/snap-syn-$i%05d.parquet")
    assert(SnapshotTable.commitAt(spark, dir, 0L, Manifest.Snapshot(base), Map.empty))
    // v1 is the create — necessarily full (file-count-sized)
    assert(manifestLen(dir, 1L) > 400000L,
      s"v1 should be the full 20k-line manifest: ${manifestLen(dir, 1L)}")

    // 40 append-shaped commits: each adds ONE file to a 20k-file table
    var files = base
    (2 to 41).foreach { v =>
      files = files :+ f"p=0/snap-syn-app$v%03d.parquet"
      assert(SnapshotTable.commitAt(spark, dir, v - 1L, Manifest.Snapshot(files), Map.empty))
    }
    // the commit-cost pin: an append commit's manifest is DELTA-sized
    // (one + line + headers), not file-count-sized — flat in file count
    (2L to 41L).foreach { v =>
      assert(manifestLen(dir, v) < 2048L,
        s"v$v manifest is ${manifestLen(dir, v)} bytes — not delta-sized")
    }
    assert(manifestText(dir, 2L).exists(_.startsWith("#base=1")),
      "append commits must publish deltas against the previous version")
    // checkpoint cadence (default interval 16): sidecars at v16 and v32
    for (cv <- Seq(16L, 32L))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        dir, "_manifests", s"ckpt.v$cv.parquet")),
        s"expected checkpoint sidecar at v$cv")

    // COLD reconstruction: exact file list, and the walk is bounded by
    // the checkpoint interval, not by history length or file count
    SnapshotTable.clearMetadataCaches()
    var got: Seq[String] = Seq.empty
    val coldReads = readsFor {
      got = SnapshotTable.latest(spark, dir).get._2
    }
    assert(got == files, "cold reconstruction must be exact (order too)")
    assert(coldReads <= 17L,
      s"cold latestState read $coldReads manifests — the checkpoint at " +
        "v32 should bound the walk to the delta tail")

    // a WARM commit on the 20k-file table reads O(1) manifests
    SnapshotTable.latest(spark, dir) // warm the state memo
    files = files :+ "p=0/snap-syn-warm.parquet"
    val warmReads = readsFor {
      assert(SnapshotTable.commitAt(spark, dir, 41L, Manifest.Snapshot(files), Map.empty))
    }
    assert(warmReads <= 1L,
      s"a warm commit resolved $warmReads manifests — not O(1)")
  }

  test("rewrite-shaped commits (remove + add) delta-encode; reorders " +
      "fall back to a FULL manifest and reconstruct exactly") {
    val dir = tempDir("t")
    val base = (1 to 10000).map(i => f"p=0/snap-syn-$i%05d.parquet")
    assert(SnapshotTable.commitAt(spark, dir, 0L, Manifest.Snapshot(base), Map.empty))
    // compaction shape: drop 100 carried files, append 2 — delta-sized
    val kept = base.filterNot(_.contains("-000"))
    val v2 = kept ++ Seq("p=0/snap-syn-cmp1.parquet", "p=0/snap-syn-cmp2.parquet")
    assert(SnapshotTable.commitAt(spark, dir, 1L, Manifest.Snapshot(v2), Map.empty))
    assert(manifestLen(dir, 2L) < 8192L,
      s"remove+add commit should be delta-sized: ${manifestLen(dir, 2L)}")
    SnapshotTable.clearMetadataCaches()
    assert(SnapshotTable.latest(spark, dir).get._2 == v2)
    // restore shape: a REORDERED list is not (carry.filterNot ++ append)
    // — the writer must fall back to a full manifest, never a wrong delta
    val v3 = v2.reverse
    assert(SnapshotTable.commitAt(spark, dir, 2L, Manifest.Snapshot(v3), Map.empty))
    assert(!manifestText(dir, 3L).exists(_.startsWith("#base=")),
      "a reordered list must publish a FULL manifest")
    SnapshotTable.clearMetadataCaches()
    assert(SnapshotTable.latest(spark, dir).get._2 == v3,
      "the full-manifest fallback must reconstruct the reorder exactly")
  }

  test("vacuum materializes a checkpoint at its kept floor before " +
      "reclaiming the delta chain underneath it") {
    val dir = tempDir("t")
    val base = (1 to 5000).map(i => f"p=0/snap-syn-$i%05d.parquet")
    assert(SnapshotTable.commitAt(spark, dir, 0L, Manifest.Snapshot(base), Map.empty))
    var files = base
    (2 to 9).foreach { v => // all deltas, no cadence checkpoint yet
      files = files :+ f"p=0/snap-syn-app$v%03d.parquet"
      assert(SnapshotTable.commitAt(spark, dir, v - 1L, Manifest.Snapshot(files), Map.empty))
    }
    SnapshotTable.vacuum(spark, dir, retain = 2) // drops v1..v7
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_manifests", "v1.manifest")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      dir, "_manifests", "ckpt.v8.parquet")),
      "vacuum must checkpoint the kept floor before dropping its bases")
    // cold reconstruction of both kept versions resolves via the floor
    SnapshotTable.clearMetadataCaches()
    assert(SnapshotTable.latest(spark, dir).get._2 == files)
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dir, "_manifests/v8.manifest")))
  }

  test("metadata caches are bounded: forced eviction still reads " +
      "correctly (falls back to manifests/checkpoints/footers)") {
    val dir = tempDir("t")
    import spark.implicits._
    SnapshotTable.write(spark, dir,
      (1L to 40L).map(k => (k, k % 2)).toDF("k", "p"), "p")
    (1 to 5).foreach { i =>
      SnapshotTable.append(spark, dir,
        Seq((100L + i, 0L)).toDF("k", "p"), "p")
    }
    val expect = SnapshotTable.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toSet
    System.setProperty("graft.snapshot.cacheMaxEntries", "2")
    try {
      SnapshotTable.clearMetadataCaches()
      (1 to 3).foreach { _ =>
        val got = SnapshotTable.read(spark, dir)
          .select("k").collect().map(_.getLong(0)).toSet
        assert(got == expect, "eviction must never change what a read sees")
      }
      // a commit under constant eviction still delta-verifies or falls
      // back — either way the reconstructed state is exact
      SnapshotTable.append(spark, dir, Seq((999L, 1L)).toDF("k", "p"), "p")
      assert(SnapshotTable.read(spark, dir).select("k")
        .collect().map(_.getLong(0)).toSet == expect + 999L)
    } finally {
      System.clearProperty("graft.snapshot.cacheMaxEntries")
      SnapshotTable.clearMetadataCaches()
    }
  }
}
