package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Snapshot-isolation contract for SnapshotTable (VERDICT r7 #4): a
  * reader racing a delete sees either the old or the new snapshot,
  * never a mix; old snapshots stay readable until vacuum; orphaned
  * stage files from a crashed writer are invisible and reclaimed.
  */
class SnapshotTableSpec extends SparkSpec {

  private def rows(dir: String, version: Option[Long] = None): Set[(Long, Long)] =
    SnapshotTable.read(spark, dir, version)
      .select(col("k").cast("long"), col("p").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def mkDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("k", "p")
  }

  test("timestamp travel: readAsOf resolves each commit stamp to its snapshot") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L))), "p")
    Thread.sleep(5) // distinct commit millis
    SnapshotTable.append(spark, dir, mkDf(Seq((2L, 0L))), "p")
    Thread.sleep(5)
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 1L))), "p")
    val hist = SnapshotTable.history(spark, dir)
    assert(hist.map(_._1) == Seq(3L, 2L, 1L), s"history: $hist")
    assert(hist.forall(_._3.contains("ts")), "every commit must carry its stamp")
    val ts = hist.map(h => h._1 -> h._2).toMap
    assert(ts(1L) < ts(2L) && ts(2L) < ts(3L), s"stamps must be monotone: $ts")
    def asOf(t: Long): Set[(Long, Long)] =
      SnapshotTable.readAsOf(spark, dir, t)
        .select(col("k").cast("long"), col("p").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asOf(ts(1L)) == Set((1L, 0L)), "at v1's stamp: v1")
    assert(asOf(ts(3L) - 1) == Set((1L, 0L), (2L, 0L)), "just before v3: v2")
    assert(asOf(ts(3L)) == Set((1L, 0L), (2L, 0L), (3L, 1L)), "at v3: v3")
    assert(asOf(System.currentTimeMillis() + 60000) == rows(dir), "future: latest")
    intercept[IllegalArgumentException] {
      SnapshotTable.readAsOf(spark, dir, ts(1L) - 1)
    }
  }

  test("readAppendsSince: exactly the appended rows; None when unchanged") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 1L))), "p")
    val v1 = SnapshotTable.history(spark, dir).head._1
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 0L), (4L, 2L))), "p")
    val delta = SnapshotTable.readAppendsSince(spark, dir, v1).get
      .select(col("k").cast("long"), col("p").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == Set((3L, 0L), (4L, 2L)), s"delta: $delta")
    // caught up: nothing new since the latest version
    val v2 = SnapshotTable.history(spark, dir).head._1
    assert(SnapshotTable.readAppendsSince(spark, dir, v2).isEmpty)
    // a second append chains: delta since v1 now spans both appends
    SnapshotTable.append(spark, dir, mkDf(Seq((5L, 1L))), "p")
    val both = SnapshotTable.readAppendsSince(spark, dir, v1).get.count()
    assert(both == 3L, s"since-v1 delta rows: $both")
    // the versioned variant reports the snapshot the diff was computed
    // against — what a read-modify-write maintainer must record as
    // covered (re-reading latest() after the diff is the ADVICE-r10
    // TOCTOU: an append in between would be marked covered unseen)
    val (dv, dRows) = SnapshotTable.readAppendsSinceVersioned(spark, dir, v1).get
    assert(dv == SnapshotTable.history(spark, dir).head._1, s"diffed-against: $dv")
    assert(dRows.count() == 3L)
  }

  test("publishIfAbsent is a CAS on the local filesystem: second publisher loses, winner's bytes survive") {
    import org.apache.hadoop.fs.Path
    val base = tempDir()
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkTmp(name: String, content: String): Path = {
      val t = new Path(p, name)
      val out = fs.create(t, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      t
    }
    val dest = new Path(p, "v7.manifest")
    val a = mkTmp(".a.tmp", "writer-A\n")
    val b = mkTmp(".b.tmp", "writer-B\n")
    assert(SnapshotTable.publishIfAbsent(fs, a, dest), "first publish wins")
    // POSIX rename(2) would silently REPLACE here — the CAS must refuse
    assert(!SnapshotTable.publishIfAbsent(fs, b, dest),
      "second publish of the same version must lose")
    val in = fs.open(dest)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(content == "writer-A\n", s"winner's bytes must survive: '$content'")
    assert(!fs.exists(a), "winner's tmp is consumed by the publish")
    assert(fs.exists(b), "loser's tmp is left for the caller to clean")
  }

  test("deleteWhere commits atomically: every racing read is exactly old or new") {
    val dir = tempDir("t")
    val all = (1L to 400L).map(k => (k, k % 4))
    SnapshotTable.write(spark, dir, mkDf(all), "p")
    val oldSnap = all.toSet
    val newSnap = all.filterNot { case (k, _) => k % 10 == 0 }.toSet

    // reader thread: spin latest-resolve + full reads during the delete
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) seen.add(rows(dir))
    })
    reader.start()
    try {
      val (v2, affected) = SnapshotTable.deleteWhere(spark, dir, "p", col("k") % 10 === 0)
      assert(v2 == 2L)
      assert(affected == Seq("0", "2")) // multiples of 10 live in p=0 and p=2
    } finally { stop.set(true); reader.join() }
    seen.add(rows(dir)) // at least one post-commit read
    val distinct = seen.toArray(Array.empty[Set[(Long, Long)]]).toSet
    assert(distinct.nonEmpty && distinct.subsetOf(Set(oldSnap, newSnap)),
      s"a read observed a mixed snapshot: sizes ${distinct.map(_.size)}")
    assert(rows(dir) == newSnap)
  }

  test("old snapshot stays byte-stable until vacuum; vacuum reclaims it") {
    val dir = tempDir("t")
    val all = (1L to 100L).map(k => (k, k % 2))
    SnapshotTable.write(spark, dir, mkDf(all), "p")
    SnapshotTable.deleteWhere(spark, dir, "p", col("k") <= 50)
    // time travel: v1 still complete after the delete committed v2
    assert(rows(dir, Some(1L)) == all.toSet)
    assert(rows(dir) == all.filter(_._1 > 50).toSet)
    val deleted = SnapshotTable.vacuum(spark, dir)
    assert(deleted > 0, "vacuum should reclaim v1-only files")
    assert(rows(dir) == all.filter(_._1 > 50).toSet, "latest snapshot untouched")
    intercept[IllegalArgumentException](SnapshotTable.read(spark, dir, Some(1L)))
  }

  test("a full-partition delete drops the partition from the snapshot") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 0L), (3L, 1L))), "p")
    val (_, affected) = SnapshotTable.deleteWhere(spark, dir, "p", col("p") === 0)
    assert(affected == Seq("0"))
    assert(rows(dir) == Set((3L, 1L)))
  }

  test("orphaned stage files: invisible to readers, PROTECTED by the " +
      "retention window while fresh, reclaimed once aged") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 1L))), "p")
    // simulate a writer that staged a data file but died before commit
    mkDf(Seq((99L, 0L))).where(col("p") === 0).drop("p")
      .write.mode("overwrite").parquet(dir + "/__crash")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphanSrc = fs.listStatus(new org.apache.hadoop.fs.Path(dir + "/__crash"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(dir, "p=0/snap-dead-0.parquet")
    fs.rename(orphanSrc, orphan)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/__crash"), true)
    assert(rows(dir) == Set((1L, 0L), (2L, 1L)), "orphan must be invisible to readers")
    // a never-referenced file inside the retention window could be an
    // IN-FLIGHT writer's stage (rename lands before the manifest
    // publishes) — vacuum must leave it alone (ADVICE r13)
    assert(SnapshotTable.vacuum(spark, dir) == 0,
      "vacuum swept a fresh never-referenced file — an in-flight " +
        "writer's stage window is not safe")
    assert(fs.exists(orphan))
    // age it past the window: now it is a genuine crash orphan
    fs.setTimes(orphan, System.currentTimeMillis() - 24L * 3600 * 1000, -1)
    assert(SnapshotTable.vacuum(spark, dir) == 1)
    assert(!fs.exists(orphan))
    assert(rows(dir) == Set((1L, 0L), (2L, 1L)))
  }

  test("appends are snapshots too and versions are monotone") {
    val dir = tempDir("t")
    assert(SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L))), "p") == 1L)
    assert(SnapshotTable.append(spark, dir, mkDf(Seq((2L, 1L))), "p") == 2L)
    assert(SnapshotTable.append(spark, dir, mkDf(Seq((3L, 0L))), "p") == 3L)
    assert(rows(dir) == Set((1L, 0L), (2L, 1L), (3L, 0L)))
    assert(rows(dir, Some(2L)) == Set((1L, 0L), (2L, 1L)))
  }

  private def mkDf3(triples: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    triples.toDF("k", "p", "v")
  }

  private def rows3(dir: String): Set[(Long, Long, String)] =
    SnapshotTable.read(spark, dir, None)
      .select(col("k").cast("long"), col("p").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def manifestFiles(dir: String): Seq[String] =
    SnapshotTable.latest(spark, dir).get._2

  test("merge replaces matched rows, inserts the rest, and leaves untouched partitions' files alone") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf3(Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"), (4L, 2L, "d"))), "p")
    val before = manifestFiles(dir)
    // k=2 updated in place, k=3 MOVES p=1 -> p=2, k=9 inserted
    val (v, replaced, inserted) = SnapshotTable.merge(spark, dir, "p", "k",
      mkDf3(Seq((2L, 0L, "B"), (3L, 2L, "C"), (9L, 1L, "x"))))
    assert(v == 2L && replaced == 2L && inserted == 1L)
    assert(rows3(dir) == Set(
      (1L, 0L, "a"), (2L, 0L, "B"), (3L, 2L, "C"), (4L, 2L, "d"), (9L, 1L, "x")))
    // p=0 and p=1 contained matched keys -> rewritten; p=2 had none, so
    // its old file (k=4's) must carry over and the row arriving INTO
    // p=2 (k=3's move) lands as a new file beside it
    val after = manifestFiles(dir)
    val oldP2 = before.filter(_.startsWith("p=2/"))
    assert(oldP2.forall(after.contains), "unmatched partition's files must carry over")
    // old snapshot time-travels intact
    assert(SnapshotTable.read(spark, dir, Some(1L)).count() == 4L)
  }

  test("merge rejects duplicate update keys; empty table degenerates to create") {
    val dir = tempDir("t")
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir, "p", "k",
        mkDf3(Seq((1L, 0L, "a"), (1L, 0L, "b"))))
    }
    val (v, replaced, inserted) = SnapshotTable.merge(spark, dir, "p", "k",
      mkDf3(Seq((1L, 0L, "a"), (2L, 1L, "b"))))
    assert(v == 1L && replaced == 0L && inserted == 2L)
    // no matches: pure append, prior files all kept
    val before = manifestFiles(dir)
    val (v2, r2, i2) = SnapshotTable.merge(spark, dir, "p", "k",
      mkDf3(Seq((5L, 0L, "e"))))
    assert(v2 == 2L && r2 == 0L && i2 == 1L)
    assert(before.forall(manifestFiles(dir).contains))
    assert(rows3(dir) == Set((1L, 0L, "a"), (2L, 1L, "b"), (5L, 0L, "e")))
  }

  test("appendBatch is idempotent on batch id (exactly-once replay contract)") {
    val dir = tempDir("t")
    val v0 = SnapshotTable.appendBatch(spark, dir, mkDf(Seq((1L, 0L))), "p", 0L)
    val v1 = SnapshotTable.appendBatch(spark, dir, mkDf(Seq((2L, 1L))), "p", 1L)
    // driver died post-commit, engine replays batch 1: no-op, same version
    val v1r = SnapshotTable.appendBatch(spark, dir, mkDf(Seq((2L, 1L))), "p", 1L)
    assert(v1r == v1 && v1 == v0 + 1)
    assert(rows(dir) == Set((1L, 0L), (2L, 1L)), "replay must not duplicate rows")
    val v2 = SnapshotTable.appendBatch(spark, dir, mkDf(Seq((3L, 0L))), "p", 2L)
    assert(v2 == v1 + 1)
    assert(rows(dir) == Set((1L, 0L), (2L, 1L), (3L, 0L)))
    // a different query's batch 1 is NOT the same batch
    val vq = SnapshotTable.appendBatch(spark, dir, mkDf(Seq((4L, 1L))), "p", 1L, "q2")
    assert(vq == v2 + 1)
    assert(rows(dir).contains((4L, 1L)))
  }

  test("schema evolution: appending a new column surfaces nulls on old files") {
    import spark.implicits._
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 1L))), "p")
    // the v2 batch carries an extra column; v1's files never get rewritten
    SnapshotTable.append(spark, dir,
      Seq((3L, 0L, "x")).toDF("k", "p", "tag"), "p")
    val out = SnapshotTable.read(spark, dir, None)
    assert(out.columns.toSet == Set("k", "p", "tag"))
    val byK = out.collect().map(r => r.getLong(out.columns.indexOf("k")) ->
      Option(r.get(out.columns.indexOf("tag")))).toMap
    assert(byK == Map(1L -> None, 2L -> None, 3L -> Some("x")))
    // time travel to v1 still shows the original two-column schema
    assert(SnapshotTable.read(spark, dir, Some(1L)).columns.toSet == Set("k", "p"))
  }

  test("compact coalesces crowded partitions into one file, rows identical") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L), (2L, 1L))), "p")
    (3L to 8L).foreach(k =>
      SnapshotTable.append(spark, dir, mkDf(Seq((k, k % 2))), "p"))
    val before = rows(dir)
    val byPart = manifestFiles(dir).groupBy(_.split('/').head)
    assert(byPart.values.exists(_.size > 1), "fixture should be fragmented")
    val (v, compacted) = SnapshotTable.compact(spark, dir, "p")
    assert(compacted.nonEmpty)
    val afterByPart = manifestFiles(dir).groupBy(_.split('/').head)
    assert(afterByPart.values.forall(_.size == 1), s"still fragmented: $afterByPart")
    assert(rows(dir) == before, "compaction must be row-identical")
    // pre-compaction snapshot still time-travels
    assert(rows(dir, Some(v - 1)) == before)
    // second compact is a no-op at the same version
    assert(SnapshotTable.compact(spark, dir, "p") == ((v, Nil)))
  }
}
