package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Data-skipping index contract (the q290 gate's unit matrix):
  * writeClustered commits per-file min/max manifest stats; readRange
  * prunes by manifest arithmetic and NEVER changes the relation;
  * files without stats are conservatively scanned; mutations carry
  * stats for surviving files and drop them for rewritten ones; DVs
  * compose with pruned reads.
  */
class SnapshotStatsSpec extends SparkSpec {

  private def mkDf(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i % 3).toLong, i * 10L)).toDF("k", "p", "v")
  }

  test("writeClustered commits stats for every data file") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(400), "p", "k", rangeParts = 8)
    val files = SnapshotTable.latest(spark, dir).get._2
    val stats = SnapshotTable.fileStats(spark, dir, "k")
    assert(stats.keySet == files.toSet, "every file must carry stats")
    stats.foreach { case (_, (mn, mx)) => assert(mn <= mx) }
    // clustered: global min/max across files must cover the domain
    assert(stats.values.map(_._1).min == 1L && stats.values.map(_._2).max == 400L)
  }

  test("readRange equals the full-scan filter on every probe range") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(500), "p", "k", rangeParts = 8)
    val total = SnapshotTable.latest(spark, dir).get._2.size
    for ((lo, hi) <- Seq((1L, 500L), (100L, 160L), (499L, 700L), (250L, 250L))) {
      val (df, kept, tot) = SnapshotTable.readRange(spark, dir, "k", lo, hi)
      assert(tot == total)
      val got = df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      val want = (math.max(1L, lo) to math.min(500L, hi)).toSet
      assert(got == want, s"range [$lo,$hi]: kept=$kept")
      if (hi - lo < 100) assert(kept < tot, s"narrow range [$lo,$hi] must prune")
    }
  }

  test("slice count derives from the corpus under the target-rows knob") {
    val dir = tempDir("t")
    spark.conf.set("spark.graft.cluster.targetSliceRows", "50")
    try SnapshotTable.writeClustered(spark, dir, mkDf(1000), "p", "k")
    finally spark.conf.unset("spark.graft.cluster.targetSliceRows")
    // 1000 rows at 50 rows/slice = 20 slices (> the 16 floor); each
    // slice spans all 3 partition values, so ≥ 20 files land and every
    // file covers at most one slice's key width
    val files = SnapshotTable.latest(spark, dir).get._2
    assert(files.size >= 20, s"expected ≥20 files, got ${files.size}")
    val stats = SnapshotTable.fileStats(spark, dir, "k")
    assert(stats.values.forall { case (mn, mx) => mx - mn <= 120 },
      "a constant slice count would leave n/16-row files; the derived " +
        s"count must bound per-file key width: $stats")
  }

  test("plan pin: a pruned read's scan touches ONLY the live files") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(400), "p", "k", rangeParts = 8)
    val (df, kept, tot) = SnapshotTable.readRange(spark, dir, "k", 100L, 150L)
    assert(kept < tot)
    // inputFiles is the planned scan set — pruning must hold at the
    // plan, not just in the row counts
    assert(df.inputFiles.length == kept,
      s"planned ${df.inputFiles.length} files, pruned set is $kept")
  }

  test("out-of-domain range prunes to zero files and zero rows") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(100), "p", "k", rangeParts = 4)
    val (df, kept, _) = SnapshotTable.readRange(spark, dir, "k", 1000L, 2000L)
    assert(kept == 0 && df.count() == 0L)
    assert(df.columns.contains("k"), "empty relation keeps the schema")
  }

  test("a plain append's files have no stats and are always scanned") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(100), "p", "k", rangeParts = 4)
    import spark.implicits._
    SnapshotTable.append(spark, dir,
      Seq((1000L, 0L, 1L)).toDF("k", "p", "v"), "p")
    val files = SnapshotTable.latest(spark, dir).get._2
    val stats = SnapshotTable.fileStats(spark, dir, "k")
    assert(stats.size < files.size, "the appended file must lack stats")
    // the un-statsed file is kept even for a range it can't satisfy —
    // conservative, never wrong
    val (df, kept, _) = SnapshotTable.readRange(spark, dir, "k", 1L, 10L)
    assert(kept > 0)
    assert(df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == (1L to 10L).toSet)
    // and a range only the appended row satisfies still finds it
    val (df2, _, _) = SnapshotTable.readRange(spark, dir, "k", 900L, 1100L)
    assert(df2.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == Set(1000L))
  }

  test("deleteWhere drops rewritten partitions' stats, keeps the rest") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(300), "p", "k", rangeParts = 4)
    val before = SnapshotTable.fileStats(spark, dir, "k")
    SnapshotTable.deleteWhere(spark, dir, "p", col("p") === 0L && col("k") <= 3L)
    val files = SnapshotTable.latest(spark, dir).get._2.toSet
    val after = SnapshotTable.fileStats(spark, dir, "k")
    assert(after.keySet.subsetOf(files), "no stats line may dangle")
    assert(after.keySet.subsetOf(before.keySet),
      "rewritten files must not inherit stale stats")
    assert(after.nonEmpty && after.size < before.size)
    // correctness through the partial index: p=0's rewritten file is
    // un-statsed (always scanned); p=1/p=2 files still prune
    val (df, _, _) = SnapshotTable.readRange(spark, dir, "k", 1L, 10L)
    assert(df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
      == (1L to 10L).toSet -- Seq(3L)) // k=3 has p=0 (3%3=0) and was deleted
  }

  test("deletion vectors apply through a pruned range read") {
    val dir = tempDir("t")
    SnapshotTable.writeClustered(spark, dir, mkDf(400), "p", "k", rangeParts = 8)
    SnapshotTable.deleteWhereDV(spark, dir, col("k") % 10 === 0)
    val (df, kept, tot) = SnapshotTable.readRange(spark, dir, "k", 95L, 130L)
    assert(kept < tot, "stats must survive the DV commit and still prune")
    val got = df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
    assert(got == (95L to 130L).filterNot(_ % 10 == 0).toSet)
  }

  test("an all-null stats column neither crashes the stats pass nor " +
      "breaks the read (ADVICE r13: the NPE on Row.getLong(null))") {
    import spark.implicits._
    val dir = tempDir("t")
    val df = (1 to 50)
      .map(i => (i.toLong, (i % 2).toLong, Option.empty[Long]))
      .toDF("k", "p", "nv")
    SnapshotTable.writeClustered(spark, dir, df, "p", "nv", rangeParts = 4)
    assert(SnapshotTable.fileStats(spark, dir, "nv").isEmpty,
      "a file whose stats column is entirely null gets no stats line")
    // stat-less files are conservatively scanned: the relation is exact
    val (ranged, keptN, totN) = SnapshotTable.readRange(spark, dir, "nv", 0L, 10L)
    assert(keptN == totN, "no stats -> nothing may be pruned")
    assert(ranged.count() == 0L, "null never satisfies BETWEEN")
    assert(SnapshotTable.read(spark, dir).count() == 50L)
  }

  test("a stats column whose NAME carries the '|' delimiter is rejected " +
      "at write time; a partition VALUE carrying it round-trips") {
    import spark.implicits._
    val dir = tempDir("t")
    intercept[IllegalArgumentException] {
      SnapshotTable.writeClustered(spark, dir,
        Seq((1L, 0L)).toDF("a|b", "p"), "p", "a|b")
    }
    // the '|' in a partition VALUE lands in the stats line's file path —
    // the limit-4, file-last format parses it back exactly
    val df = (1 to 40).map(i => (i.toLong, s"x|${i % 2}")).toDF("k", "p")
    SnapshotTable.writeClustered(spark, dir, df, "p", "k", rangeParts = 4)
    val stats = SnapshotTable.fileStats(spark, dir, "k")
    assert(stats.nonEmpty && stats.keySet ==
      SnapshotTable.latest(spark, dir).get._2.toSet,
      "stats must address every file even under a '|' partition value")
    val (ranged, kept, tot) = SnapshotTable.readRange(spark, dir, "k", 1L, 10L)
    assert(kept < tot && ranged.count() == 10L)
  }

  test("URI-hostile partition values (space, '%', '#', '+'): DV deletes " +
      "apply, stats address files, compact folds without resurrection") {
    import spark.implicits._
    val dir = tempDir("t")
    val vals = Seq("a b", "a%b", "a#b", "a+b")
    val df = (1 to 80).map(i => (i.toLong, vals(i % 4))).toDF("k", "p")
    SnapshotTable.writeClustered(spark, dir, df, "p", "k", rangeParts = 2)
    // the scan-side address is URI-decoded back to the manifest's raw
    // disk name — without that, these values mismatch everywhere an
    // address joins a file list (ADVICE r13: silent resurrection)
    val (_, n) = SnapshotTable.deleteWhereDV(spark, dir, col("k") <= 8L)
    assert(n == 8L, s"DV delete matched $n rows, expected 8")
    def keys(): Set[Long] = SnapshotTable.read(spark, dir)
      .select(col("k").cast("long")).collect().map(_.getLong(0)).toSet
    assert(keys() == (9L to 80L).toSet)
    val stats = SnapshotTable.fileStats(spark, dir, "k")
    assert(stats.keySet == SnapshotTable.latest(spark, dir).get._2.toSet,
      "stats keys must equal manifest paths under URI-hostile values")
    val (_, compacted) = SnapshotTable.compact(spark, dir, "p")
    assert(compacted.size == 4, s"all 4 partitions hold DV rows: $compacted")
    val (_, _, dvs) = SnapshotTable.latestFull(spark, dir).get
    assert(dvs.isEmpty, "the fold must be complete")
    assert(keys() == (9L to 80L).toSet,
      "compaction resurrected DV-deleted rows under URI-hostile values")
    SnapshotTable.read(spark, dir).select(col("p")).distinct()
      .collect().map(_.getString(0)).toSet
      .ensuring(_ == vals.toSet, "partition values must round-trip exactly")
  }
}
