package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bloom point-lookup index contract ([[SnapshotTable.analyzeBloom]] /
  * [[SnapshotTable.readPointLookup]] — the Delta bloom-filter-index
  * idea): per-file sketches of xxhash64(column) prune point predicates
  * on UNCLUSTERED high-cardinality columns where min/max stats are
  * useless; the index is a parquet sidecar pointed at by a carried
  * header; lookups are exact (pruning only ever drops files that
  * CANNOT contain the value), un-indexed files scan conservatively,
  * and the sidecar follows vacuum's three-way reclaim rule.
  */
class BloomIndexSpec extends SparkSpec {

  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, k % 2, k * 7L)).toDF("k", "p", "v")
  }

  test("analyzeBloom prunes point lookups exactly, extends incrementally, " +
      "is idempotent, and composes with DV deletes") {
    val dir = tempDir("t")
    // interleaved appends: every file spans the key domain — min/max
    // stats could never prune a point predicate here
    (0 until 4).foreach { i =>
      val chunk = mkDf((1L to 400L).filter(_ % 4 == i))
      if (i == 0) SnapshotTable.write(spark, dir, chunk, "p")
      else SnapshotTable.append(spark, dir, chunk, "p")
    }
    val v = SnapshotTable.analyzeBloom(spark, dir, "k", bitsPerFile = 1L << 14)
    assert(v == 5L)
    assert(SnapshotTable.analyzeBloom(spark, dir, "k", 1L << 14) == v,
      "full coverage re-analyzes to a no-op, no new commit")
    // every present key is found exactly; most files prune
    val (df, kept, tot) = SnapshotTable.readPointLookup(spark, dir, "k", 123L)
    assert(df.select(col("v").cast("long")).collect().map(_.getLong(0)).toSeq
      == Seq(123L * 7))
    assert(kept < tot, s"bloom must prune some of $tot files (kept $kept)")
    // an absent value prunes everything (modulo fp) and returns no rows
    val (dfA, keptA, totA) =
      SnapshotTable.readPointLookup(spark, dir, "k", 999999L)
    assert(dfA.count() == 0L)
    assert(keptA * 2 <= totA, s"absent-value lookup kept $keptA/$totA")
    // a new append is NOT indexed -> conservatively scanned, still exact
    SnapshotTable.append(spark, dir, mkDf(Seq(5000L)), "p")
    val (dfN, _, _) = SnapshotTable.readPointLookup(spark, dir, "k", 5000L)
    assert(dfN.count() == 1L, "un-indexed files must be scanned")
    // incremental: only the new file gets a sketch, lookups now prune it
    SnapshotTable.analyzeBloom(spark, dir, "k", 1L << 14)
    val (dfI, keptI, totI) =
      SnapshotTable.readPointLookup(spark, dir, "k", 123L)
    assert(dfI.count() == 1L && keptI < totI)
    // DV delete composes: the looked-up row can be erased
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 123L)
    val (dfD, _, _) = SnapshotTable.readPointLookup(spark, dir, "k", 123L)
    assert(dfD.count() == 0L, "DVs must apply through the pruned lookup")
  }

  test("the index header carries across commit classes and vacuum keeps " +
      "the referenced sidecar") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(1L to 50L), "p")
    SnapshotTable.analyzeBloom(spark, dir, "k", 1L << 14)
    SnapshotTable.append(spark, dir, mkDf(Seq(60L)), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 1L)
    SnapshotTable.vacuum(spark, dir, retain = 1)
    val (df, kept, tot) = SnapshotTable.readPointLookup(spark, dir, "k", 25L)
    assert(df.count() == 1L)
    assert(kept < tot || tot == 1,
      "the index must survive append + DV + vacuum")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_idx")),
      "vacuum must keep the header-referenced sidecar")
    // a re-index supersedes the old sidecar; vacuum reclaims it once
    // its header dropped out of the retained manifests (a sidecar is
    // one reclaim unit — a parquet directory since r15)
    SnapshotTable.analyzeBloom(spark, dir, "k", 1L << 14) // covers the append
    SnapshotTable.vacuum(spark, dir, retain = 1)
    val sidecars = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_idx"))
      .count(_.getPath.getName.startsWith("bloom-"))
    assert(sidecars == 1,
      s"exactly the live sidecar survives vacuum, found $sidecars")
  }

  test("lookup and analyzeBloom never move sketch BYTES to the driver: " +
      "collected results stay occurrence-sized at a forced many-files, " +
      "big-sketch tier") {
    val dir = tempDir("t")
    // 12 interleaved appends x 1 MiB sketches = ~12 MiB of sketch bytes;
    // driver-side task results must stay orders of magnitude below that
    (0 until 12).foreach { i =>
      val chunk = mkDf((1L to 600L).filter(_ % 12 == i))
      if (i == 0) SnapshotTable.write(spark, dir, chunk, "p")
      else SnapshotTable.append(spark, dir, chunk, "p")
    }
    val bits = 1L << 23 // 1 MiB per file
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          resultBytes.addAndGet(t.taskMetrics.resultSize): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.analyzeBloom(spark, dir, "k", bits)
      // incremental extension unions the existing sidecar as a FRAME
      SnapshotTable.append(spark, dir, mkDf(Seq(7001L)), "p")
      SnapshotTable.analyzeBloom(spark, dir, "k", bits)
      val (df, kept, tot) = SnapshotTable.readPointLookup(spark, dir, "k", 123L)
      assert(df.count() == 1L && kept < tot)
      // let straggler task-end events drain before reading the counter
      var waited = 0
      while (waited < 5000 && resultBytes.get() == 0L) {
        Thread.sleep(100); waited += 100
      }
      Thread.sleep(500)
      val total = resultBytes.get()
      val sketchBytes = 13L * (bits / 8)
      assert(total > 0L, "listener saw no tasks — the pin would be vacuous")
      assert(total < sketchBytes / 4,
        s"driver-bound task results ($total B) approach the sketch " +
          s"volume ($sketchBytes B) — sketches are transiting the driver")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the probe literal is cast to the column's stored type before " +
      "hashing — an INT column probed with a Long still matches") {
    import spark.implicits._
    val dir = tempDir("t")
    val df = (1 to 300).map(i => (i, i % 2, i * 3)).toDF("k", "p", "v")
    (0 until 3).foreach { i =>
      val chunk = df.filter(col("k") % 3 === i)
      if (i == 0) SnapshotTable.write(spark, dir, chunk, "p")
      else SnapshotTable.append(spark, dir, chunk, "p")
    }
    SnapshotTable.analyzeBloom(spark, dir, "k", 1L << 14)
    // k is INT on disk; probe with a Scala Long — the old type-exact
    // hash made every sketch answer "definitely not" (ADVICE r14)
    val (dfL, keptL, totL) = SnapshotTable.readPointLookup(spark, dir, "k", 42L)
    assert(dfL.count() == 1L,
      "a Long probe against an INT column must still find the row")
    assert(keptL < totL, "and the index must still prune")
    val (dfI, _, _) = SnapshotTable.readPointLookup(spark, dir, "k", 42)
    assert(dfI.count() == 1L)
  }

  test("an un-castable probe value is refused loudly, and a committed " +
      "zero-file snapshot carrying the index header fails on the " +
      "documented empty-snapshot contract, not NoSuchElement (ADVICE r15)") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 100L), "p")
    SnapshotTable.analyzeBloom(spark, dir, "k")
    // a probe the stored type cannot represent TRY-casts to NULL;
    // xxhash64(NULL) degrades to the seed and the probe would prune
    // against a meaningless hash — refused instead
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.readPointLookup(spark, dir, "k", "not-a-number")
    }
    assert(e1.getMessage.contains("does not cast"),
      s"probe refusal must name the cause: ${e1.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.readPointLookup(spark, dir, "k", null)
    }
    assert(e2.getMessage.contains("does not cast"))
    // full delete: the snapshot commits with ZERO data files while the
    // carried header still points at the sidecar — the lookup must hit
    // the empty-snapshot contract, not columnType's files.head
    SnapshotTable.deleteWhere(spark, dir, "p", lit(true))
    assert(SnapshotTable.latest(spark, dir).get._2.isEmpty,
      "the full delete must commit a zero-file snapshot")
    val e3 = intercept[RuntimeException] {
      SnapshotTable.readPointLookup(spark, dir, "k", 1L)
    }
    assert(e3.getMessage.contains("snapshot is empty"),
      s"zero-file lookup must fail on the read contract: ${e3.getMessage}")
  }
}
