package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hidden (transform) partitioning contract
  * ([[SnapshotTable.writeTransformPartitioned]] — the Iceberg
  * partition-transform idea): the derived bucket column is table
  * metadata + physical layout, never user schema; readers prune from a
  * SOURCE-column predicate via driver-side transform arithmetic; every
  * transform's bucket span is closed-open and exact at its edges.
  */
class HiddenPartitioningSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, String, Long)]) = {
    import spark.implicits._
    rows.toDF("id", "ts_s", "v")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

  test("day transform: hidden column, exact edge pruning, appends " +
      "through the recorded transform, DVs apply through the pruned read") {
    val dir = tempDir("t")
    val base = mkDf(Seq(
      (1L, "2024-01-01 00:00:00", 10L), // first instant of its day
      (2L, "2024-01-01 23:59:59", 20L), // last instant
      (3L, "2024-01-02 12:00:00", 30L),
      (4L, "2024-01-05 08:00:00", 40L)))
    SnapshotTable.writeTransformPartitioned(spark, dir, base, "ts", "day")
    assert(SnapshotTable.transformOf(spark, dir) == ("ts", "day"))
    assert(!SnapshotTable.readHidden(spark, dir).columns
      .contains(SnapshotTable.HiddenPartCol),
      "the derived bucket column must never surface to readers")
    // writers pass RAW rows; the table derives the bucket
    SnapshotTable.appendTransformPartitioned(spark, dir,
      mkDf(Seq((5L, "2024-01-09 01:00:00", 50L))))
    def filesIn(days: Set[String]): Int =
      SnapshotTable.latest(spark, dir).get._2
        .count(f => days.contains(f.split('/').head.stripPrefix("__tp=")))
    val (df1, kept1, tot1) =
      SnapshotTable.readSourceRange(spark, dir,
        "2024-01-01 00:00:00", "2024-01-01 23:59:59")
    assert(ids(df1) == Set(1L, 2L), "inclusive edges on both ends")
    assert(kept1 == filesIn(Set("2024-01-01")) && kept1 < tot1,
      s"exactly the queried day's files survive (kept $kept1/$tot1)")
    // a range crossing midnight keeps exactly the two spanned days
    val (df2, kept2, _) = SnapshotTable.readSourceRange(spark, dir,
      "2024-01-01 12:00:00", "2024-01-02 11:59:59")
    assert(ids(df2) == Set(2L))
    assert(kept2 == filesIn(Set("2024-01-01", "2024-01-02")),
      "both spanned day dirs scanned, others pruned")
    // out-of-domain prunes to zero files AND zero rows
    val (df0, kept0, _) = SnapshotTable.readSourceRange(spark, dir,
      "2030-01-01 00:00:00", "2030-01-02 00:00:00")
    assert(kept0 == 0 && df0.count() == 0L)
    // row-level deletes compose with the pruned read
    SnapshotTable.deleteWhereDV(spark, dir, col("id") === 2L)
    val (df3, _, _) = SnapshotTable.readSourceRange(spark, dir,
      "2024-01-01 00:00:00", "2024-01-01 23:59:59")
    assert(ids(df3) == Set(1L))
    // the whole relation, hidden read
    assert(ids(SnapshotTable.readHidden(spark, dir)) == Set(1L, 3L, 4L, 5L))
  }

  test("month / hour / year bucket spans are exact; unknown transforms " +
      "and non-transform tables fail loudly") {
    val dir = tempDir("t")
    SnapshotTable.writeTransformPartitioned(spark, dir, mkDf(Seq(
      (1L, "2024-01-31 23:00:00", 1L),
      (2L, "2024-02-01 00:30:00", 2L),
      (3L, "2024-12-15 00:00:00", 3L))), "ts", "month")
    val (dfm, keptm, totm) = SnapshotTable.readSourceRange(spark, dir,
      "2024-02-01 00:00:00", "2024-02-29 23:59:59")
    assert(ids(dfm) == Set(2L) && keptm == 1 && totm == 3,
      s"month pruning: kept $keptm/$totm -> ${ids(dfm)}")

    val hr = tempDir("t")
    SnapshotTable.writeTransformPartitioned(spark, hr, mkDf(Seq(
      (1L, "2024-03-01 07:59:59", 1L),
      (2L, "2024-03-01 08:00:00", 2L))), "ts", "hour")
    val (dfh, kepth, _) = SnapshotTable.readSourceRange(spark, hr,
      "2024-03-01 08:00:00", "2024-03-01 08:59:59")
    assert(ids(dfh) == Set(2L) && kepth == 1,
      "the 08h bucket alone survives an 08h-range query")

    val yr = tempDir("t")
    SnapshotTable.writeTransformPartitioned(spark, yr, mkDf(Seq(
      (1L, "2023-12-31 23:59:59", 1L),
      (2L, "2024-01-01 00:00:00", 2L))), "ts", "year")
    val (dfy, kepty, _) = SnapshotTable.readSourceRange(spark, yr,
      "2024-01-01 00:00:00", "2024-06-01 00:00:00")
    assert(ids(dfy) == Set(2L) && kepty == 1)

    intercept[RuntimeException] {
      SnapshotTable.writeTransformPartitioned(spark, tempDir("t"),
        mkDf(Seq((1L, "2024-01-01 00:00:00", 1L))), "ts", "week")
    }
    val plain = tempDir("t")
    SnapshotTable.write(spark, plain,
      mkDf(Seq((1L, "2024-01-01 00:00:00", 1L)))
        .withColumn("p", lit(0L)), "p")
    intercept[RuntimeException] {
      SnapshotTable.readSourceRange(spark, plain,
        "2024-01-01 00:00:00", "2024-01-02 00:00:00")
    }
  }

  test("the transform survives unrelated commits and constraints " +
      "compose with hidden partitioning") {
    val dir = tempDir("t")
    SnapshotTable.writeTransformPartitioned(spark, dir, mkDf(Seq(
      (1L, "2024-01-01 00:00:00", 10L),
      (2L, "2024-01-02 00:00:00", 20L))), "ts", "day")
    SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    SnapshotTable.deleteWhereDV(spark, dir, col("id") === 1L)
    assert(SnapshotTable.transformOf(spark, dir) == ("ts", "day"),
      "constraint + DV commits must carry the transform headers")
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.appendTransformPartitioned(spark, dir,
        mkDf(Seq((9L, "2024-01-03 00:00:00", -9L))))
    }
    SnapshotTable.appendTransformPartitioned(spark, dir,
      mkDf(Seq((3L, "2024-01-03 00:00:00", 30L))))
    assert(ids(SnapshotTable.readHidden(spark, dir)) == Set(2L, 3L))
  }

  test("null source values are refused in-pass (nothing commits); a " +
      "pre-guard default partition scans conservatively instead of " +
      "poisoning every range read") {
    val dir = tempDir("t")
    // a single null ts anywhere in the batch fails the whole write
    // loudly BEFORE any commit (ADVICE r14: it would land in
    // __HIVE_DEFAULT_PARTITION__, whose dir name no transform
    // arithmetic can parse)
    val bad = mkDf(Seq((1L, "2024-01-01 00:00:00", 10L)))
      .unionByName(spark.range(1).select(lit(2L).as("id"),
        lit(20L).as("v"), lit(null).cast("timestamp").as("ts")))
    val eW = intercept[Exception] {
      SnapshotTable.writeTransformPartitioned(spark, dir, bad, "ts", "day")
    }
    assert(eW.getMessage.contains("non-null"), eW.getMessage)
    assert(SnapshotTable.latest(spark, dir).isEmpty,
      "a refused transform write must commit nothing")
    SnapshotTable.writeTransformPartitioned(spark, dir,
      mkDf(Seq((1L, "2024-01-01 00:00:00", 10L))), "ts", "day")
    val v1 = SnapshotTable.latest(spark, dir).get._1
    val eA = intercept[Exception] {
      SnapshotTable.appendTransformPartitioned(spark, dir,
        mkDf(Seq((9L, "2024-01-02 00:00:00", 90L))).unionByName(
          spark.range(1).select(lit(8L).as("id"), lit(80L).as("v"),
            lit(null).cast("timestamp").as("ts"))))
    }
    assert(eA.getMessage.contains("non-null"), eA.getMessage)
    assert(SnapshotTable.latest(spark, dir).get._1 == v1,
      "a refused transform append must commit nothing")
    // a DEFAULT-partition dir written before the guard existed (here:
    // a raw write through the same metadata, the legacy-writer stand-in)
    // must not make readSourceRange throw forever — it scans
    // conservatively and the exact residual does the rest
    val legacy = tempDir("t")
    val rows = mkDf(Seq((1L, "2024-01-01 06:00:00", 10L),
      (2L, "2024-01-02 06:00:00", 20L)))
    val withBucket = rows.withColumn(SnapshotTable.HiddenPartCol,
      when(col("id") === 1L, lit(null).cast("string"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd")))
    SnapshotTable.write(spark, legacy, withBucket,
      SnapshotTable.HiddenPartCol,
      Map("parttransform.col" -> "ts", "parttransform.fn" -> "day"))
    val (df1, kept1, tot1) = SnapshotTable.readSourceRange(spark, legacy,
      "2024-01-01 00:00:00", "2024-01-01 23:59:59")
    assert(ids(df1) == Set(1L),
      "the default-dir row surfaces through the conservative scan + residual")
    assert(kept1 < tot1,
      s"parsable day dirs outside the range still prune ($kept1/$tot1)")
    val (df2, _, _) = SnapshotTable.readSourceRange(spark, legacy,
      "2024-01-02 00:00:00", "2024-01-02 23:59:59")
    assert(ids(df2) == Set(2L),
      "the default dir's rows are excluded by the residual when outside")
  }

  test("partition evolution: day → month is metadata-only, mixed eras " +
      "prune under their OWN transform, DVs and idempotency compose") {
    val dir = tempDir("t")
    SnapshotTable.writeTransformPartitioned(spark, dir, mkDf(Seq(
      (1L, "2024-01-01 06:00:00", 10L),
      (2L, "2024-01-02 06:00:00", 20L),
      (3L, "2024-01-31 23:59:59", 30L))), "ts", "day")     // v1: day era
    val f1 = SnapshotTable.latest(spark, dir).get._2.toSet
    assert(SnapshotTable.evolveTransform(spark, dir, "month") == 2L)
    assert(SnapshotTable.latest(spark, dir).get._2.toSet == f1,
      "evolution must move no file")
    assert(SnapshotTable.transformOf(spark, dir) == ("ts", "month"))
    assert(SnapshotTable.evolveTransform(spark, dir, "month") == 2L,
      "re-evolving to the current transform is a no-op")
    // new rows bucket monthly; old day dirs stay
    SnapshotTable.appendTransformPartitioned(spark, dir, mkDf(Seq(
      (4L, "2024-02-10 12:00:00", 40L),
      (5L, "2024-03-05 12:00:00", 50L))))                   // v3
    val dirs = SnapshotTable.latest(spark, dir).get._2
      .map(_.split('/').head.stripPrefix("__tp=")).toSet
    assert(dirs.contains("2024-02") && dirs.contains("2024-03") &&
      dirs.contains("2024-01-01"),
      s"old day dirs and new month dirs must coexist: $dirs")
    // a day-era window prunes day dirs exactly AND prunes month-era
    // dirs that cannot intersect it
    val (dJ, keptJ, totJ) = SnapshotTable.readSourceRange(spark, dir,
      "2024-01-01 00:00:00", "2024-01-02 23:59:59")
    assert(ids(dJ) == Set(1L, 2L))
    assert(keptJ == 2 && totJ >= 5,
      s"exactly the two spanned day dirs survive ($keptJ/$totJ)")
    // a month-era window prunes to its month dir; day dirs of other
    // dates prune; the edge day dir 2024-01-31 cannot intersect Feb
    val (dF, keptF, _) = SnapshotTable.readSourceRange(spark, dir,
      "2024-02-01 00:00:00", "2024-02-29 23:59:59")
    assert(ids(dF) == Set(4L))
    assert(keptF == 1, s"only the 2024-02 dir survives ($keptF)")
    // a window straddling both eras reads both exactly
    val (dS, _, _) = SnapshotTable.readSourceRange(spark, dir,
      "2024-01-31 00:00:00", "2024-03-31 23:59:59")
    assert(ids(dS) == Set(3L, 4L, 5L))
    // DVs apply through mixed-era pruned reads
    SnapshotTable.deleteWhereDV(spark, dir, col("id") === 4L)
    val (dF2, _, _) = SnapshotTable.readSourceRange(spark, dir,
      "2024-02-01 00:00:00", "2024-02-29 23:59:59")
    assert(ids(dF2).isEmpty)
    // unknown target transform refused; non-transform tables refused
    intercept[RuntimeException] {
      SnapshotTable.evolveTransform(spark, dir, "fortnight")
    }
    val plain = tempDir("t")
    SnapshotTable.write(spark, plain,
      mkDf(Seq((1L, "2024-01-01 00:00:00", 1L))).withColumn("p", lit(0L)), "p")
    intercept[RuntimeException] {
      SnapshotTable.evolveTransform(spark, plain, "month")
    }
  }
}
