package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** OPTIMIZE ZORDER contract ([[SnapshotTable.compactZOrdered]]): one
  * commit rewrites the table Morton-clustered on two integral columns
  * with fresh per-file stats for BOTH, so [[SnapshotTable.readRange]]
  * prunes on either column; the relation is row-identical, DVs fold,
  * the change feed skips the commit (row-preserving maintenance), and
  * null/degenerate inputs behave.
  */
class ZOrderOptimizeSpec extends SparkSpec {

  /** (a, b) grid with b pseudorandom w.r.t. a — 1-D clustering on `a`
    * leaves every slice spanning b's whole domain. */
  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, (k * 2654435761L) % 1000L, k % 2, k)).toDF("a", "b", "p", "v")
  }

  test("z-order prunes BOTH columns, keeps the relation row-identical, " +
      "folds DVs, and the change feed skips the commit") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(0L until 500L), "p")
    SnapshotTable.append(spark, dir, mkDf(500L until 1000L), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("a") % 17 === 0) // v3
    val before = SnapshotTable.read(spark, dir)
      .select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vBefore = SnapshotTable.latest(spark, dir).get._1
    val vZ = SnapshotTable.compactZOrdered(spark, dir, "p", "a", "b",
      rangeParts = 16)
    assert(vZ == vBefore + 1)
    val after = SnapshotTable.read(spark, dir)
      .select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "z-order moves bytes, never rows")
    assert(SnapshotTable.latestFull(spark, dir).get._3.isEmpty,
      "the rewrite must fold every deletion vector")
    // narrow windows on EACH column prune and stay exact
    Seq(("a", 300L, 400L), ("b", 300L, 400L), ("a", 0L, 49L),
        ("b", 900L, 999L)).foreach { case (c, lo, hi) =>
      val (df, kept, tot) = SnapshotTable.readRange(spark, dir, c, lo, hi)
      assert(kept * 2 <= tot,
        s"$c range [$lo,$hi] must prune: kept $kept/$tot")
      val want = before.filter { case (a, b) =>
        val x = if (c == "a") a else b; x >= lo && x <= hi
      }
      val got = df.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"$c range [$lo,$hi] row mismatch")
    }
    // row-preserving maintenance: the feed has nothing to say
    assert(SnapshotTable.readChangesSince(spark, dir, vBefore).isEmpty,
      "the z-order commit must be invisible to the change feed")
    assert(SnapshotTable.tableChanges(spark, dir, vBefore, vZ).count() == 0L)
  }

  test("N-column z-order: three independent columns all prune, the " +
      "relation is identical, and the column budget is validated") {
    import spark.implicits._
    val dir = tempDir("t")
    // a, b, c pairwise pseudorandom: no 1-D or 2-D layout could serve
    // all three access paths
    val df = (0L until 4000L).map { k =>
      (k, (k * 2654435761L) % 4000L, (k * 40503L) % 4000L, k % 2)
    }.toDF("a", "b", "c", "p")
    SnapshotTable.write(spark, dir, df, "p")
    SnapshotTable.compactZOrderedN(spark, dir, "p", Seq("a", "b", "c"),
      rangeParts = 64) // 4^3 cells at 2 bit-levels/dim
    assert(SnapshotTable.read(spark, dir).count() == 4000L)
    Seq("a", "b", "c").foreach { cc =>
      val (got, kept, tot) = SnapshotTable.readRange(spark, dir, cc,
        1000L, 1399L) // 10% window inside one 4-strip
      assert(kept * 2 <= tot,
        s"$cc window must prune after 3-col z-order: kept $kept/$tot")
      assert(got.count() == 400L, s"$cc window row count")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrderedN(spark, dir, "p", Seq("a"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrderedN(spark, dir, "p", Seq("a", "a", "b"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrderedN(spark, dir, "p", Seq("a", "b", "c"),
        bitsPerDim = 30) // 90 bits > the 62-bit z budget
    }
  }

  test("wide-span columns (random 64-bit ids) keep Morton alignment — " +
      "the divide-first cell scaling cannot overflow (ADVICE r15)") {
    import spark.implicits._
    val dir = tempDir("t")
    // values scattered over nearly the whole long domain: the old
    // ((v - lo) * cells) div span multiplied BEFORE dividing, so any
    // span past ~2^55 at 256 cells overflowed into negative/garbage
    // cells, files stopped aligning to the grid, and pruning silently
    // vanished while every row stayed correct
    val wide = (0L until 2000L).map { k =>
      val a = (k * 2654435761L) * 4097540077L // wraps: pseudorandom 64-bit
      val b = java.lang.Long.reverse(a) ^ (k * 40503L)
      (a, b, k % 2, k)
    }.toDF("a", "b", "p", "v")
    SnapshotTable.write(spark, dir, wide, "p")
    SnapshotTable.compactZOrdered(spark, dir, "p", "a", "b", rangeParts = 16)
    assert(SnapshotTable.read(spark, dir).count() == 2000L)
    val vals = wide.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Seq(("a", vals.map(_._1).toSeq), ("b", vals.map(_._2).toSeq))
      .foreach { case (c, vs) =>
        val lo = vs.min; val hi = vs.max
        val span = BigInt(hi) - BigInt(lo)
        val wlo = (BigInt(lo) + span / 2).toLong
        val whi = (BigInt(lo) + span / 2 + span / 8).toLong
        val (df, kept, tot) = SnapshotTable.readRange(spark, dir, c, wlo, whi)
        assert(kept * 2 <= tot,
          s"$c window over a 2^64 span must still prune: kept $kept/$tot")
        assert(df.count() == vs.count(v => v >= wlo && v <= whi).toLong,
          s"$c wide-span window row count")
      }
  }

  test("null cells route to the null range-partition and stay exact; " +
      "an all-null column is refused; bad column names are refused") {
    import spark.implicits._
    val dir = tempDir("t")
    val df = (0L until 100L).map(k =>
      (k, if (k % 10 == 0) None else Some((k * 7) % 100), k % 2))
      .toDF("a", "b", "p")
    SnapshotTable.write(spark, dir, df, "p")
    SnapshotTable.compactZOrdered(spark, dir, "p", "a", "b", rangeParts = 4)
    assert(SnapshotTable.read(spark, dir).count() == 100L)
    // a b-range read excludes null-b rows (residual UNKNOWN) and keeps
    // the rest exact
    val (got, _, _) = SnapshotTable.readRange(spark, dir, "b", 0L, 100L)
    assert(got.count() == 90L)
    val nulls = tempDir("t")
    SnapshotTable.write(spark, nulls,
      (0L until 10L).map(k => (k, Option.empty[Long], 0L)).toDF("a", "b", "p"),
      "p")
    intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrdered(spark, nulls, "p", "a", "b")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrdered(spark, dir, "p", "a|x", "b")
    }
  }
}
