package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read MERGE contract ([[SnapshotTable.mergeDV]]): identical
  * semantics to the CoW [[SnapshotTable.merge]] — multi-match collapse,
  * duplicate-key refusal, empty-table create, constraint gating — at
  * DV cost: no pre-existing data file ever leaves the manifest, and a
  * cross-partition key move works without touching either partition's
  * other files.
  */
class MergeMorSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "p")
  }

  test("mergeDV is relation-equivalent to CoW merge on the same inputs " +
      "— including multi-match collapse — but rewrites no data file") {
    val baseRows = (0L until 100L).map(k => (k, k, s"p${k % 3}")) ++
      Seq((5L, 555L, "p2")) // duplicate key in the TARGET: must collapse
    val upserts = mkDf((0L until 20L).map(k => (k * 5, k * 5 + 9000L,
      s"p${(k * 5) % 3}"))) // 20 keys: 0,5,...,95 (some multi-match)
    val cow = tempDir("t")
    SnapshotTable.write(spark, cow, mkDf(baseRows), "p")
    SnapshotTable.merge(spark, cow, "p", "k", upserts)
    val mor = tempDir("t")
    SnapshotTable.write(spark, mor, mkDf(baseRows), "p")
    val filesBefore = SnapshotTable.latest(spark, mor).get._2.toSet
    val (v, matched, inserted) =
      SnapshotTable.mergeDV(spark, mor, "p", "k", upserts)
    assert(v == 2L && matched == 21L && inserted == 0L,
      s"k=5's duplicate makes 21 matched rows; got ($matched, $inserted)")
    assert(filesBefore.subsetOf(SnapshotTable.latest(spark, mor).get._2.toSet),
      "MoR merge must never remove a data file")
    val rows = (t: String) => SnapshotTable.read(spark, t)
      .select(col("k").cast("long"), col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(mor) == rows(cow),
      "MoR and CoW merges must produce the identical relation")
  }

  test("duplicate update keys refused wholesale; empty table " +
      "degenerates to create; constraints gate the batch") {
    val dir = tempDir("t")
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeDV(spark, dir, "p", "k",
        mkDf(Seq((1L, 1L, "a"), (1L, 2L, "a"))))
    }
    val (v1, m1, i1) = SnapshotTable.mergeDV(spark, dir, "p", "k",
      mkDf(Seq((1L, 1L, "a"), (2L, 2L, "b"))))
    assert(v1 == 1L && m1 == 0L && i1 == 2L,
      "an empty table's merge is a create")
    SnapshotTable.addConstraint(spark, dir, "v_pos", "v >= 0")
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.mergeDV(spark, dir, "p", "k",
        mkDf(Seq((3L, -5L, "a"))))
    }
    assert(SnapshotTable.read(spark, dir).count() == 2L,
      "a refused batch must leave the relation untouched")
  }

  test("a cross-partition key move lands in the new partition dir and " +
      "the old version stays suppressed through OPTIMIZE") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf((0L until 30L).map(k => (k, k, s"p${k % 2}"))), "p")
    // key 4 moves from p0 to pX with a new value
    SnapshotTable.mergeDV(spark, dir, "p", "k",
      mkDf(Seq((4L, 4444L, "pX"))))
    def row4 = SnapshotTable.read(spark, dir).filter(col("k") === 4L)
      .select(col("v").cast("long"), col("p")).collect()
    assert(row4.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((4444L, "pX")))
    SnapshotTable.compact(spark, dir, "p") // fold the DV away
    assert(SnapshotTable.latestFull(spark, dir).get._3.isEmpty)
    assert(row4.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((4444L, "pX")))
    assert(SnapshotTable.read(spark, dir).count() == 30L)
  }
}
