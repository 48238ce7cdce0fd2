package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CHECK-constraint contract ([[SnapshotTable.addConstraint]] — the
  * Delta `ALTER TABLE ADD CONSTRAINT` surface): predicates live as
  * carried manifest headers, existing rows are validated before a
  * constraint can commit, every content-adding verb validates its
  * incoming rows in ONE aggregate pass and refuses the whole batch on
  * any violation, and UNKNOWN (null) passes per the SQL standard.
  */
class ConstraintSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, java.lang.Long)]) = {
    import spark.implicits._
    rows.map { case (k, p, v) => (k, p, Option(v).map(_.longValue)) }
      .toDF("k", "p", "v")
  }

  private def rows(dir: String): Set[(Long, Long)] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"), col("p").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("add/enforce/drop: bad batches refused wholesale, version and " +
      "relation untouched; null predicate passes (SQL UNKNOWN)") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    val vC = SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    assert(vC == 2L)
    assert(SnapshotTable.constraints(spark, dir) == Map("v_pos" -> "v > 0"))
    // valid append passes; NULL v is UNKNOWN -> passes (SQL CHECK rule)
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 0L, 30L), (4L, 1L, null))), "p")
    assert(rows(dir) == Set((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L)))
    // violating append refused WHOLESALE — even the valid rows stay out
    val vBefore = SnapshotTable.latest(spark, dir).get._1
    val e = intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, dir,
        mkDf(Seq((5L, 0L, 50L), (6L, 1L, -6L))), "p")
    }
    assert(e.constraint == "v_pos" && e.violations == 1L)
    assert(SnapshotTable.latest(spark, dir).get._1 == vBefore)
    assert(rows(dir) == Set((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L)))
    // merge and updateWhere are gated too — an UPDATE that would push a
    // row out of range is refused
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.merge(spark, dir, "p", "k", mkDf(Seq((2L, 1L, 0L))))
    }
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.updateWhere(spark, dir, "p", col("k") === 1L,
        Map("v" -> (col("v") - 100L)))
    }
    assert(SnapshotTable.read(spark, dir)
      .filter(col("v") <= 0).count() == 0L)
    // dropped -> the same batch lands
    SnapshotTable.dropConstraint(spark, dir, "v_pos")
    assert(SnapshotTable.constraints(spark, dir).isEmpty)
    SnapshotTable.append(spark, dir, mkDf(Seq((6L, 1L, -6L))), "p")
    assert(rows(dir).contains((6L, 1L)))
  }

  test("a constraint the table already violates is refused; names are " +
      "validated; duplicates refused") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, -1L))), "p")
    val e = intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    }
    assert(e.violations == 1L)
    assert(SnapshotTable.constraints(spark, dir).isEmpty,
      "a refused constraint must not commit")
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, dir, "a=b", "v > 0")
    }
    SnapshotTable.addConstraint(spark, dir, "k_pos", "k > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, dir, "k_pos", "k > 10")
    }
    // dropConstraint of a missing name: no-op at the current version
    val v = SnapshotTable.latest(spark, dir).get._1
    assert(SnapshotTable.dropConstraint(spark, dir, "ghost") == v)
  }

  test("constraints survive every commit class: DV delete, compact, " +
      "streaming appendBatch, and a full write() replace") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L))), "p")
    SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)
    SnapshotTable.compact(spark, dir, "p")
    assert(SnapshotTable.constraints(spark, dir) == Map("v_pos" -> "v > 0"),
      "DV delete + compact must carry the constraint header")
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.appendBatch(spark, dir,
        mkDf(Seq((7L, 0L, -7L))), "p", 0L, "qX")
    }
    // the refused batch must NOT have planted a replay marker — a retry
    // with fixed data is a NEW commit, not a detected replay
    assert(SnapshotTable.appendBatch(spark, dir,
      mkDf(Seq((7L, 0L, 7L))), "p", 0L, "qX") ==
      SnapshotTable.latest(spark, dir).get._1)
    assert(rows(dir).contains((7L, 0L)))
    // full replace: content validated, constraint carried through
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.write(spark, dir, mkDf(Seq((9L, 0L, -9L))), "p")
    }
    SnapshotTable.write(spark, dir, mkDf(Seq((9L, 0L, 9L))), "p")
    assert(SnapshotTable.constraints(spark, dir) == Map("v_pos" -> "v > 0"))
    // two constraints validate in ONE pass; the alphabetically-first
    // violated one is reported
    SnapshotTable.addConstraint(spark, dir, "k_small", "k < 1000")
    val e = intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, dir, mkDf(Seq((5000L, 0L, -1L))), "p")
    }
    assert(e.constraint == "k_small", e.getMessage)
  }

  test("writeClustered validates per CAS attempt like write(): a " +
      "violating full replace leaves version, relation, and stats alone") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L))), "p")
    SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    val v0 = SnapshotTable.latest(spark, dir).get._1
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.writeClustered(spark, dir,
        mkDf(Seq((2L, 0L, -2L))), "p", "k", rangeParts = 2)
    }
    assert(SnapshotTable.latest(spark, dir).get._1 == v0 &&
      rows(dir) == Set((1L, 0L)),
      "a refused clustered replace must apply nothing")
    SnapshotTable.writeClustered(spark, dir,
      mkDf(Seq((2L, 0L, 2L))), "p", "k", rangeParts = 2)
    assert(SnapshotTable.constraints(spark, dir) == Map("v_pos" -> "v > 0"),
      "the constraint header carries through the clustered replace")
    assert(SnapshotTable.fileStats(spark, dir, "k").nonEmpty,
      "the clustered replace commits its stats index")
  }
}
