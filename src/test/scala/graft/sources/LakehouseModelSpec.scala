package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Model-based randomized interleaving test for the whole snapshot
  * mutation surface: a seeded random sequence of append / deleteWhere /
  * deleteWhereDV / merge / compact / vacuum / write runs against BOTH
  * the real table and a trivial in-memory map; after every op the
  * table's full read (and, periodically, a stats-pruned range read)
  * must equal the model exactly. Catches interaction bugs no
  * single-feature spec covers — DVs surviving the wrong commit, stats
  * dangling after a rewrite, compaction changing the relation, vacuum
  * eating a referenced file. Seeds are FIXED: a failure reproduces.
  */
class LakehouseModelSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  private def tableRows(dir: String): Set[(Long, Long, Long)] =
    SnapshotTable.read(spark, dir)
      .select(col("k").cast("long"), col("p").cast("long"),
        col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def runScenario(seed: Long, nOps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = tempDir("t")
    // model: key -> (partition, value); the table mirrors it exactly
    var model = Map.empty[Long, (Long, Long)]
    var nextKey = 0L
    def freshRows(n: Int): Seq[(Long, Long, Long)] =
      (1 to n).map { _ =>
        nextKey += 1
        (nextKey, rnd.nextInt(3).toLong, rnd.nextInt(1000).toLong)
      }
    val init = freshRows(20)
    SnapshotTable.write(spark, dir, mkDf(init), "p")
    model = init.map { case (k, p, v) => k -> (p, v) }.toMap
    val trace = new StringBuilder(s"seed=$seed: write(20)")
    for (i <- 1 to nOps) {
      val op = rnd.nextInt(10)
      op match {
        case 0 | 1 => // append fresh rows
          val rows = freshRows(1 + rnd.nextInt(5))
          SnapshotTable.append(spark, dir, mkDf(rows), "p")
          model ++= rows.map { case (k, p, v) => k -> (p, v) }
          trace ++= s"; append(${rows.size})"
        case 2 => // partition-rewrite delete on a value threshold
          val cut = rnd.nextInt(1000).toLong
          SnapshotTable.deleteWhere(spark, dir, "p", col("v") < cut)
          model = model.filter { case (_, (_, v)) => v >= cut }
          trace ++= s"; deleteWhere(v<$cut)"
        case 3 | 4 => // deletion-vector delete on a key stripe
          val m = 2 + rnd.nextInt(5)
          SnapshotTable.deleteWhereDV(spark, dir, col("k") % m === 0)
          model = model.filter { case (k, _) => k % m != 0 }
          trace ++= s"; deleteWhereDV(k%$m)"
        case 5 | 6 => // merge: update a sample of live keys + insert fresh
          val updates = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
            .map(k => (k, rnd.nextInt(3).toLong, rnd.nextInt(1000).toLong)) ++
            freshRows(rnd.nextInt(3))
          if (updates.nonEmpty) {
            SnapshotTable.merge(spark, dir, "p", "k", mkDf(updates))
            model ++= updates.map { case (k, p, v) => k -> (p, v) }
            trace ++= s"; merge(${updates.size})"
          }
        case 7 => // OPTIMIZE (may fold DVs); relation must not change
          SnapshotTable.compact(spark, dir, "p")
          trace ++= "; compact"
        case 8 => // vacuum to latest; relation must not change
          SnapshotTable.vacuum(spark, dir, retain = 1)
          trace ++= "; vacuum"
        case 9 => // full replace
          val rows = freshRows(5 + rnd.nextInt(10))
          SnapshotTable.write(spark, dir, mkDf(rows), "p")
          model = rows.map { case (k, p, v) => k -> (p, v) }.toMap
          trace ++= s"; write(${rows.size})"
      }
      if (model.isEmpty) { // re-seed: an empty table rejects reads
        val rows = freshRows(10)
        SnapshotTable.append(spark, dir, mkDf(rows), "p")
        model ++= rows.map { case (k, p, v) => k -> (p, v) }
        trace ++= "; reseed(10)"
      }
      val want = model.map { case (k, (p, v)) => (k, p, v) }.toSet
      val got = tableRows(dir)
      assert(got == want,
        s"[$trace] step $i diverged:\n extra=${got -- want}\n missing=${want -- got}")
      if (i % 5 == 0) { // stats-pruned range read must agree too
        val lo = 1L + rnd.nextInt(nextKey.toInt).toLong
        val hi = lo + rnd.nextInt(nextKey.toInt).toLong
        val (df, _, _) = SnapshotTable.readRange(spark, dir, "k", lo, hi)
        val gotR = df.select(col("k").cast("long")).collect()
          .map(_.getLong(0)).toSet
        val wantR = model.keySet.filter(k => k >= lo && k <= hi)
        assert(gotR == wantR, s"[$trace] step $i readRange($lo,$hi) diverged")
      }
    }
  }

  test("random mutation interleavings match the in-memory model (seed 7)") {
    runScenario(seed = 7L, nOps = 25)
  }

  test("random mutation interleavings match the in-memory model (seed 42)") {
    runScenario(seed = 42L, nOps = 25)
  }
}
