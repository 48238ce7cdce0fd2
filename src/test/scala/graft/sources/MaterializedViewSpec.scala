package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import MaterializedView.AggSpec

/** Behavioral contract for the incrementally maintained view: refresh
  * merges ONLY the delta into stored state (new keys appear, counts and
  * sums add, min/max extend), an up-to-date source refreshes to None
  * with no new MV commit, and the source-version bookkeeping advances
  * exactly with effective refreshes.
  */
class MaterializedViewSpec extends SparkSpec {

  private def mkDf(rows: Seq[(String, Long, Double)]) = {
    import spark.implicits._
    rows.toDF("grp", "k", "v")
  }

  private val aggs = Seq(
    AggSpec("count", "", "n"),
    AggSpec("sum", "v", "sv"),
    AggSpec("min", "v", "lo"),
    AggSpec("max", "v", "hi"))

  private def state(mvDir: String): Map[String, (Long, Double, Double, Double)] =
    // select by NAME: the hive layout surfaces the partition column last
    MaterializedView.read(spark, mvDir)
      .select("grp", "n", "sv", "lo", "hi")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .toMap

  test("create + two refreshes: hand-computed state, new keys, min/max extension") {
    val src = tempDir("src"); val mv = tempDir("view")
    SnapshotTable.write(spark, src,
      mkDf(Seq(("a", 1L, 10.0), ("a", 2L, 4.0), ("b", 3L, 7.0))), "grp")
    MaterializedView.create(spark, mv, src, Seq("grp"), aggs, "grp")
    assert(state(mv) == Map(
      "a" -> ((2L, 14.0, 4.0, 10.0)), "b" -> ((1L, 7.0, 7.0, 7.0))))
    assert(MaterializedView.sourceVersion(spark, mv) == 1L)

    // delta 1: extends a's max, adds brand-new key c
    SnapshotTable.append(spark, src,
      mkDf(Seq(("a", 4L, 25.0), ("c", 5L, 1.0))), "grp")
    assert(MaterializedView.refresh(spark, mv, src, Seq("grp"), aggs, "grp")
      .contains(2L))
    assert(state(mv) == Map(
      "a" -> ((3L, 39.0, 4.0, 25.0)),
      "b" -> ((1L, 7.0, 7.0, 7.0)),
      "c" -> ((1L, 1.0, 1.0, 1.0))))
    assert(MaterializedView.sourceVersion(spark, mv) == 2L)

    // delta 2: extends a's min — merged through least(), not recompute
    SnapshotTable.append(spark, src, mkDf(Seq(("a", 6L, 2.0))), "grp")
    assert(MaterializedView.refresh(spark, mv, src, Seq("grp"), aggs, "grp")
      .contains(3L))
    assert(state(mv)("a") == ((4L, 41.0, 2.0, 25.0)))
    // the final state is indistinguishable from a from-scratch build
    val scratch = MaterializedView
      .fullState(SnapshotTable.read(spark, src), Seq("grp"), aggs)
      .select("grp", "n", "sv", "lo", "hi")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(state(mv) == scratch)
  }

  test("up-to-date source: refresh is a no-op — None, no commit, version unchanged") {
    val src = tempDir("src2"); val mv = tempDir("view2")
    SnapshotTable.write(spark, src, mkDf(Seq(("a", 1L, 3.0))), "grp")
    MaterializedView.create(spark, mv, src, Seq("grp"), aggs, "grp")
    val versionsBefore = SnapshotTable.history(spark, mv).map(_._1).toSet
    assert(MaterializedView.refresh(spark, mv, src, Seq("grp"), aggs, "grp")
      .isEmpty)
    assert(SnapshotTable.history(spark, mv).map(_._1).toSet == versionsBefore,
      "a no-op refresh must not commit a new MV snapshot")
    assert(MaterializedView.sourceVersion(spark, mv) == 1L)
  }

  test("writeIf is a CAS: one winner per expected version, loser leaves no trace") {
    val dir = tempDir("cas")
    SnapshotTable.write(spark, dir, mkDf(Seq(("a", 1L, 3.0))), "grp")
    val w1 = SnapshotTable.writeIf(spark, dir, mkDf(Seq(("a", 2L, 4.0))), "grp", 1L)
    assert(w1.contains(2L))
    // stale expectation: table is at v2, writer still believes v1
    val w2 = SnapshotTable.writeIf(spark, dir, mkDf(Seq(("a", 9L, 99.0))), "grp", 1L)
    assert(w2.isEmpty)
    assert(SnapshotTable.latest(spark, dir).map(_._1).contains(2L),
      "a lost CAS must not advance the table")
    val vals = SnapshotTable.read(spark, dir).select("v")
      .collect().map(_.getDouble(0)).toSet
    assert(vals == Set(4.0), s"loser's rows must be invisible: $vals")
  }

  test("concurrent refreshes never double-apply a delta") {
    val src = tempDir("srcR"); val mv = tempDir("viewR")
    SnapshotTable.write(spark, src, mkDf(Seq(("a", 1L, 10.0))), "grp")
    MaterializedView.create(spark, mv, src, Seq("grp"), aggs, "grp")
    SnapshotTable.append(spark, src, mkDf(Seq(("a", 2L, 5.0))), "grp")
    // two refreshes race the same delta; the CAS guarantees at most one
    // lands — the loser either sees nothing new (None) or loses the
    // commit (ConcurrentRefreshException). Either way the state below
    // must equal a from-scratch build, i.e. the delta applied ONCE.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(Future(refreshOutcome(mv, src)), Future(refreshOutcome(mv, src)))
      .map(f => Await.result(f, 120.seconds))
    assert(attempts.count(_ == "committed") >= 1, s"outcomes: $attempts")
    val scratch = MaterializedView
      .fullState(SnapshotTable.read(spark, src), Seq("grp"), aggs)
      .select("grp", "n", "sv", "lo", "hi")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(state(mv) == scratch,
      s"racing refreshes must apply the delta exactly once (outcomes: $attempts)")
    assert(state(mv)("a") == ((2L, 15.0, 5.0, 10.0)))
  }

  private def refreshOutcome(mv: String, src: String): String =
    try {
      if (MaterializedView.refresh(spark, mv, src, Seq("grp"), aggs, "grp").isDefined)
        "committed" else "nothing-new"
    } catch {
      case _: MaterializedView.ConcurrentRefreshException => "lost-race"
    }

  test("NULL grouping key merges instead of duplicating (null-safe state join)") {
    import spark.implicits._
    val src = tempDir("nsrc"); val mv = tempDir("nview")
    def mk(rows: Seq[(Option[String], Long, Double)]) = rows.toDF("grp", "k", "v")
    SnapshotTable.write(spark, src,
      mk(Seq((Some("a"), 1L, 2.0), (None, 2L, 5.0))), "grp")
    MaterializedView.create(spark, mv, src, Seq("grp"), aggs, "grp")
    // delta touches BOTH the null group and a non-null group — under a
    // plain equi-join the null group's old and delta states never match
    // and the view keeps two forever-diverging NULL rows (ADVICE r10)
    SnapshotTable.append(spark, src,
      mk(Seq((None, 3L, 7.0), (Some("a"), 4L, 1.0))), "grp")
    assert(MaterializedView.refresh(spark, mv, src, Seq("grp"), aggs, "grp").isDefined)
    val st = MaterializedView.read(spark, mv)
      .select("grp", "n", "sv", "lo", "hi").collect()
    assert(st.length == 2, s"one row per group incl. NULL: ${st.mkString("; ")}")
    val nullRow = st.find(_.isNullAt(0)).get
    assert((nullRow.getLong(1), nullRow.getDouble(2), nullRow.getDouble(3),
      nullRow.getDouble(4)) == ((2L, 12.0, 5.0, 7.0)), s"null-group state: $nullRow")
    val aRow = st.find(r => !r.isNullAt(0) && r.getString(0) == "a").get
    assert((aRow.getLong(1), aRow.getDouble(2), aRow.getDouble(3),
      aRow.getDouble(4)) == ((2L, 3.0, 1.0, 2.0)))
    // the incrementally maintained view is indistinguishable from a
    // from-scratch recompute
    val full = MaterializedView.fullState(
      SnapshotTable.read(spark, src), Seq("grp"), aggs)
      .select("grp", "n", "sv", "lo", "hi").collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val got = st.map(r => (Option(r.get(0)), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))).toSet
    assert(got == full, s"view $got != fullState $full")
  }

  test("refresh before create fails loudly; unsupported aggregate rejected") {
    val src = tempDir("src3"); val mv = tempDir("view3")
    SnapshotTable.write(spark, src, mkDf(Seq(("a", 1L, 3.0))), "grp")
    intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, mv, src, Seq("grp"), aggs, "grp")
    }
    intercept[IllegalArgumentException] {
      AggSpec("avg", "v", "bad")
    }
  }
}
