package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Change-feed contract ([[SnapshotTable.readChangesSince]], VERDICT
  * r13 #6) and its consumer ([[MaterializedView.refreshWithDeletes]]):
  * folding `old - deletes + inserts` must be indistinguishable from
  * recomputing against the new snapshot, for every mutation class the
  * table supports — append, DV delete, partition-rewrite delete, MERGE,
  * compact — and the MV refresh that consumes it must fold deletions
  * without rescanning the base table.
  */
class ChangeFeedSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("k").cast("long"), col("p").cast("long"),
        col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Fold the feed over the since-snapshot and compare with the latest
    * snapshot — the algebraic contract every consumer relies on. */
  private def assertFeedExact(dir: String, sinceV: Long): Unit = {
    val (nowV, ins, del) = SnapshotTable.readChangesSince(spark, dir, sinceV)
      .getOrElse(fail(s"expected changes after v$sinceV"))
    val before = rowSet(SnapshotTable.read(spark, dir, Some(sinceV)))
    val after = rowSet(SnapshotTable.read(spark, dir, Some(nowV)))
    val (insS, delS) = (rowSet(ins), rowSet(del))
    assert(delS.subsetOf(before), s"deletes not in the old snapshot: " +
      s"${delS -- before}")
    assert((before -- delS) ++ insS == after,
      s"fold mismatch: before=$before del=$delS ins=$insS after=$after")
  }

  test("append + DV delete: feed is exactly (new rows, deleted rows)") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((4L, 1L, 40L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)
    val (nowV, ins, del) = SnapshotTable.readChangesSince(spark, dir, 1L).get
    assert(nowV == 3L)
    assert(rowSet(ins) == Set((4L, 1L, 40L)))
    assert(rowSet(del) == Set((2L, 0L, 20L)))
    assertFeedExact(dir, 1L)
    assert(SnapshotTable.readChangesSince(spark, dir, 3L).isEmpty,
      "an up-to-date reader gets None")
    // compact is row-preserving maintenance tagged #datachange=false:
    // the feed SKIPS it (VERDICT r14 #1) — an OPTIMIZE-only window
    // feeds nothing at all, not table-sized self-canceling churn
    SnapshotTable.compact(spark, dir, "p")
    assert(SnapshotTable.readChangesSince(spark, dir, 3L).isEmpty,
      "a maintenance-only window must feed None")
    // and a LATER real change feeds exactly itself, straddling the
    // maintenance commit transparently
    SnapshotTable.append(spark, dir, mkDf(Seq((9L, 1L, 90L))), "p")
    val (_, ins3, del3) = SnapshotTable.readChangesSince(spark, dir, 3L).get
    assert(rowSet(ins3) == Set((9L, 1L, 90L)) && rowSet(del3).isEmpty,
      "the post-OPTIMIZE append is the only change the window feeds")
    assertFeedExact(dir, 3L)
  }

  test("a row appended AND DV-deleted within the window never surfaces " +
      "as an insert") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((2L, 0L, 20L))), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)
    val (_, ins, del) = SnapshotTable.readChangesSince(spark, dir, 1L).get
    assert(rowSet(ins).isEmpty, "the netted-out row leaked as an insert")
    assert(rowSet(del).isEmpty, "a row absent at `since` cannot be a delete")
    assertFeedExact(dir, 1L)
  }

  test("MERGE surfaces as delete(old row) + insert(new row); compact " +
      "is skipped; partition-rewrite deletes surface exactly") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L))), "p")
    SnapshotTable.merge(spark, dir, "p", "k",
      mkDf(Seq((2L, 1L, 99L), (5L, 1L, 50L)))) // k=2 moves p=0 -> p=1
    assertFeedExact(dir, 1L)
    val (_, ins, del) = SnapshotTable.readChangesSince(spark, dir, 1L).get
    assert(rowSet(del).contains((2L, 0L, 20L)), "the upsert's old row is a delete")
    assert(rowSet(ins).contains((2L, 1L, 99L)), "the upsert's new row is an insert")
    val v2 = SnapshotTable.latest(spark, dir).get._1
    SnapshotTable.deleteWhere(spark, dir, "p", col("k") === 1L)
    assertFeedExact(dir, v2)
    val v3 = SnapshotTable.latest(spark, dir).get._1
    SnapshotTable.append(spark, dir, mkDf(Seq((6L, 0L, 60L))), "p")
    SnapshotTable.compact(spark, dir, "p")
    assertFeedExact(dir, v3) // the maintenance tail contributes nothing
    assertFeedExact(dir, 1L) // and the whole chain composes end to end
  }

  test("changes straddling maintenance commits NET to the endpoint " +
      "diff: compactClustered and the DV-fold rewrite feed nothing, " +
      "and a row appended before and deleted after an OPTIMIZE cancels") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L))), "p") // v1
    SnapshotTable.append(spark, dir, mkDf(Seq((4L, 1L, 40L))), "p") // v2
    // DV-fold class: live DV rows force the rewrite, which folds them
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)        // v3
    SnapshotTable.compact(spark, dir, "p")                          // v4
    // full-recluster class
    SnapshotTable.compactClustered(spark, dir, "p", "k")            // v5
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 4L)        // v6
    // multi-run window (v1..v2 | v5..v6): k=4 was appended in the first
    // run and deleted in the second — netting must cancel it entirely
    val (nowV, ins, del) = SnapshotTable.readChangesSince(spark, dir, 1L).get
    assert(nowV == 6L)
    assert(rowSet(ins).isEmpty,
      s"appended-then-deleted row must net out: ${rowSet(ins)}")
    assert(rowSet(del) == Set((2L, 0L, 20L)),
      s"only the k=2 delete survives netting: ${rowSet(del)}")
    assertFeedExact(dir, 1L)
    // both OPTIMIZE classes feed zero rows in per-commit attribution too
    assert(SnapshotTable.tableChanges(spark, dir, 3L, 4L).count() == 0L,
      "the DV-fold compact commit must feed nothing")
    assert(SnapshotTable.tableChanges(spark, dir, 4L, 5L).count() == 0L,
      "the compactClustered commit must feed nothing")
    // per-commit attribution across the whole range skips v4/v5
    val vs = SnapshotTable.tableChanges(spark, dir, 1L, 6L)
      .select(col(SnapshotTable.CommitVersionCol).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(vs == Set(2L, 3L, 6L), s"maintenance commits leaked: $vs")
  }

  test("a wide commit range (200+) walks without plan blow-up and " +
      "folds exactly") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((0L, 0L, 0L))), "p")
    val n = 210
    (1 to n).foreach { i =>
      SnapshotTable.append(spark, dir, mkDf(Seq((i.toLong, 0L, i.toLong))), "p")
    }
    val ch = SnapshotTable.tableChanges(spark, dir, 1L, 1L + n)
    assert(ch.count() == n.toLong)
    val sums = ch.agg(org.apache.spark.sql.functions.sum("v")).first().getLong(0)
    assert(sums == n.toLong * (n + 1) / 2)
    // per-commit attribution intact through the chunked union
    val vs = ch.select(col(SnapshotTable.CommitVersionCol).cast("long"))
      .distinct().count()
    assert(vs == n.toLong)
    // and the run-splitting endpoint feed over the same range is one
    // pairwise diff, exact
    assertFeedExact(dir, 1L)
  }

  test("refreshWithDeletes folds a DV erasure into the view without a " +
      "rebuild and matches the from-scratch recompute") {
    val src = tempDir("t"); val mv = tempDir("t")
    SnapshotTable.write(spark, src,
      mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L), (4L, 1L, 40L))), "p")
    val aggs = Seq(MaterializedView.AggSpec("count", "", "n"),
      MaterializedView.AggSpec("sum", "v", "sum_v"))
    MaterializedView.create(spark, mv, src, Seq("p"), aggs, "p")
    SnapshotTable.append(spark, src, mkDf(Seq((5L, 0L, 50L))), "p")
    SnapshotTable.deleteWhereDV(spark, src, col("k").isin(2L, 3L))
    // plain refresh must still fail loudly (its append-only contract)
    intercept[IllegalStateException] {
      MaterializedView.refresh(spark, mv, src, Seq("p"), aggs, "p")
    }
    assert(MaterializedView.refreshWithDeletes(
      spark, mv, src, Seq("p"), aggs, "p").nonEmpty)
    val got = MaterializedView.read(spark, mv)
      .select(col("p").cast("long"), col("n").cast("long"),
        col("sum_v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // from scratch: p=0 holds k=1,5 (k=2 deleted); p=1 holds k=4
    assert(got == Set((0L, 2L, 60L), (1L, 1L, 40L)), s"got $got")
    assert(MaterializedView.sourceVersion(spark, mv) ==
      SnapshotTable.latest(spark, src).get._1)
    // idempotent: nothing new -> None
    assert(MaterializedView.refreshWithDeletes(
      spark, mv, src, Seq("p"), aggs, "p").isEmpty)
  }

  test("tableChanges attributes every row change to its commit and the " +
      "fold across the range reproduces the endpoint") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(Seq((1L, 0L, 10L), (2L, 0L, 20L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((3L, 1L, 30L))), "p")       // v2
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L)              // v3
    SnapshotTable.updateWhere(spark, dir, "p",                            // v4
      col("k") === 1L, Map("v" -> (col("v") + 1L)))
    val ch = SnapshotTable.tableChanges(spark, dir, 1L, 4L)
    val got = ch.select(col(SnapshotTable.CommitVersionCol).cast("long"),
        col(SnapshotTable.ChangeTypeCol),
        col("k").cast("long"), col("p").cast("long"), col("v").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toSet
    assert(got == Set(
      (2L, "insert", (3L, 1L, 30L)),
      (3L, "delete", (2L, 0L, 20L)),
      (4L, "delete", (1L, 0L, 10L)),   // the UPDATE's old version...
      (4L, "insert", (1L, 0L, 11L))),  // ...and its new version, same commit
      s"got $got")
    // the fold law: v1 minus all deletes plus all inserts == v4
    val cols = Seq("k", "p", "v").map(col)
    val folded = rowSet(SnapshotTable.read(spark, dir, Some(1L))) --
      rowSet(ch.filter(col(SnapshotTable.ChangeTypeCol) === "delete")
        .select(cols: _*)) ++
      rowSet(ch.filter(col(SnapshotTable.ChangeTypeCol) === "insert")
        .select(cols: _*))
    assert(folded == rowSet(SnapshotTable.read(spark, dir, Some(4L))))
    intercept[IllegalArgumentException] {
      SnapshotTable.tableChanges(spark, dir, 3L, 3L)
    }
    // a vacuumed range cannot be diffed — fail loudly, not approximately
    SnapshotTable.vacuum(spark, dir, retain = 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.tableChanges(spark, dir, 1L, 4L).collect()
    }
  }

  test("refreshWithDeletes retires a group whose every row is deleted " +
      "and still requires a count column on the invertible path") {
    val src = tempDir("t"); val mv = tempDir("t")
    SnapshotTable.write(spark, src,
      mkDf(Seq((1L, 0L, 10L), (3L, 1L, 30L))), "p")
    val aggs = Seq(MaterializedView.AggSpec("count", "", "n"),
      MaterializedView.AggSpec("sum", "v", "sum_v"))
    MaterializedView.create(spark, mv, src, Seq("p"), aggs, "p")
    SnapshotTable.deleteWhereDV(spark, src, col("p") === 1L)
    MaterializedView.refreshWithDeletes(spark, mv, src, Seq("p"), aggs, "p")
    val groups = MaterializedView.read(spark, mv)
      .select(col("p").cast("long")).collect().map(_.getLong(0)).toSet
    assert(groups == Set(0L),
      s"the emptied group must leave the state entirely: $groups")
    intercept[RuntimeException] {
      MaterializedView.refreshWithDeletes(spark, mv, src, Seq("p"),
        Seq(MaterializedView.AggSpec("sum", "v", "s")), "p")
    }
  }

  test("refreshWithDeletes folds min/max by partial-group recompute: " +
      "touched groups re-aggregate (partition-pruned), untouched groups " +
      "never rescan, fully-deleted groups leave the state") {
    val src = tempDir("t"); val mv = tempDir("t")
    SnapshotTable.write(spark, src, mkDf(Seq(
      (1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L), (4L, 1L, 40L),
      (5L, 2L, 50L))), "p")
    val aggs = Seq(MaterializedView.AggSpec("count", "", "n"),
      MaterializedView.AggSpec("sum", "v", "sum_v"),
      MaterializedView.AggSpec("min", "v", "mn"),
      MaterializedView.AggSpec("max", "v", "mx"))
    MaterializedView.create(spark, mv, src, Seq("p"), aggs, "p")
    // an insert into an UNTOUCHED group, the group-1 minimum retired
    // (min must RISE — only a recompute can know the new minimum), and
    // group 2 deleted entirely
    SnapshotTable.append(spark, src, mkDf(Seq((6L, 0L, 5L))), "p")
    SnapshotTable.deleteWhereDV(spark, src,
      col("k") === 3L || col("p") === 2L)
    assert(MaterializedView.refreshWithDeletes(spark, mv, src, Seq("p"),
      aggs, "p", sourcePartKey = Some("p")).nonEmpty)
    val got = MaterializedView.read(spark, mv)
      .select(col("p").cast("long"), col("n").cast("long"),
        col("sum_v").cast("long"), col("mn").cast("long"),
        col("mx").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      (0L, 3L, 35L, 5L, 20L),   // untouched group folded its insert
      (1L, 1L, 40L, 40L, 40L)), // min rose from 30 to 40 via recompute
      s"got $got")
    // group 2 left the state with no count sentinel involved
    // recompute scan restriction: the touched partitions' dirs are a
    // strict subset of the table's files
    val (_, kept, tot) = SnapshotTable.readPartitions(spark, src, "p",
      Seq("1", "2"))
    assert(kept >= 1 && kept < tot,
      s"partition restriction must prune files ($kept/$tot)")
    // idempotent: nothing new -> None
    assert(MaterializedView.refreshWithDeletes(spark, mv, src, Seq("p"),
      aggs, "p", sourcePartKey = Some("p")).isEmpty)
    // a sourcePartKey outside the view keys is refused
    intercept[IllegalArgumentException] {
      MaterializedView.refreshWithDeletes(spark, mv, src, Seq("p"),
        aggs, "p", sourcePartKey = Some("nope"))
    }
  }
}
