package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins must be shuffle-free; salted joins must be
  * row-identical to plain joins while spreading hot keys.
  */
class LayoutsSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      Layouts.writeBucketed(li, "li_bucketed", 8, Seq("l_orderkey"))
      Layouts.writeBucketed(ord, "ord_bucketed", 8, Seq("o_orderkey"))
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + plan)
      assert(joined.count() ==
        li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("z-ordered layout prunes partitions for a 2-D rectangle and stays exact") {
    val dir = tempDir("events_z")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value", "event_type")
    val meta = Layouts.writeZOrdered(ev, dir, "user_id", "event_id", bitsPerDim = 3)
    // a ~1/8 × 1/8 rectangle in (user_id, event_id)
    val xLo = meta.minX; val xHi = meta.minX + (meta.maxX - meta.minX) / 8
    val yLo = meta.minY; val yHi = meta.minY + (meta.maxY - meta.minY) / 8
    val pruned = Layouts.readZOrdered(spark, dir, meta,
      "user_id", "event_id", xLo, xHi, yLo, yHi)
    val expected = ev.filter(col("user_id").between(xLo, xHi) &&
      col("event_id").between(yLo, yHi))
    // exactness: same multiset of rows as the brute-force filter
    assert(pruned.count() == expected.count() && expected.count() > 0)
    assert(pruned.select("event_id").except(expected.select("event_id")).isEmpty &&
      expected.select("event_id").except(pruned.select("event_id")).isEmpty)
    // pruning: the scan must touch a strict subset of the bucket dirs
    // (with 3+3 bits and a 1/8×1/8 rectangle, ≤4 of up to 64 cells
    // intersect; partition pruning happens at planning, so the listed
    // file count drops with it)
    val allBuckets = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("zb="))
    val touched = Layouts.zBucketsFor(meta, xLo, xHi, yLo, yHi).toSet
    assert(touched.size < allBuckets,
      s"rectangle touches ${touched.size} of $allBuckets buckets — no pruning")
    pruned.collect()
    val planFiles = pruned.queryExecution.executedPlan.toString
    assert(planFiles.contains("PartitionFilters") && planFiles.contains("zb"),
      s"no partition filter on zb in plan:\n$planFiles")
    // every kept row really lives in a touched bucket
    assert(spark.read.parquet(dir).filter(col("user_id").between(xLo, xHi) &&
        col("event_id").between(yLo, yHi))
      .select("zb").distinct().collect().map(_.getInt(0)).toSet.subsetOf(touched))
  }

  test("salted join is row-identical to the plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderstatus")
    val salted = Layouts.saltedJoin(li, ord, "l_orderkey", "o_orderkey", n = 4)
      .select("l_orderkey", "l_linenumber", "o_orderstatus")
    assertSameRows(plain, salted)
  }

  test("salted left join preserves unmatched rows exactly once per salt assignment") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber")
    val none = Tables.orders(spark, sf).filter(lit(false))
      .select("o_orderkey", "o_orderstatus")
    val out = Layouts.saltedJoin(li, none, "l_orderkey", "o_orderkey", n = 4, "left")
    assert(out.count() == li.count())
    assert(out.filter(col("o_orderstatus").isNotNull).count() == 0)
  }

  test("deleteWhere rewrites only affected partitions; untouched files identical") {
    import spark.implicits._
    val dir = tempDir("t")
    // partition A holds users 1+2, B holds ONLY user 1, C holds user 3
    Seq((1L, "A", 1L), (2L, "A", 2L), (3L, "B", 1L), (4L, "B", 1L), (5L, "C", 3L))
      .toDF("id", "p", "user_id")
      .write.partitionBy("p").parquet(dir)
    def fileState(part: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/p=$part")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    }
    val cBefore = fileState("C")
    val affected = Layouts.deleteWhere(spark, dir, "p",
      org.apache.spark.sql.functions.col("user_id") === 1L)
    assert(affected == Seq("A", "B"), s"affected partitions: $affected")
    val after = spark.read.parquet(dir).select("id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((2L, 2L), (5L, 3L)), s"surviving rows: $after")
    assert(fileState("B").isEmpty, "fully-deleted partition directory must be gone")
    assert(fileState("C") == cBefore,
      "untouched partition files must remain byte-identical (same name/size/mtime)")
  }

  test("compaction collapses a many-small-files directory preserving rows") {
    val dir = tempDir("t")
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    df.repartition(50).write.mode("overwrite").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles == 50)
    val before = df.collect().map(_.toSeq).toSet
    val n = Layouts.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    assert(n == 1, s"expected a single compacted file, got $n")
    assert(parquetFiles == 1)
    val after = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed the data")
    assert(!new java.io.File(dir + "__compact_tmp").exists())
    assert(!new java.io.File(dir + "__compact_old").exists())
    assert(!new java.io.File(dir + "/_compact_intent").exists())
    assert(!new java.io.File(dir + "/_compact_commit").exists())
  }

  test("compaction rolls FORWARD a committed interrupted hand-over") {
    val dir = tempDir("t")
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    df.repartition(4).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    val total = df.count()
    // simulate a crash AFTER commit: the victim's compacted replacement is
    // already renamed in (here: a byte-copy of the victim), commit marker
    // present, the victim's delete still pending
    val victim = files.head
    val replacement = java.nio.file.Paths.get(dir, "compact-dead-0.parquet")
    java.nio.file.Files.copy(victim.toPath, replacement)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_compact_intent"),
      s"D ${victim.getPath}\nR $replacement".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_compact_commit"), "ok".getBytes("UTF-8"))
    val n = Layouts.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    assert(n == 1)
    assert(!victim.exists(), "replay did not roll forward the pending delete")
    assert(spark.read.parquet(dir).count() == total,
      "roll-forward lost or duplicated rows")
    assert(!new java.io.File(dir + "/_compact_intent").exists())
    assert(!new java.io.File(dir + "/_compact_commit").exists())
  }

  test("compaction clears an orphaned commit marker instead of rolling it forward") {
    val dir = tempDir("t")
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    df.repartition(4).write.mode("overwrite").parquet(dir)
    val total = df.count()
    // simulate a crash between the intent and commit deletes of a
    // COMPLETED hand-over: commit present, intent gone (the r4 ADVICE
    // window — with the old commit-first teardown this state was instead
    // intent-without-commit, and replay's rollback branch deleted the only
    // surviving copy of the data). The orphan must be cleared, not paired
    // with the new intent as a premature roll-forward.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_compact_commit"), "ok".getBytes("UTF-8"))
    val n = Layouts.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    assert(n == 1)
    assert(spark.read.parquet(dir).count() == total,
      "orphaned commit handling lost or duplicated rows")
    assert(!new java.io.File(dir + "/_compact_intent").exists())
    assert(!new java.io.File(dir + "/_compact_commit").exists())
  }

  test("compaction rolls BACK an uncommitted hand-over (the r3 data-loss window)") {
    val dir = tempDir("t")
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    df.repartition(4).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    val total = df.count()
    // simulate a crash MID-RENAME: intent written, one of two replacements
    // renamed in (duplicating part of the data), no commit marker. Under
    // the r2 single-manifest ordering this state replayed the deletes and
    // lost every original whose replacement never arrived.
    val partial = java.nio.file.Paths.get(dir, "compact-dead-0.parquet")
    java.nio.file.Files.copy(files.head.toPath, partial)
    val intentLines = files.map(f => s"D ${f.getPath}") :+
      s"R $partial" :+ s"R ${dir}/compact-dead-1.parquet"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_compact_intent"),
      intentLines.mkString("\n").getBytes("UTF-8"))
    val n = Layouts.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    assert(n == 1)
    assert(spark.read.parquet(dir).count() == total,
      "rollback lost rows or let the partial replacement's duplicates survive")
    assert(!new java.io.File(dir + "/_compact_intent").exists())
    assert(!new java.io.File(dir + "/_compact_commit").exists())
  }
}
