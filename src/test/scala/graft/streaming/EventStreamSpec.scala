package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Structured Streaming over the static events parquet: the streaming
  * hourly aggregate must agree with its batch twin (q31) on every window
  * the watermark has closed, and session windows must cover all events.
  */
class EventStreamSpec extends SparkSpec {

  // the file stream source needs a directory; stage the single parquet
  // file into one (a real deployment streams a growing directory anyway)
  private lazy val eventsDir: String = {
    val tmp = java.nio.file.Paths.get(tempDir())
    EventStream.stageEvents(spark, sf, tmp, "part-0")
    tmp.toString
  }

  /** epoch millis from either java.sql.Timestamp (TimestampType rows) or
    * java.time.LocalDateTime (TIMESTAMP_NTZ rows, UTC session). */
  private def millis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case o => fail(s"unexpected timestamp class ${o.getClass}")
  }

  test("streaming hourly aggregates match the batch q31 result for closed windows") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.hourlyAggregates(EventStream.readEvents(spark, eventsDir)),
      "hourly_agg_test")
    val batch = graft.SparkEntry.queries("q31_time_window")(spark, sf)
    val batchMap = batch.collect()
      .map(r => (millis(r.get(0)), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val emitted = streamed.collect()
    assert(emitted.nonEmpty, "watermark should have closed at least one window")
    emitted.foreach { r =>
      val key = (millis(r.get(0)), r.getString(1))
      val (n, v) = (r.getLong(2), r.getDouble(3))
      assert(batchMap.contains(key), s"streaming emitted unknown window $key")
      val (bn, bv) = batchMap(key)
      assert(n == bn, s"count mismatch for $key: $n vs $bn")
      assert(math.abs(v - bv) <= 1e-9 * math.max(math.abs(bv), 1.0))
    }
  }

  test("session windows partition each user's events without loss (closed sessions)") {
    val sessions = EventStream.runToMemory(spark,
      EventStream.userSessions(EventStream.readEvents(spark, eventsDir)),
      "sessions_test")
    val rows = sessions.collect()
    assert(rows.nonEmpty)
    // sessions are disjoint per user and well-formed
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => millis(r.get(1)))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(millis(a.get(2)) <= millis(b.get(1)), "sessions overlap")
        case _ =>
      }
    }
    rows.foreach { r =>
      assert(r.getLong(3) > 0)
      assert(millis(r.get(1)) <= millis(r.get(2)))
    }
  }

  test("foreachBatch sink lands partitioned parquet that matches the memory sink") {
    val outDir = tempDir("agg")
    EventStream.runToParquet(
      EventStream.hourlyAggregates(EventStream.readEvents(spark, eventsDir)), outDir)
    val fromParquet = spark.read.parquet(outDir)
      .select("window_start", "event_type", "n", "total_value")
    val fromMemory = EventStream.runToMemory(spark,
      EventStream.hourlyAggregates(EventStream.readEvents(spark, eventsDir)),
      "fb_compare_test")
    assertSameRows(fromMemory, fromParquet)
    // partitioned layout: one hive directory per event type
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("event_type=")), dirs.mkString(","))
  }

  test("snapshot-table sink is exactly-once across a full stream replay") {
    val dir = tempDir("t")
    def runOnce(): Unit = EventStream.runToSnapshotTable(
      EventStream.hourlyAggregates(EventStream.readEvents(spark, eventsDir)),
      dir, "event_type")
    runOnce()
    val afterFirst = graft.sources.SnapshotTable.read(spark, dir, None)
    val firstRows = afterFirst.count()
    assert(firstRows > 0)
    // the sink matches the memory-sink twin row-for-row
    val fromMemory = EventStream.runToMemory(spark,
      EventStream.hourlyAggregates(EventStream.readEvents(spark, eventsDir)),
      "snap_sink_compare")
    assertSameRows(fromMemory,
      afterFirst.select("window_start", "event_type", "n", "total_value"))
    // crash-replay: a fresh checkpoint re-delivers the same batch ids over
    // the same files; appendBatch must find each id in a manifest and no-op
    runOnce()
    val replayed = graft.sources.SnapshotTable.read(spark, dir, None).count()
    assert(replayed == firstRows,
      s"replay duplicated rows: $firstRows -> $replayed")
  }

  test("streaming sketch table: merge-on-read quantiles, replay-idempotent") {
    // two staged files → two micro-batches → up to two sketch CELLS per
    // (day, type); merge-on-read must still answer rank-accurate
    // quantiles, and a full stream replay must not double-count
    val srcDir = java.nio.file.Paths.get(tempDir())
    EventStream.stageEvents(spark, sf, srcDir, "a")
    EventStream.stageEvents(spark, sf, srcDir, "b") // same corpus again
    val dir = tempDir("t")
    def runOnce(): Unit = EventStream.runSketchCells(
      EventStream.readEvents(spark, srcDir.toString), dir)
    runOnce()
    val q = EventStream.sketchQuantiles(spark, dir).collect()
    assert(q.nonEmpty)
    // rank contract per type vs the doubled raw corpus (both copies)
    val raw = graft.Tables.events(spark, sf).select("event_type", "value")
    val doubled = raw.union(raw)
    q.foreach { r =>
      val (typ, nRows, p50, p90) =
        (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4))
      val vals = doubled.filter(col("event_type") === typ)
        .select("value").collect().map(_.getDouble(0))
      assert(nRows == vals.length.toLong,
        s"$typ: sketch table row accounting $nRows != ${vals.length}")
      val r50 = vals.count(_ <= p50).toDouble / vals.length
      val r90 = vals.count(_ <= p90).toDouble / vals.length
      assert(math.abs(r50 - 0.5) <= 0.03, s"$typ p50 rank drift: $r50")
      assert(math.abs(r90 - 0.9) <= 0.03, s"$typ p90 rank drift: $r90")
    }
    // replay with a fresh checkpoint: every batch id already committed
    // inside the manifest → appendBatch no-ops, cell count unchanged
    val cellsBefore = graft.sources.SnapshotTable.read(spark, dir, None).count()
    runOnce()
    val cellsAfter = graft.sources.SnapshotTable.read(spark, dir, None).count()
    assert(cellsBefore == cellsAfter,
      s"replay duplicated sketch cells: $cellsBefore -> $cellsAfter")
  }

  test("streaming distinct-cell table: theta merge-on-read equals exact distincts") {
    val srcDir = java.nio.file.Paths.get(tempDir())
    EventStream.stageEvents(spark, sf, srcDir, "a")
    val dir = tempDir("t")
    EventStream.runDistinctCells(
      EventStream.readEvents(spark, srcDir.toString), dir)
    val est = EventStream.distinctRollup(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // exact mode at this corpus (≪ 4096 retained hashes per sketch), so
    // the merged estimate IS the exact per-type distinct user count
    val exact = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (t, e) =>
      assert(e == exact(t).toDouble, s"$t: theta $e != exact ${exact(t)}")
    }
  }

  test("streaming anomaly scorer agrees with batch q158 on closed windows") {
    val baseDir = tempDir("b")
    EventStream.buildSeasonalBaseline(spark, sf, baseDir)
    val streamed = EventStream.runToMemory(spark,
      EventStream.scoreAgainstBaseline(
        EventStream.readEvents(spark, eventsDir), spark, baseDir),
      "anomaly_score_test")
    val batch = graft.SparkEntry.queries("q158_seasonal_anomaly")(spark, sf)
      .collect()
      .map(r => (millis(r.get(1)), r.getString(0)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val emitted = streamed.collect()
    assert(emitted.nonEmpty, "the stream should flag at least one closed hour")
    emitted.foreach { r =>
      val key = (millis(r.get(1)), r.getString(0))
      assert(batch.contains(key), s"stream flagged a non-batch anomaly: $key")
      val (n, med, mad) = batch(key)
      assert(r.getLong(2) == n && r.getDouble(3) == med && r.getDouble(4) == mad,
        s"flag payload mismatch at $key: $r vs ${batch(key)}")
    }
    // closed-window coverage: all but the final (unclosed) hours flag
    assert(emitted.length >= batch.size - 5,
      s"stream flagged ${emitted.length} of ${batch.size} batch anomalies")
  }

  test("streaming dedup by event_id drops replayed events within the watermark") {
    // stage the same parquet file twice — a full replay of every event
    val dir = java.nio.file.Paths.get(tempDir())
    EventStream.stageEvents(spark, sf, dir, "a")
    java.nio.file.Files.copy(dir.resolve("a.parquet"), dir.resolve("b.parquet"))
    val deduped = EventStream.runToMemory(spark,
      EventStream.dedupedEvents(EventStream.readEvents(spark, dir.toString)),
      "dedup_test")
    val expected = graft.Tables.events(spark, sf).count()
    assert(deduped.count() == expected,
      s"expected $expected unique events, got ${deduped.count()}")
  }

  test("stream-stream time-bounded join matches its batch twin exactly") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.purchaseAttribution(EventStream.readEvents(spark, eventsDir)),
      "attribution_test")
    // batch twin: identical join over the static table (all events arrive
    // in batch 0, so the watermark drops nothing and the sets must match)
    // cast ntz → ltz (UTC session) to match the stream reader's types
    val ev = graft.Tables.events(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val batch = purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 30 minutes") &&
        col("click_ts") < col("purchase_ts"))
      .select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
    assert(streamed.count() > 0, "attribution join should produce matches on testdata")
    assertSameRows(batch, streamed)
  }

  test("left-outer stream-stream join emits unattributed purchases after the watermark") {
    // stage the real events plus a far-future sentinel file; with
    // maxFilesPerTrigger=1 the sentinel arrives as a SECOND micro-batch,
    // advancing both sides' watermarks so outer (null-click) rows for the
    // main data can actually emit — outer emission is watermark-gated and
    // needs a later batch
    val dir = java.nio.file.Paths.get(tempDir())
    EventStream.stageEvents(spark, sf, dir, "a")
    val maxTs = graft.Tables.events(spark, sf).agg(max("ts")).first().getAs[Any](0)
    val maxMs = millis(maxTs)
    import spark.implicits._
    // two sentinel files: the first advances the watermark past the main
    // data; the second exists so that eviction with the advanced watermark
    // happens inside a DATA batch — processAllAvailable doesn't wait for
    // trailing no-data batches, which would race the last outer emissions
    def sentinelFile(name: String, hoursClick: Long, hoursPurchase: Long, idBase: Long): Unit = {
      val df = Seq(
        (idBase, new java.sql.Timestamp(maxMs + hoursClick * 3600 * 1000),
          999999L, "click", 0.0, "{}"),
        (idBase + 1, new java.sql.Timestamp(maxMs + hoursPurchase * 3600 * 1000),
          999998L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      EventStream.writeEventsFile(df, dir, name)
    }
    sentinelFile("b", 10, 20, 1000000001L)
    sentinelFile("c", 30, 40, 1000000003L)

    val staged = spark.readStream.schema(EventStream.streamSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val outer = EventStream.runToMemory(spark,
      EventStream.purchaseAttribution(staged, "left_outer"), "attr_outer_test").collect()
      .filter(_.getLong(1) < 1000000000L) // main-data purchases only

    // batch twins over the static table
    val ev = graft.Tables.events(spark, sf).withColumn("ts", col("ts").cast("timestamp"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    val matchedBatch = purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 30 minutes") &&
        col("click_ts") < col("purchase_ts"))
      .select("purchase_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val allPurchases = purchases.select("purchase_id").collect().map(_.getLong(0)).toSet

    val (matched, unmatched) = outer.partition(!_.isNullAt(3))
    assert(matched.nonEmpty && unmatched.nonEmpty,
      s"expected both matched and null-click rows, got ${matched.length}/${unmatched.length}")
    // every null-click purchase truly has no qualifying click
    unmatched.foreach { r =>
      assert(!matchedBatch.contains(r.getLong(1)),
        s"purchase ${r.getLong(1)} emitted as unattributed but has a click")
    }
    // completeness: every main-data purchase appears (sentinel pushed the
    // watermark far past all of them)
    val emittedIds = outer.map(_.getLong(1)).toSet
    assert(emittedIds == allPurchases,
      s"missing ${allPurchases -- emittedIds}, extra ${emittedIds -- allPurchases}")
  }

  test("stream-static dimension enrichment matches the batch join") {
    val customers = graft.Tables.customer(spark, sf)
    val streamed = EventStream.runToMemory(spark,
      EventStream.enrichedEvents(EventStream.readEvents(spark, eventsDir), customers),
      "enrich_test")
    val batch = EventStream.enrichedEvents(
      graft.Tables.events(spark, sf).withColumn("ts", col("ts").cast("timestamp")),
      customers)
    assert(streamed.count() == graft.Tables.events(spark, sf).count(),
      "left enrichment must preserve stream cardinality")
    assertSameRows(batch, streamed)
  }

  test("value-gap stateful sessions agree with the batch q78 result") {
    val emitted = EventStream.runToMemory(spark,
      EventStream.valueGapSessions(EventStream.readEvents(spark, eventsDir)).toDF(),
      "value_sessions_test").collect()
    assert(emitted.nonEmpty, "gap-closed value sessions should be emitted")
    val batch = graft.SparkEntry.queries("q78_value_sessions")(spark, sf).collect()
      .map(r => (r.getLong(0), millis(r.get(4))) -> (r.getLong(2), r.getDouble(3), millis(r.get(5))))
      .toMap
    emitted.foreach { r =>
      val key = (r.getLong(0), millis(r.get(1)))
      assert(batch.contains(key), s"unknown value session $key")
      val (n, v, endMs) = batch(key)
      assert(r.getLong(3) == n, s"n_events mismatch for $key")
      assert(math.abs(r.getDouble(4) - v) <= 1e-9 * math.max(math.abs(v), 1.0) + 1e-4,
        s"session_value mismatch for $key: ${r.getDouble(4)} vs $v")
      assert(millis(r.get(2)) == endMs)
    }
    // the variable gap must actually bite: q78 and q32 session sets differ
    val fixedGap = graft.SparkEntry.queries("q32_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), millis(r.get(4)))).toSet
    assert(batch.keySet != fixedGap,
      "value-dependent gap produced the same sessions as the fixed 30-min gap")
  }

  test("q77 batch attribution twin matches the streaming inner join on attributed rows") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.purchaseAttribution(EventStream.readEvents(spark, eventsDir)),
      "attr_q77_test")
    val q77Matched = graft.SparkEntry.queries("q77_attribution")(spark, sf)
      .filter(col("click_id") =!= -1L) // drop the unattributed-sentinel rows
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
      .withColumn("click_ts", col("click_ts").cast("timestamp"))
    assertSameRows(q77Matched, streamed)
  }

  test("flatMapGroupsWithState sessions agree with the batch sessionization (q32)") {
    val emitted = EventStream.runToMemory(spark,
      EventStream.statefulSessions(EventStream.readEvents(spark, eventsDir)).toDF(),
      "stateful_sessions_test").collect()
    assert(emitted.nonEmpty, "gap-closed sessions should be emitted")
    // batch q32 sessions keyed by (user, start-ms): every emitted closed
    // session must exactly match one batch session
    val batch = graft.SparkEntry.queries("q32_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), millis(r.get(4))) -> (r.getLong(2), r.getDouble(3), millis(r.get(5))))
      .toMap
    emitted.foreach { r =>
      val key = (r.getLong(0), millis(r.get(1)))
      assert(batch.contains(key), s"unknown session $key")
      val (n, v, endMs) = batch(key)
      assert(r.getLong(3) == n, s"n_events mismatch for $key")
      assert(math.abs(r.getDouble(4) - v) <= 1e-9 * math.max(math.abs(v), 1.0))
      assert(millis(r.get(2)) == endMs)
    }
  }

  test("RocksDB state store produces identical stateful-session and dedup outputs") {
    // The production state backend at north-star scale (VERDICT r4 #5):
    // sessionization/dedup state at 100 TB (millions of keys × watermark
    // window) outgrows the default in-memory HDFS-backed provider;
    // RocksDB keeps state on executor-local disk with the same
    // exactly-once semantics. One session conf selects it — the outputs
    // must be identical under both providers.
    def runBoth(tag: String): (Set[Seq[Any]], Set[Seq[Any]]) = {
      val sess = EventStream.runToMemory(spark,
        EventStream.statefulSessions(EventStream.readEvents(spark, eventsDir)).toDF(),
        s"sess_$tag")
      val dedup = EventStream.runToMemory(spark,
        EventStream.dedupedEvents(EventStream.readEvents(spark, eventsDir)),
        s"dedup_$tag")
      (sess.collect().map(_.toSeq).toSet, dedup.collect().map(_.toSeq).toSet)
    }
    val (sessDefault, dedupDefault) = runBoth("hdfs_default")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (sessRocks, dedupRocks) = runBoth("rocksdb")
      assert(sessDefault.nonEmpty && dedupDefault.nonEmpty)
      assert(sessRocks == sessDefault,
        s"stateful sessions diverge under RocksDB: only-default=" +
          s"${sessDefault -- sessRocks} only-rocksdb=${sessRocks -- sessDefault}")
      assert(dedupRocks == dedupDefault,
        s"streaming dedup diverges under RocksDB: only-default=" +
          s"${(dedupDefault -- dedupRocks).take(3)} only-rocksdb=" +
          s"${(dedupRocks -- dedupDefault).take(3)}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("jobs are source-agnostic: rate and socket sources map onto the one event schema") {
    import EventStream.{RateSource, SocketSource}
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    val want = EventStream.streamSchema.map(f => (f.name, f.dataType))
    val rate = EventStream.readEvents(spark, RateSource(rowsPerSecond = 500))
    val sock = EventStream.readEvents(spark, SocketSource("localhost", 65432))
    assert(shape(rate) == want, "rate source must map to the normalized schema")
    assert(shape(sock) == want, "socket source must map to the normalized schema")
    assert(shape(EventStream.readEvents(spark, eventsDir)) == want)
    // every stateful job ANALYZES against the rate source — no file-source
    // assumption survives in the job definitions
    Seq(EventStream.hourlyAggregates(rate), EventStream.userSessions(rate),
        EventStream.dedupedEvents(rate),
        EventStream.statefulSessions(rate).toDF())
      .foreach(df => assert(df.queryExecution.analyzed != null))
    // and the dedup job RUNS live on the rate source: rows flow within a
    // few micro-batches and event_ids stay unique
    val q = EventStream.dedupedEvents(rate).writeStream
      .outputMode("append").format("memory").queryName("rate_dedup").start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("rate_dedup").isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(250)
    } finally q.stop()
    val rows = spark.table("rate_dedup")
      .select(col("event_id"), col("event_type"), col("value")).collect()
    assert(rows.nonEmpty, "rate-source dedup produced no rows within 60 s")
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "dedup must keep event_id unique")
    val types = Set("view", "click", "signup", "purchase", "error")
    rows.foreach { r =>
      assert(types.contains(r.getString(1)))
      val v = r.getDouble(2)
      assert(v >= 0.0 && v < 100.0, s"mapped value out of range: $v")
    }
  }

  test("late events behind the watermark are dropped, and the drop is ledgered") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(tempDir())
    val t0 = java.time.LocalDateTime.parse("2024-06-01T00:10:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    var mtime = 0
    def file(name: String, rows: Seq[(Long, Long)]): Unit = { // (id, offsetMin)
      EventStream.writeEventsFile(
        rows.map { case (id, off) =>
          (id, new java.sql.Timestamp(t0 + off * 60000L), 1L, "view", 0.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        dir, name)
      // the file source orders new files by modification time; pin
      // strictly increasing mtimes so batch order is a → b → c even on
      // coarse-granularity filesystems
      mtime += 10000
      java.nio.file.Files.setLastModifiedTime(dir.resolve(name + ".parquet"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + mtime))
    }
    // Spark splits the two watermark roles (3.4+): EVICTION uses the
    // current batch's watermark, but the LATE-EVENTS filter deliberately
    // uses the PREVIOUS batch's — a row may still merge into state that
    // has not been evicted yet. So dropping needs the advanced watermark
    // to be one batch old: sentinel b advances it, sentinel c makes it
    // the filter watermark, and only then is the late row in d dropped.
    file("a", Seq(1L -> 0L, 2L -> 30L)) // window W0 gets two on-time events
    file("b", Seq(3L -> 600L)) // +10h sentinel: eviction wm → +8h, W0 finalizes
    file("c", Seq(5L -> 660L)) // ages the advanced wm into the late-filter role
    file("d", Seq(4L -> 35L)) // LATE: 35 min, hours behind the filter watermark
    val staged = spark.readStream.schema(EventStream.streamSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = EventStream.hourlyAggregates(staged).writeStream
      .outputMode("append").format("memory").queryName("late_drop_test").start()
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    val w0 = spark.table("late_drop_test")
      .filter(col("event_type") === "view")
      .collect().map(r => millis(r.get(0)) -> r.getLong(2)).toMap
    val w0Start = java.time.LocalDateTime.parse("2024-06-01T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    assert(w0.get(w0Start).contains(2L),
      s"W0 must finalize with the two ON-TIME events only, got $w0")
    assert(dropped == 1L,
      s"exactly the late row must be counted in numRowsDroppedByWatermark, got $dropped")
  }
}
