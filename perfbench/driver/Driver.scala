package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import graft.{CoreQueries, DedupQueries, EventQueries, FunctionQueries, SimilarityQueries,
  SparkEntry, Tables, TextQueries}
import graft.etl._
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side: one closed-loop client thread driving one
  * workload through the engine's public entry points, for a fixed number
  * of seconds after its set-up. `perfbench/run.py` generates the inputs,
  * starts this program, checks its outputs against DuckDB and prints the
  * metrics.
  *
  * Usage: Driver <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   <inputsDir> <cores>
  *
  * It writes `<workDir>/result.json`: set-up times, every timed operation
  * with its outcome, the per-layer ledger when tracing, and what run.py
  * needs to check the outputs.
  */
object Driver {

  final case class Op(kind: String, name: String, seconds: Double, ok: Boolean)

  final class Run(val seed: Long, val seconds: Double,
      val ledger: Option[Ledger], val work: Path, val inputs: Path, val cores: Int) {
    var spark: SparkSession = _
    val ops = mutable.ArrayBuffer.empty[Op]
    val cycles = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val facts = mutable.LinkedHashMap.empty[String, String] // raw JSON values
    val rnd = new scala.util.Random(seed)

    def span[T](name: String)(body: => T): T = ledger match {
      case Some(l) => l.span(name)(body)
      case None => body
    }

    /** Time one operation; a throw or a failed check marks it failed
      * (named on stderr) and it still counts as attempted. */
    def timed(kind: String, name: String)(body: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = try body catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $kind $name failed: $e"); false
      }
      ops += Op(kind, name, (System.nanoTime() - t0) / 1e9, ok)
    }

    def fail(what: String): Boolean = {
      System.err.println(s"[perfbench] check failed: $what"); false
    }
  }

  def session(r: Run): Unit = {
    val s = SparkSession.builder()
      .master(s"local[${r.cores}]")
      .appName("perfbench")
      // the engine's benchmark session settings (graft.Bench)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.buffer.pageSize", "2m")
      .config("spark.hadoop.io.file.buffer.size", "1048576")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", r.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", r.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    r.ledger.foreach(s.sparkContext.addSparkListener)
    r.spark = s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, inputs, cores) = args
    val r = new Run(seed.toLong, seconds.toDouble,
      if (trace == "1") Some(new Ledger) else None,
      Paths.get(work).toAbsolutePath, Paths.get(inputs).toAbsolutePath, cores.toInt)
    val w: Workload = workload match {
      case "etl_refresh" => new EtlRefresh(r)
      case "query_commit_mix" => new QueryCommitMix(r)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up is timed from JVM start
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    session(r)
    val t1 = System.nanoTime()
    w.setUp()
    val t2 = System.nanoTime()
    // warm-up operations stay in the attempted/failed counts, not in the
    // timings; of their spans only the table write has no measured twin
    val measuredFrom = r.ops.size
    r.ledger.foreach(_.clear(_ == "sources.SnapshotTable.write"))
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val c0 = System.nanoTime()
      w.cycle()
      r.cycles += (System.nanoTime() - c0) / 1e9
    }
    w.finish()
    r.ledger.foreach { l =>
      l.drain(r.spark.sparkContext)
      w.report(l)
      l.dump(r.work.resolve("spans.json"))
    }
    r.spark.stop()

    val json = new StringBuilder("{")
    def arr(xs: Iterable[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    json ++= f""""measured_from":$measuredFrom,"setup_s":${(t2 - t0) / 1e9}%.6f,"""
    json ++= f""""session_build_s":${(t1 - t0) / 1e9}%.6f,"warmup_s":${(t2 - t1) / 1e9}%.6f,"""
    json ++= s""""cycles_s":${arr(r.cycles)},"""
    json ++= r.ops.map(o => f"""["${o.kind}","${o.name}",${o.seconds}%.6f,${o.ok}]""")
      .mkString(""""ops":[""", ",", "],")
    json ++= r.layers.map { case (k, v) => s""""$k":$v""" }.mkString(""""layers":{""", ",", "},")
    json ++= r.facts.map { case (k, v) => s""""$k":$v""" }.mkString(""""facts":{""", ",", "},")
    json ++= s""""peak_rss_mb":${peakRssMb()}}"""
    Files.write(r.work.resolve("result.json"), json.toString.getBytes("UTF-8"))
  }

  /** This process's peak resident set (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def treeBytes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.size(f)).toMap

  /** Per-call means of a ledger span's totals, as per-layer metrics. */
  def putTotals(r: Run, l: Ledger, span: String, prefix: String, fields: Seq[String]): Unit = {
    val n = math.max(1, l.count(span))
    val t = l.sumOf(span)
    fields.foreach { f =>
      r.layers(s"$prefix.$f") = f match {
        case "wall_s" => t.wall / n
        case "jobs" => t.jobs.toDouble / n
        case "tasks" => t.tasks.toDouble / n
        case "task_cpu_s" => t.cpuS / n
        case "driver_s" => t.driverS / n
        case "job_wait_s" => t.jobWaitS / n
        case "shuffle_bytes" => t.shuffleBytes.toDouble / n
        case "shuffle_records" => t.shuffleRecords.toDouble / n
        case "spill_bytes" => t.spillBytes.toDouble / n
        case "bytes_written" => t.bytesWritten.toDouble / n
      }
    }
  }
}

import Driver._

trait Workload {
  /** Load the inputs and warm the operations up. */
  def setUp(): Unit
  /** One closed-loop cycle of timed operations. */
  def cycle(): Unit
  /** Untimed work after the measured window (final checks). */
  def finish(): Unit
  /** Per-layer metrics of a traced run. */
  def report(l: Ledger): Unit
}

/** Read queries whose set-up results are written for run.py's DuckDB
  * check and whose timed results must equal them. */
final class CheckedQueries(r: Run) {
  val checkDir: Path = r.work.resolve("check")
  private val expected = mutable.HashMap.empty[String, Seq[Seq[Any]]]

  /** build → plan → execute, one span each under `module`; the rows
    * reach the client. */
  def execute(module: String, name: String)(build: => DataFrame): (Array[Row], DataFrame) =
    r.span(s"query.$name") {
      val df = r.span(s"$module.build")(build)
      r.span(s"$module.plan")(df.queryExecution.executedPlan)
      (r.span(s"$module.exec")(df.collect()), df)
    }

  /** Untimed run whose result becomes the checked reference. */
  def reference(module: String, name: String)(build: => DataFrame): Unit = {
    val (rows, df) = execute(module, name)(build)
    r.spark.createDataFrame(rows.toList.asJava, df.schema)
      .coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
    expected(name) = Canon(rows)
  }

  def timed(kind: String, module: String, name: String)(build: => DataFrame): Unit =
    r.timed(kind, name) {
      val (rows, _) = execute(module, name)(build)
      Canon.same(Canon(rows), expected(name)) || r.fail(s"$name differs from its checked result")
    }

  /** Per-call means of one module's build, plan and execute spans. */
  def report(l: Ledger, module: String): Unit = {
    val calls = math.max(1, l.count(s"$module.build"))
    r.layers(s"$module.build_s") = l.sumOf(s"$module.build").wall / calls
    r.layers(s"$module.plan_s") = l.sumOf(s"$module.plan").wall / calls
    val e = l.sumOf(s"$module.exec")
    r.layers(s"$module.exec_s") = e.wall / calls
    r.layers(s"$module.jobs") = e.jobs.toDouble / calls
    r.layers(s"$module.task_cpu_s") = e.cpuS / calls
    r.layers(s"$module.shuffle_records") = e.shuffleRecords.toDouble / calls
    r.layers(s"$module.spill_bytes") = e.spillBytes.toDouble / calls
  }
}

/** `etl_refresh`: the paper's pipeline and its dashboard. A cycle is one
  * `Pipeline.run` over seeded raw CSVs into a fresh output directory, then
  * the seeded `Measures.evaluate` slicers over the star schema it just
  * exported. run.py checks every refresh's 14 tables against DuckDB over
  * the same CSVs, and the slicers' results against DuckDB SQL. */
final class EtlRefresh(r: Run) extends Workload {
  private val raw = r.inputs.resolve("olist").toString
  private val outRoot = r.work.resolve("etl")
  private val checked = new CheckedQueries(r)
  private var n = 0
  private var last: Option[Pipeline.Result] = None
  private val Stages = Seq("Extract", "Transform", "Model", "Aggregates", "Load",
    "Instructions", "Charts")
  // slicers.tsv: name <TAB> SQL filter <TAB> comma-separated group-by columns
  private val slicers: Seq[(String, String, Seq[String])] =
    Files.readAllLines(r.inputs.resolve("slicers.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1)).map { f =>
        (f(0), f(1), f(2).split(",").toSeq.filter(_.nonEmpty))
      }

  private def refresh(out: String): Pipeline.Result = r.ledger match {
    case None => Pipeline.run(r.spark, raw, out).fold(e => sys.error(e), identity)
    // Pipeline.run's stages in its order, one span each
    case Some(l) => l.span("etl.refresh") {
      val in = l.span("etl.Extract")(Extract(r.spark, raw)).fold(e => sys.error(e), identity)
      val transformed = l.span("etl.Transform")(Transform(in))
      val star = l.span("etl.Model")(Model(transformed))
      val aggs = l.span("etl.Aggregates")(Aggregates(star.factSales, star))
      l.span("etl.Load")(Load.writeAll(star, aggs, out))
      l.span("etl.Instructions")(Instructions.write(out))
      l.span("etl.Charts")(Charts.writeDashboard(
        aggs.byName.map { case (t, _) => t -> r.spark.read.parquet(s"$out/parquet/$t") },
        Paths.get(out, "reports", "dashboard").toString))
      Pipeline.Result(star, aggs)
    }
  }

  /** The star schema as Power BI sees it: the exported Parquet. */
  private def exported(out: String): StarSchema = {
    def t(name: String) = r.spark.read.parquet(s"$out/parquet/$name")
    StarSchema(t("dim_date"), t("dim_customer"), t("dim_product"), t("dim_seller"),
      t("dim_order"), t("dim_review"), t("fact_sales"))
  }

  private def slice(star: StarSchema, filter: String, groupBy: Seq[String]): DataFrame =
    Measures.evaluate(star, if (filter.isEmpty) Nil else Seq(expr(filter)), groupBy.map(col))

  def setUp(): Unit = {
    // an untraced refresh: every later one must reproduce it byte for byte
    val out = outRoot.resolve("setup").toString
    Pipeline.run(r.spark, raw, out).fold(e => sys.error(e), identity)
    r.facts("reference_out") = jsonString(out)
    val star = exported(out)
    slicers.foreach { case (name, f, g) => checked.reference("etl.Measures", name)(slice(star, f, g)) }
  }

  def cycle(): Unit = {
    n += 1
    val out = outRoot.resolve(f"refresh-$n%03d").toString
    r.timed("refresh", "refresh") { last = Some(refresh(out)); true }
    val star = exported(out)
    slicers.foreach { case (name, f, g) =>
      checked.timed("slicer", "etl.Measures", name)(slice(star, f, g))
    }
  }

  def finish(): Unit = {
    r.facts("refresh_outs") = (1 to n).map(i => jsonString(outRoot.resolve(f"refresh-$i%03d").toString))
      .mkString("[", ",", "]")
    r.facts("check_dir") = jsonString(checked.checkDir.toString)
    val q = last.map(res => r.span("etl.Quality")(Quality.check(res.star, res.aggs)))
    r.facts("quality_ok") = q.exists(_.ok).toString
    q.foreach(rep => r.facts("quality") = jsonString(rep.toString))
  }

  def report(l: Ledger): Unit = {
    Stages.foreach(s => putTotals(r, l, s"etl.$s", s"etl.$s", Seq("wall_s")))
    Seq("Transform", "Load", "Charts").foreach(s => putTotals(r, l, s"etl.$s", s"etl.$s",
      Seq("jobs", "tasks", "task_cpu_s", "driver_s")))
    putTotals(r, l, "etl.Load", "etl.Load",
      Seq("job_wait_s", "shuffle_bytes", "spill_bytes", "bytes_written"))
    putTotals(r, l, "etl.Quality", "etl.Quality", Seq("wall_s", "jobs"))
    putTotals(r, l, "etl.refresh", "etl.refresh", Seq("jobs"))
    val t = l.sumOf("etl.refresh")
    r.layers("etl.refresh.cpu_util") = t.cpuS / math.max(1e-9, t.wall * r.cores)
    checked.report(l, "etl.Measures")
  }
}

/** Read-only passes of operator queries; a pass runs the listed
  * `SparkEntry` queries in a seeded order. Each result must equal the
  * set-up result, which run.py checks against the query's DuckDB oracle. */
final class QueryMix(r: Run) extends Workload {
  val Queries = Seq("q19_measures", "q14_median", "q56_percentiles", "q32_sessionize",
    "t52_tfidf", "d81_jaccard_prefix", "s94_knn_graph")
  private val Modules = Seq(
    "operators.CoreQueries" -> CoreQueries.queries.keySet,
    "operators.FunctionQueries" -> FunctionQueries.queries.keySet,
    "operators.EventQueries" -> EventQueries.queries.keySet,
    "operators.TextQueries" -> TextQueries.queries.keySet,
    "operators.DedupQueries" -> DedupQueries.queries.keySet,
    "operators.SimilarityQueries" -> SimilarityQueries.queries.keySet)
  private def moduleOf(q: String): String = Modules.collectFirst { case (m, ks) if ks(q) => m }.get
  private val tablesDir = r.inputs.resolve("tables").toString
  private val checked = new CheckedQueries(r)

  private def query(name: String): DataFrame = SparkEntry.queries(name)(r.spark, tablesDir)

  def setUp(): Unit =
    r.rnd.shuffle(Queries).foreach { q =>
      checked.reference(moduleOf(q), q)(query(q))
    }

  def cycle(): Unit =
    r.rnd.shuffle(Queries).foreach(q => checked.timed("query", moduleOf(q), q)(query(q)))

  def finish(): Unit = {
    val oracle = SparkEntry.oracleSql
    r.facts("oracle_sql") = Queries.map(q => s"${jsonString(q)}:${jsonString(oracle(q))}")
      .mkString("{", ",", "}")
    r.facts("check_dir") = jsonString(checked.checkDir.toString)
  }

  def report(l: Ledger): Unit = {
    Modules.foreach { case (m, _) => checked.report(l, m) }
    Queries.foreach(q => putTotals(r, l, s"query.$q", s"query.$q", Seq("wall_s")))
  }
}

/** `query_commit_mix`: the engine's read and write sides in one closed
  * loop. A cycle is a [[QueryMix]] pass followed by four
  * [[LakehouseCommits]] commits, each with its snapshot read. */
final class QueryCommitMix(r: Run) extends Workload {
  private val queries = new QueryMix(r)
  private val lake = new LakehouseCommits(r)
  def setUp(): Unit = { lake.setUp(); queries.setUp() }
  def cycle(): Unit = { queries.cycle(); (1 to 4).foreach(_ => lake.cycle()) }
  def finish(): Unit = { queries.finish(); lake.finish() }
  def report(l: Ledger): Unit = { queries.report(l); lake.report(l) }
}

/** Order-insensitive, float-tolerant comparison of collected results. */
object Canon {
  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.toSeq.map(norm)
    case a: Array[_] => a.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (norm(k), norm(x)) }
      .sortBy(_._1.toString)
    case f: Float => f.toDouble
    case other => other
  }
  def apply(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => r.toSeq.map(norm)).sortBy(_.toString)

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) => x.length == y.length && x.zip(y).forall { case (p, q) => close(p, q) }
    case (x: Product, y: Product) => x.productArity == y.productArity &&
      x.productIterator.zip(y.productIterator).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }
  def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean = close(a, b)
}

/** `SnapshotTable` under writes. A table written from the orders takes a
  * stream of small commits (append, merge, deleteWhereDV, updateWhere,
  * and a compact every 8th commit) with seeded keys and values; a
  * snapshot read follows each commit and must match an in-memory
  * key→row model, and the version must advance by exactly one. */
final class LakehouseCommits(r: Run) extends Workload {
  private val Verbs = Seq("write", "append", "merge", "deleteWhereDV", "updateWhere",
    "compact", "read")
  private val Rotation = Seq("append", "merge", "deleteWhereDV", "updateWhere", "append",
    "deleteWhereDV", "updateWhere", "compact")
  private var dir: Path = _
  private val model = mutable.LinkedHashMap.empty[Long, (String, Long)]
  private var keys = mutable.ArrayBuffer.empty[Long]
  private var version = 0L
  private var nextKey = 0L
  private var commits = 0
  private var seen = Map.empty[String, Long]
  private var bytesWritten = 0L
  private var rowsSubmitted = 0L
  private var plainBytesPerRow = 0.0
  private val manifestReads = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val verbBytes = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val Parts = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def sp = r.spark

  private def frame(rows: Seq[(Long, String, Long)]): DataFrame = {
    val s = sp
    import s.implicits._
    rows.toDF("k", "part", "v")
  }

  private def pickKeys(n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, keys.size)) picked += keys(r.rnd.nextInt(keys.size))
    picked.toSeq
  }

  /** Run one verb as a timed commit and account for what it wrote. */
  private def commit(verb: String)(body: => Unit): Unit = {
    val m0 = SnapshotTable.manifestReadCount.get()
    r.timed("commit", verb) { r.span(s"sources.SnapshotTable.$verb")(body); true }
    manifestReads(verb) += SnapshotTable.manifestReadCount.get() - m0
    val now = treeBytes(dir)
    val added = now.collect { case (f, b) if !seen.contains(f) => b }.sum
    verbBytes(verb) += added
    bytesWritten += added
    seen = now
    commits += 1
  }

  private def checkSnapshot(): Unit = {
    val v = SnapshotTable.latest(sp, dir.toString).map(_._1).getOrElse(-1L)
    val advanced = v == version + 1
    version = v
    val m0 = SnapshotTable.manifestReadCount.get()
    r.timed("read", "read") {
      val row = r.span("sources.SnapshotTable.read")(
        SnapshotTable.read(sp, dir.toString).agg(count(lit(1)), sum("v")).first())
      val (n, s) = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      (advanced || r.fail(s"commit $commits moved the version to $v")) &&
        (n == model.size && s == model.valuesIterator.map(_._2).sum ||
          r.fail(s"snapshot after commit $commits has $n rows, sum $s; " +
            s"model ${model.size}, ${model.valuesIterator.map(_._2).sum}"))
    }
    manifestReads("read") += SnapshotTable.manifestReadCount.get() - m0
  }

  def setUp(): Unit = {
    dir = r.work.resolve("lake/table")
    val orders = Tables.orders(sp, r.inputs.resolve("tables").toString)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("part"),
        (col("o_totalprice") * 100).cast("long").as("v"))
    val s = sp
    import s.implicits._
    val rows = orders.as[(Long, String, Long)].collect()
    model.clear()
    rows.foreach { case (key, p, v) => model(key) = (p, v) }
    keys = mutable.ArrayBuffer.from(model.keysIterator)
    nextKey = keys.max + 1
    // plain-Parquet size of the table's rows, written once
    val plain = r.work.resolve("lake/plain")
    frame(rows.toSeq).coalesce(1).write.mode("overwrite").parquet(plain.toString)
    plainBytesPerRow = treeBytes(plain).collect { case (f, b) if f.endsWith(".parquet") => b }
      .sum.toDouble / rows.length
    val m0 = SnapshotTable.manifestReadCount.get()
    r.span("sources.SnapshotTable.write")(SnapshotTable.write(sp, dir.toString, frame(rows.toSeq), "part"))
    manifestReads("write") += SnapshotTable.manifestReadCount.get() - m0
    seen = treeBytes(dir)
    verbBytes("write") = seen.values.sum
    version = SnapshotTable.latest(sp, dir.toString).map(_._1).get
    // warm-up: one of each verb, then reset the measured counters
    Seq("append", "merge", "deleteWhereDV", "updateWhere", "compact").foreach { v =>
      step(v); checkSnapshot()
    }
    bytesWritten = 0L; rowsSubmitted = 0L; commits = 0
    manifestReads.keys.filter(_ != "write").foreach(manifestReads.remove)
    verbBytes.keys.filter(_ != "write").foreach(verbBytes.remove)
  }

  private def step(verb: String): Unit = verb match {
    case "append" =>
      val rows = (0 until 200).map(i => (nextKey + i, Parts(r.rnd.nextInt(5)), r.rnd.nextInt(100000).toLong))
      nextKey += 200
      commit(verb)(SnapshotTable.append(sp, dir.toString, frame(rows), "part"))
      rows.foreach { case (key, p, v) => model(key) = (p, v); keys += key }
      rowsSubmitted += rows.size
    case "merge" =>
      val old = pickKeys(100).map(key => (key, model(key)._1, r.rnd.nextInt(100000).toLong))
      val fresh = (0 until 100).map(i => (nextKey + i, Parts(r.rnd.nextInt(5)), r.rnd.nextInt(100000).toLong))
      nextKey += 100
      val rows = old ++ fresh
      commit(verb)(SnapshotTable.merge(sp, dir.toString, "part", "k", frame(rows)))
      rows.foreach { case (key, p, v) => model(key) = (p, v) }
      keys ++= fresh.map(_._1)
      rowsSubmitted += rows.size
    case "deleteWhereDV" =>
      val del = pickKeys(50)
      commit(verb)(SnapshotTable.deleteWhereDV(sp, dir.toString, col("k").isin(del: _*)))
      del.foreach(model.remove)
      keys = keys.filterNot(del.toSet)
    case "updateWhere" =>
      val upd = pickKeys(50)
      commit(verb)(SnapshotTable.updateWhere(sp, dir.toString, "part",
        col("k").isin(upd: _*), Map("v" -> (col("v") + lit(7L)))))
      upd.foreach(key => model(key) = (model(key)._1, model(key)._2 + 7L))
      rowsSubmitted += upd.size
    case "compact" =>
      commit(verb)(SnapshotTable.compact(sp, dir.toString, "part"))
  }

  /** One commit and the snapshot read after it. The verbs rotate in a
    * fixed order, so every seed commits the same mix. */
  def cycle(): Unit = {
    step(Rotation(commits % Rotation.size))
    checkSnapshot()
  }

  def finish(): Unit = {
    val plain = plainBytesPerRow
    r.facts("write_amp") = (bytesWritten / math.max(1.0, rowsSubmitted * plain)).toString
    r.facts("space_amp") = (treeBytes(dir).values.sum / math.max(1.0, model.size * plain)).toString
    r.facts("commits") = commits.toString
  }

  def report(l: Ledger): Unit = Verbs.foreach { v =>
    val name = s"sources.SnapshotTable.$v"
    putTotals(r, l, name, name, Seq("wall_s", "jobs"))
    val calls = math.max(1, l.count(name))
    r.layers(s"$name.manifest_reads") = manifestReads(v).toDouble / calls
    r.layers(s"$name.bytes_written") = verbBytes(v).toDouble / calls
  }
}
