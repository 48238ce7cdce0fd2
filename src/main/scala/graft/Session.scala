package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one session factory: every main and the test fixture build their
  * session here, so each measured setting is stated once. SQL runs in
  * Spark 4's default ANSI mode; the ETL ratios that can see a zero
  * divisor use `try_divide` (÷0 → NULL, SURVEY §7.4 H5).
  *
  * `perfbench/driver` builds its own session with a copy of these
  * settings; keep the two equal.
  */
object Session {

  def local(app: String, cpus: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Hundreds of distinct plans in one session (84+ queries, or the 14
      // ETL tables exporting concurrently) carry far more than the default
      // 100 generated classes; a static cache that small misses on nearly
      // every task and Janino recompiles per task: measured 343 s → 51 s
      // at the 10,000× ETL scale rung (PERFORMANCE.md round 4). It is an
      // upper bound, not a reservation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Tungsten pages must stay below half a G1 region or every sort page
      // is a humongous allocation (regions are heap/2048: 16 MiB at a
      // 31 GiB heap). Spark's auto page (up to 64 MiB) and 16m both land
      // humongous: old gen pinned at 99.9% during sorts, multi-minute
      // stalls. 2m is sub-humongous for every heap ≥ 8 GiB, and a sorter
      // still addresses 8192 × 2 MiB = 16 GiB.
      .config("spark.buffer.pageSize", "2m")
      // Local-FS streams (CSV/parquet part writes, the golden concat's
      // reads) default to 4 KiB buffers under the CRC layer (measured
      // 11 MB/s on the golden concat); 1 MiB makes them sequential-IO-sized.
      .config("spark.hadoop.io.file.buffer.size", "1048576")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
