package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cluster-scale layout checks: the partitioned fact write produces a
  * month-partitioned directory whose reads prune partitions at the file
  * index (PartitionFilters in the scan), and the partitioned data round-
  * trips identically.
  */
class ScaleLayoutSpec extends SparkSpec {

  private lazy val outDir = {
    val dir = tempDir()
    val result = Pipeline.build(spark, "/root/reference/data/raw")
      .fold(err => fail(err), identity)
    Load.writeAtScale(result.star, result.aggs, dir)
    (dir, result)
  }

  test("fact partitions by month and round-trips exactly") {
    val (dir, result) = outDir
    val reread = spark.read.parquet(s"$dir/fact_sales")
    assert(reread.count() == result.star.factSales.count())
    // month_id must be a real hive partition column
    val dirs = new java.io.File(s"$dir/fact_sales").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("month_id=")), dirs.mkString(","))
    // value parity on a sample aggregation
    val a = result.star.factSales.agg(sum("price")).first().getDouble(0)
    val b = reread.agg(sum("price")).first().getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("time-sliced reads prune partitions at the file index") {
    val (dir, _) = outDir
    val df = spark.read.parquet(s"$dir/fact_sales")
      .filter(col("month_id") === 202201L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(month_id"), plan)
    assert(df.count() > 0)
  }
}
