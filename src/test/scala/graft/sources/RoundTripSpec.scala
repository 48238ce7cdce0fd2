package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Source/sink breadth beyond the reference's CSV+Parquet: JSON and ORC
  * round-trips, parquet compression codecs, and schema-preserving CSV.
  * Each format must reproduce the exact rows it wrote.
  */
class RoundTripSpec extends SparkSpec {

  private lazy val sample = Tables.lineitem(spark, sf)
    .filter(col("l_orderkey") <= 1000)
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_returnflag", "l_shipdate")

  test("json round-trip preserves rows (timestamps via ISO strings)") {
    val path = tempDir("data")
    sample.write.mode("overwrite").json(path)
    val back = spark.read.schema(sample.schema).json(path)
    assertSameRows(sample, back)
  }

  test("orc round-trip preserves rows") {
    val path = tempDir("data")
    sample.write.mode("overwrite").orc(path)
    assertSameRows(sample, spark.read.orc(path))
  }

  test("csv round-trip with explicit schema preserves rows") {
    val path = tempDir("data")
    sample.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)
    val back = spark.read.option("header", "true").schema(sample.schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)
    assertSameRows(sample, back)
  }

  test("parquet codecs (snappy, zstd, gzip) all round-trip") {
    for (codec <- Seq("snappy", "zstd", "gzip")) {
      val path = tempDir("data")
      sample.write.mode("overwrite").option("compression", codec).parquet(path)
      assertSameRows(sample, spark.read.parquet(path))
    }
  }

  test("schema evolution: mergeSchema reads old and new file generations together") {
    import org.apache.spark.sql.functions._
    val path = tempDir("data")
    // generation 1: (l_orderkey, l_quantity); generation 2 adds a column
    val v1 = sample.select("l_orderkey", "l_quantity")
    v1.write.mode("overwrite").parquet(path)
    val v2 = sample.select(col("l_orderkey") + 1000000L, col("l_quantity"))
      .toDF("l_orderkey", "l_quantity")
      .withColumn("priority_band", lit("new"))
    v2.write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.sorted.toSeq == Seq("l_orderkey", "l_quantity", "priority_band"))
    assert(merged.count() == v1.count() * 2)
    // old-generation rows surface the new column as null
    assert(merged.filter(col("priority_band").isNull).count() == v1.count())
    assert(merged.filter(col("priority_band") === "new").count() == v1.count())
  }
}
