package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Per-operator unit tests for the hazard-bearing transforms
  * (SURVEY §7.4): weekday convention, coerce parsing, imputation
  * ordering, delivered_on_time null semantics, optional-translation
  * fallback (H7).
  */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  test("H4: weekday is pandas convention (Monday=0, 2022-01-01 → 5)") {
    val got = spark.sql("SELECT weekday(TIMESTAMP '2022-01-01 00:00:00')").first().getInt(0)
    assert(got == 5) // Saturday
  }

  test("F1: parseTs coerces unparseable to null, keeps ns strings at µs") {
    val df = Seq("2022-01-02 19:53:58.190954773", "2022-03-04 05:06:07", "not a date", "2022-01-01")
      .toDF("s").select(Transform.parseTs(col("s")).as("t"))
    val rows = df.collect()
    assert(rows(0).getTimestamp(0).toString == "2022-01-02 19:53:58.190954")
    assert(rows(1).getTimestamp(0).toString == "2022-03-04 05:06:07.0")
    assert(rows(2).isNullAt(0))
    assert(rows(3).getTimestamp(0).toString == "2022-01-01 00:00:00.0")
  }

  test("F9/F10: impute fills numeric nulls with exact median, strings with 'unknown'") {
    val df = Seq(
      (Some(1.0), Some("a")), (None, None), (Some(2.0), Some("b")), (Some(10.0), Some("c")))
      .toDF("x", "s")
    val filled = Transform.impute(df).orderBy("x").collect()
    // median of (1, 2, 10) = 2.0 (interpolating, odd count)
    assert(filled.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 2.0, 10.0))
    assert(filled.map(_.getString(1)).sorted.toSeq == Seq("a", "b", "c", "unknown"))
  }

  test("F9: even-count median interpolates like pandas") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None).toDF("x")
    val filled = Transform.impute(df)
    assert(filled.filter(col("x") === 2.5).count() == 1)
  }

  test("P5: delivered_on_time is false (not null) when delivery dates missing") {
    val raw = RawTables(
      customers = Seq(("c1", "u1", 1L, "city", "SP")).toDF(Schemas.customers.fieldNames: _*),
      orders = Seq(
        ("o1", "c1", "delivered", "2022-01-01 00:00:00.000000000",
          "2022-01-01 00:00:00.000000000", "2022-01-02 00:00:00.000000000",
          "2022-01-05 00:00:00.000000000", "2022-01-10 00:00:00.000000000"),
        ("o2", "c1", "shipped", "2022-01-03 00:00:00.000000000",
          "2022-01-03 00:00:00.000000000", "bad", "bad", "2022-01-12 00:00:00.000000000"))
        .toDF(Schemas.orders.fieldNames: _*),
      orderItems = Seq(("o1", 1L, "p1", "s1", "2022-01-02 00:00:00.000000000", 10.0, 1.0))
        .toDF(Schemas.orderItems.fieldNames: _*),
      products = Seq(("p1", "cat", 1L, 1L, 1L, 1L, 1L, 1L, 1L))
        .toDF(Schemas.products.fieldNames: _*),
      sellers = Seq(("s1", 1L, "city", "SP")).toDF(Schemas.sellers.fieldNames: _*),
      reviews = Seq(("r1", "o1", 5L, "t", "m", "2022-01-06 00:00:00.000000000",
        "2022-01-07 00:00:00.000000000")).toDF(Schemas.reviews.fieldNames: _*),
      categoryTranslation = None)
    val t = Transform(raw)
    val rows = t.orders.orderBy("order_id")
      .select("order_id", "delivered_on_time", "delivery_delay_days").collect()
    assert(rows(0).getBoolean(1) === true) // delivered early: -5 days
    assert(rows(0).getDouble(2) === -5.0)
    assert(!rows(1).isNullAt(1) && rows(1).getBoolean(1) === false) // NaN<=0 → False
    assert(rows(1).isNullAt(2)) // the derived NaN itself is never imputed (H3)
  }

  test("H7: pipeline works without the optional translation table (P8 fallback)") {
    val tmp = tempDir()
    val src = "/root/reference/data/raw"
    Seq("olist_customers_dataset.csv", "olist_orders_dataset.csv",
      "olist_order_items_dataset.csv", "olist_products_dataset.csv",
      "olist_sellers_dataset.csv", "olist_order_reviews_dataset.csv").foreach { f =>
      Files.copy(Paths.get(s"$src/$f"), Paths.get(s"$tmp/$f"), StandardCopyOption.REPLACE_EXISTING)
    }
    val result = Pipeline.build(spark, tmp).fold(err => fail(err), identity)
    val dimProduct = result.star.dimProduct
    assert(dimProduct.columns.contains("product_category_name_english"))
    // fallback: english name == original name
    assert(dimProduct.filter(
      col("product_category_name_english") =!= col("product_category_name")).count() == 0)
    // aggregates still group on the synthesized column
    assert(result.aggs.salesByCategory.count() > 0)
  }

  test("decimal money mode: DECIMAL(12,2) money columns, totals match double mode") {
    import org.apache.spark.sql.types.DecimalType
    spark.conf.set("spark.graft.etl.decimalMoney", "true")
    try {
      val dec = Pipeline.build(spark, "/root/reference/data/raw").fold(e => fail(e), identity)
      val fact = dec.star.factSales
      assert(fact.schema("price").dataType == DecimalType(12, 2))
      assert(fact.schema("freight_value").dataType == DecimalType(12, 2))
      val decSum = fact.agg(sum("price")).first().getDecimal(0).doubleValue()
      spark.conf.set("spark.graft.etl.decimalMoney", "false")
      val dbl = Pipeline.build(spark, "/root/reference/data/raw").fold(e => fail(e), identity)
      val dblSum = dbl.star.factSales.agg(sum("price")).first().getDouble(0)
      // decimal sums are exact; the double total must agree to fp tolerance
      assert(math.abs(decSum - dblSum) <= 1e-9 * dblSum,
        s"decimal total $decSum vs double total $dblSum")
      // default-off: the golden pipeline's schema is untouched
      assert(dbl.star.factSales.schema("price").dataType ==
        org.apache.spark.sql.types.DoubleType)
    } finally spark.conf.unset("spark.graft.etl.decimalMoney")
  }

  test("S3: missing required input yields a typed error, not an exception") {
    val out = Extract(spark, "/tmp/does_not_exist_graft")
    assert(out.isLeft)
  }

  test("H8: an order with two reviews multiplies fact rows (pandas merge parity)") {
    val raw = RawTables(
      customers = Seq(("c1", "u1", 1L, "city", "SP")).toDF(Schemas.customers.fieldNames: _*),
      orders = Seq(("o1", "c1", "delivered", "2022-01-01 00:00:00.000000000",
        "2022-01-01 00:00:00.000000000", "2022-01-02 00:00:00.000000000",
        "2022-01-05 00:00:00.000000000", "2022-01-10 00:00:00.000000000"))
        .toDF(Schemas.orders.fieldNames: _*),
      orderItems = Seq(("o1", 1L, "p1", "s1", "2022-01-02 00:00:00.000000000", 10.0, 1.0))
        .toDF(Schemas.orderItems.fieldNames: _*),
      products = Seq(("p1", "cat", 1L, 1L, 1L, 1L, 1L, 1L, 1L))
        .toDF(Schemas.products.fieldNames: _*),
      sellers = Seq(("s1", 1L, "city", "SP")).toDF(Schemas.sellers.fieldNames: _*),
      reviews = Seq(
        ("r1", "o1", 5L, "t", "m", "2022-01-06 00:00:00.000000000", "2022-01-07 00:00:00.000000000"),
        ("r2", "o1", 1L, "t", "m", "2022-01-08 00:00:00.000000000", "2022-01-09 00:00:00.000000000"))
        .toDF(Schemas.reviews.fieldNames: _*),
      categoryTranslation = None)
    val star = Model(Transform(raw))
    assert(star.factSales.count() == 2) // 1 item × 2 reviews
  }
}
