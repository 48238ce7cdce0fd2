package graft.etl

import graft.SparkSpec

/** Aggregates over a star schema built in code: the ratio columns under
  * the session's ANSI mode. */
class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("freight_percentage is NULL for a month whose item prices sum to 0") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // 2024-01: two paid items; 2024-02: one free item with freight
    val fact = Seq(
      ("o1", 1L, "p1", "c1", "s1", 5L, 10.0, 2.0),
      ("o2", 2L, "p1", "c1", "s1", 4L, 30.0, 6.0),
      ("o3", 3L, "p1", "c1", "s1", 3L, 0.0, 5.0))
      .toDF("order_id", "date_id", "product_id", "customer_id", "seller_id",
        "review_score", "price", "freight_value")
    val star = StarSchema(
      dimDate = Seq((1L, 2024, 1, 1), (2L, 2024, 1, 1), (3L, 2024, 2, 1))
        .toDF("id", "year", "month", "quarter"),
      dimCustomer = Seq(("c1", "SP", "sao paulo")).toDF("id", "customer_state", "customer_city"),
      dimProduct = Seq(("p1", "brinquedos", "toys"))
        .toDF("id", "product_category_name", "product_category_name_english"),
      dimSeller = Seq(("s1", "SP", "campinas")).toDF("id", "seller_state", "seller_city"),
      dimOrder = Seq("o1", "o2", "o3").toDF("id"),
      dimReview = Seq("r1").toDF("id"),
      factSales = fact)
    val byMonth = Aggregates(fact, star).salesByDate
      .select("month", "total_sales", "freight_percentage")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(byMonth(1).getDouble(1) == 40.0)
    assert(math.abs(byMonth(1).getDouble(2) - 20.0) < 1e-9)
    assert(byMonth(2).getDouble(1) == 0.0)
    assert(byMonth(2).isNullAt(2))
  }
}
