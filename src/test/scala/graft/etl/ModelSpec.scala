package graft.etl

import graft.SparkSpec

/** The star schema built from raw tables made in code. */
class ModelSpec extends SparkSpec {
  import spark.implicits._

  test("dim_date covers every purchase day when the last purchase is " +
      "earlier in its day than the first") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      ("o1", "c1", ts("2024-03-01 10:00:00")),
      ("o2", "c1", ts("2024-03-03 09:00:00")))
      .toDF("order_id", "customer_id", "order_purchase_timestamp")
      .selectExpr("*", "'delivered' as order_status",
        "order_purchase_timestamp as order_approved_at",
        "order_purchase_timestamp as order_delivered_carrier_date",
        "order_purchase_timestamp as order_delivered_customer_date",
        "order_purchase_timestamp as order_estimated_delivery_date",
        "0.0d as delivery_time_days", "0.0d as delivery_delay_days",
        "true as delivered_on_time")
    val raw = RawTables(
      customers = Seq(("c1", "SP", "sao paulo"))
        .toDF("customer_id", "customer_state", "customer_city"),
      orders = orders,
      orderItems = Seq(("o1", 1L, "p1", "s1", 10.0, 1.0), ("o2", 1L, "p1", "s1", 20.0, 2.0))
        .toDF("order_id", "order_item_id", "product_id", "seller_id", "price", "freight_value"),
      products = Seq(("p1", "brinquedos")).toDF("product_id", "product_category_name"),
      sellers = Seq(("s1", "SP", "campinas")).toDF("seller_id", "seller_state", "seller_city"),
      reviews = Seq(("r1", "o1", 5L)).toDF("review_id", "order_id", "review_score"),
      categoryTranslation = None)
    val star = Model(raw)
    val dates = star.dimDate.select("date", "id").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).sortBy(_._2).toSeq
    assert(dates == Seq(
      (ts("2024-03-01 00:00:00"), 20240301L),
      (ts("2024-03-02 00:00:00"), 20240302L),
      (ts("2024-03-03 00:00:00"), 20240303L)))
    val report = Quality.check(star, Aggregates(star.factSales, star))
    assert(report.fkViolations.values.forall(_ == 0L), report.fkViolations)
    assert(report.ok, report)
  }
}
