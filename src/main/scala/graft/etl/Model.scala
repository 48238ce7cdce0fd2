package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage 3 — Dimensional model (ref: src/etl_functions.py:130-237).
  *
  * Six dimensions + fact_sales at order-item grain. Every dimension is
  * small relative to the fact, so downstream joins broadcast. The date
  * dimension is generated lazily from the orders' min/max purchase
  * timestamp with sequence+explode (F8) — no driver-side loop.
  */
final case class StarSchema(
    dimDate: DataFrame,
    dimCustomer: DataFrame,
    dimProduct: DataFrame,
    dimSeller: DataFrame,
    dimOrder: DataFrame,
    dimReview: DataFrame,
    factSales: DataFrame) {
  def dims: Map[String, DataFrame] = Map(
    "dim_date" -> dimDate, "dim_customer" -> dimCustomer, "dim_product" -> dimProduct,
    "dim_seller" -> dimSeller, "dim_order" -> dimOrder, "dim_review" -> dimReview)
}

object Model {

  /** yyyyMMdd integer surrogate key (F6; ref: src/etl_functions.py:170,223). */
  private def dateId(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyyMMdd").cast("long")

  def apply(t: RawTables): StarSchema = {
    // dim_date (ref :147-172): daily sequence over the purchase days. It
    // starts at the first purchase's midnight: a sequence from the first
    // purchase TIME (pandas date_range semantics) misses the last day when
    // that purchase is earlier in its day, an FK hole in fact.date_id.
    val dimDate = t.orders
      .agg(min("order_purchase_timestamp").as("lo"), max("order_purchase_timestamp").as("hi"))
      .where(col("lo").isNotNull && col("hi").isNotNull) // P6 guard
      .select(explode(sequence(date_trunc("DAY", col("lo")), col("hi"),
        expr("interval 1 day"))).as("date"))
      .select(
        col("date"),
        year(col("date")).as("year"),
        month(col("date")).as("month"),
        dayofmonth(col("date")).as("day"),
        weekday(col("date")).as("dayofweek"), // pandas Monday=0 (H4)
        quarter(col("date")).as("quarter"),
        weekday(col("date")).isin(5, 6).cast("long").as("is_weekend"),
        date_format(col("date"), "MMMM").as("month_name"),
        date_format(col("date"), "EEEE").as("dayofweek_name"),
        dateId(col("date")).as("id"))

    val dimCustomer = t.customers.withColumn("id", col("customer_id"))

    // P8: synthesize the english name column when translation was absent
    val dimProduct0 = t.products.withColumn("id", col("product_id"))
    val dimProduct =
      if (dimProduct0.columns.contains("product_category_name_english")) dimProduct0
      else dimProduct0.withColumn("product_category_name_english", col("product_category_name"))

    val dimSeller = t.sellers.withColumn("id", col("seller_id"))

    val dimOrder = t.orders.select(
      col("order_id"), col("order_status"), col("order_purchase_timestamp"),
      col("order_approved_at"), col("order_delivered_carrier_date"),
      col("order_delivered_customer_date"), col("order_estimated_delivery_date"),
      col("delivery_time_days"), col("delivery_delay_days"), col("delivered_on_time"))
      .withColumn("id", col("order_id"))

    val dimReview = t.reviews.withColumn("id", col("review_id"))

    // fact_sales (ref :213-236): items ⋈ orders (J2), date_id (F6),
    // ⟕ reviews + 0-fill (J3). Reference multiplies rows when an order
    // has >1 review (H8) — preserved as-is.
    val factSales = t.orderItems
      .join(t.orders.select("order_id", "customer_id", "order_purchase_timestamp"),
        Seq("order_id"), "inner")
      .withColumn("date_id", dateId(col("order_purchase_timestamp")))
      .select("order_id", "order_item_id", "product_id", "seller_id",
        "customer_id", "date_id", "price", "freight_value")
      .join(t.reviews.select("order_id", "review_score"), Seq("order_id"), "left")
      .withColumn("review_score", coalesce(col("review_score"), lit(0L)).cast("long"))

    StarSchema(dimDate, dimCustomer, dimProduct, dimSeller, dimOrder, dimReview, factSales)
  }
}
