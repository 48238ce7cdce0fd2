package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage 4 — Aggregate tables (A1-A7, F12-F15;
  * ref: src/etl_functions.py:240-393).
  *
  * Every table is a partial+final hash aggregation around one shuffle;
  * dimension attributes attach via joins that Catalyst/AQE turns into
  * broadcasts whenever the dim fits the threshold — only dim_date (one
  * row per day, guaranteed small) is hard-hinted; customer/product/seller
  * grow with the business, so hinting them would OOM the driver at scale. The reference's
  * non-standard rollup semantics are preserved deliberately (H2): monthly
  * order_count is the SUM over days of per-day countDistinct(order_id),
  * and per-category/state/seller counts count an order once per group it
  * touches.
  */
final case class AggTables(
    salesByDate: DataFrame,
    salesByCategory: DataFrame,
    salesByLocation: DataFrame,
    salesByCity: DataFrame,
    salesBySeller: DataFrame,
    reviewMetrics: DataFrame) {
  def byName: Map[String, DataFrame] = Map(
    "agg_sales_by_date" -> salesByDate, "agg_sales_by_category" -> salesByCategory,
    "agg_sales_by_location" -> salesByLocation, "agg_sales_by_city" -> salesByCity,
    "agg_sales_by_seller" -> salesBySeller, "agg_review_metrics" -> reviewMetrics)
}

object Aggregates {

  def apply(fact: DataFrame, star: StarSchema): AggTables = {

    // sales_by_date (ref :258-288): day-level agg (A1) → attach
    // year/month/quarter (J4, broadcast) → monthly re-agg (A2) → ratios.
    val byDateId = fact.groupBy("date_id").agg(
      countDistinct("order_id").as("order_count"),
      sum("price").as("total_sales"),
      sum("freight_value").as("total_freight"))
    val salesByDate = byDateId
      .join(broadcast(star.dimDate.select("id", "year", "month", "quarter")),
        col("date_id") === col("id"), "inner")
      .groupBy("year", "month", "quarter")
      .agg(
        sum("order_count").as("order_count"),
        sum("total_sales").as("total_sales"),
        sum("total_freight").as("total_freight"))
      .withColumn("avg_order_value", col("total_sales") / col("order_count"))
      // a month whose item prices sum to 0 has no freight share: NULL,
      // not the ANSI DIVIDE_BY_ZERO error (SURVEY §7.4 H5)
      .withColumn("freight_percentage",
        try_divide(col("total_freight"), col("total_sales")) * 100.0)

    // sales_by_category (ref :292-313): fact ⋈ dim_product (J5, broadcast),
    // group on the english name when present (dynamic column choice :303).
    val catCol =
      if (star.dimProduct.columns.contains("product_category_name_english"))
        "product_category_name_english"
      else "product_category_name"
    val salesByCategory = fact
      .join(star.dimProduct
        .select("id", "product_category_name", "product_category_name_english"),
        col("product_id") === col("id"), "inner")
      .groupBy(col(catCol).as("category_name"))
      .agg(
        countDistinct("order_id").as("order_count"),
        sum("price").as("total_sales"),
        sum("freight_value").as("total_freight"))
      .withColumn("avg_order_value", col("total_sales") / col("order_count"))

    // sales_by_location + sales_by_city (ref :316-345)
    val withCustomer = fact
      .join(star.dimCustomer.select("id", "customer_state", "customer_city"),
        col("customer_id") === col("id"), "inner")
    val salesByLocation = withCustomer
      .groupBy(col("customer_state").as("state"))
      .agg(
        countDistinct("order_id").as("order_count"),
        sum("price").as("total_sales"),
        sum("freight_value").as("total_freight"))
      .withColumn("avg_order_value", col("total_sales") / col("order_count"))
    val salesByCity = withCustomer
      .groupBy(col("customer_state").as("state"), col("customer_city").as("city"))
      .agg(
        countDistinct("order_id").as("order_count"),
        sum("price").as("total_sales"))
      .withColumn("location", concat(col("city"), lit(" ("), col("state"), lit(")")))

    // sales_by_seller (ref :348-369)
    val salesBySeller = fact
      .join(star.dimSeller.select("id", "seller_state", "seller_city"),
        col("seller_id") === col("id"), "inner")
      .groupBy("seller_id")
      .agg(
        countDistinct("order_id").as("order_count"),
        sum("price").as("total_sales"),
        sum("freight_value").as("total_freight"))
      .withColumn("avg_order_value", col("total_sales") / col("order_count"))

    // review_metrics (ref :372-391): per-score aggregate + NPS scalar
    // broadcast onto every row (F15/H11). The scalar is computed from the
    // per-score order counts and attached via a 1-row cross join to stay
    // fully lazy.
    val perScore = fact.groupBy("review_score").agg(
      countDistinct("order_id").as("order_count"),
      sum("price").as("total_sales"))
    val npsRow = perScore.agg(
      ((sum(when(col("review_score") === 5, col("order_count")).otherwise(0L))
        .cast("double") / sum("order_count") * 100.0) -
        (sum(when(col("review_score") <= 3, col("order_count")).otherwise(0L))
          .cast("double") / sum("order_count") * 100.0)).as("nps"))
    val reviewMetrics = perScore.crossJoin(broadcast(npsRow))

    AggTables(salesByDate, salesByCategory, salesByLocation, salesByCity,
      salesBySeller, reviewMetrics)
  }
}
