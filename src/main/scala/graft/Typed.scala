package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed Dataset facade over the testdata tables — compile-time field
  * checks for pipeline code that wants them (builder prompt: "Dataset[T]
  * where type safety helps"). The case-class Encoders read the same
  * columnar scans; only genuinely typed logic (mapPartitions et al.)
  * leaves the Catalyst-optimizable plan, so use the DataFrame column DSL
  * for relational logic and these for partition-local Scala code.
  */
object Typed {

  final case class Lineitem(
      l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String,
      l_shipdate: java.time.LocalDateTime)

  final case class Order(
      o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime,
      o_orderpriority: String)

  final case class Customer(
      c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)

  final case class Document(
      doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  def lineitem(spark: SparkSession, d: String): Dataset[Lineitem] = {
    import spark.implicits._
    Tables.lineitem(spark, d).as[Lineitem]
  }

  def orders(spark: SparkSession, d: String): Dataset[Order] = {
    import spark.implicits._
    Tables.orders(spark, d).as[Order]
  }

  def customer(spark: SparkSession, d: String): Dataset[Customer] = {
    import spark.implicits._
    Tables.customer(spark, d).as[Customer]
  }

  def documents(spark: SparkSession, d: String): Dataset[Document] = {
    import spark.implicits._
    Tables.documents(spark, d).as[Document]
  }

  def embeddings(spark: SparkSession, d: String): Dataset[Embedding] = {
    import spark.implicits._
    Tables.embeddings(spark, d).as[Embedding]
  }
}

/** SQL facade: register the testdata tables as temp views so users can
  * drive the whole engine through spark.sql — the reference's Power BI
  * users think in declarative queries, not the DataFrame DSL. The whole
  * custom-function catalog ([[graft.plans.GraftExtensions.catalog]]) is
  * ensured on the same session, so SQL reaches every function too.
  */
object SqlCatalog {
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, sfDir: String): Unit = {
    tableNames.foreach {
      case "events" => Tables.events(spark, sfDir).createOrReplaceTempView("events")
      case t => Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    graft.plans.GraftExtensions.ensure(spark)
  }
}
