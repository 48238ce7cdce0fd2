package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2 to a
  * DataFrame builder over the testdata tables; `oracleSql` carries the
  * equivalent DuckDB SQL. Column names are aliased identically on both
  * sides (the driver sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pricing-summary-style aggregate (SURVEY §2.4 A1 shape): scan → filter →
    * hash-aggregate with distinct count → order. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Each builder first ensures the custom-function catalog on the
    * session it is given, which may be one the engine did not build. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CoreQueries.queries ++ EventQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      MultimodalQueries.queries ++ FunctionQueries.queries)
      .map { case (name, build) =>
        name -> { (s: SparkSession, sfDir: String) =>
          graft.plans.GraftExtensions.ensure(s)
          build(s, sfDir)
        }
      }

  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ EventQueries.oracleSql ++ TextQueries.oracleSql ++
      DedupQueries.oracleSql ++ SimilarityQueries.oracleSql ++
      MultimodalQueries.oracleSql ++ FunctionQueries.oracleSql
}
