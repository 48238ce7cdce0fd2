package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Textbook-value pins for the Jaro/Jaro–Winkler expressions (the q150
  * oracle proves DuckDB parity corpus-wide; this spec pins the canonical
  * literature examples and the edge semantics so a regression is
  * attributable without a DuckDB run).
  */
class StringSimilaritySpec extends SparkSpec {

  private def j(a: String, b: String) =
    StringSimilarity.jaro(UTF8String.fromString(a), UTF8String.fromString(b))
  private def jw(a: String, b: String) =
    StringSimilarity.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("canonical literature values") {
    assert(math.abs(j("MARTHA", "MARHTA") - 0.9444444444444445) < 1e-15)
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-15)
    assert(j("abc", "abc") == 1.0 && jw("abc", "abc") == 1.0)
  }

  test("edge semantics match DuckDB: empty strings, boost threshold, window") {
    assert(j("", "") == 0.0 && jw("", "") == 0.0, "empty sides score 0")
    assert(j("a", "") == 0.0)
    assert(j("ab", "ba") == 0.0, "window 0 at length 2: no matches")
    // jaro = 0.5 with a 2-char common prefix: below the 0.7 boost
    // threshold the Winkler bonus must NOT apply
    assert(j("abcdefgh", "abzxywvu") == 0.5)
    assert(jw("abcdefgh", "abzxywvu") == 0.5)
    // just above the threshold the bonus does apply, capped at 4 prefix chars
    val base = j("abcdezz", "abcdeyy")
    assert(base > 0.7)
    assert(math.abs(jw("abcdezz", "abcdeyy") - (base + 4 * 0.1 * (1 - base))) < 1e-15)
  }

  test("expressions run inside whole-stage codegen in the q150 plan") {
    import spark.implicits._
    // a literal local relation constant-folds before execution, so the
    // codegen claim is pinned on the real query plan over parquet
    val df = graft.FunctionQueries.queries("q150_jaro_winkler")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // AQE prints WholeStageCodegen spans as "*(n)" operator prefixes; the
    // scoring Project must carry one
    assert(plan.linesIterator.exists(l =>
      l.contains("jaro_winkler_sim") && l.trim.startsWith("+- *(")),
      s"scoring projection not inside a codegen span:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"interpreted UDF leaked into the plan:\n$plan")
    // null propagation through the binary expression
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(call_function("jaro_sim", col("a"), col("b")).as("s"))
    assert(withNull.collect()(0).isNullAt(0))
  }
}
