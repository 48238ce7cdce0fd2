package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** The function catalog has one registration path: the extension installs
  * every catalog entry on a factory-built session, and `ensure` brings any
  * other session to the same catalog without replacing a function.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def missing(s: org.apache.spark.sql.SparkSession): Seq[String] =
    GraftExtensions.catalog.map(_.name)
      .filterNot(n => s.catalog.functionExists(n))

  test("the catalog lists distinct names, none a Spark built-in") {
    val names = GraftExtensions.catalog.map(_.name)
    assert(names.distinct == names)
    // a shadowed built-in would make `ensure` keep Spark's function and
    // the extension log a replacement on every session
    assert(GraftExtensions.catalog.map(_.id)
      .filter(FunctionRegistry.builtin.functionExists).isEmpty)
  }

  test("factory session resolves every catalog name") {
    assert(missing(spark).isEmpty)
    assert(GraftExtensions.ensure(spark).isEmpty)
  }

  test("a session without the extension resolves every name after one ensure") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    // a new session inherits the extension; take its functions away to
    // stand for a session the engine did not build
    GraftExtensions.catalog.foreach(f => registry.dropFunction(f.id))
    assert(missing(s) == GraftExtensions.catalog.map(_.name))
    assert(GraftExtensions.ensure(s) == GraftExtensions.catalog.map(_.name))
    assert(missing(s).isEmpty)
    assert(GraftExtensions.ensure(s).isEmpty, "a second ensure registered again")
    // the functions evaluate through the registry ensure filled
    val row = s.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), " +
      "jaro_sim('abc', 'abc')").head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getDouble(1) == 1.0)
  }

  test("injected expression constructors build and evaluate") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val arr = Literal.create(Array(1.0f, 0.0f), ArrayType(FloatType, containsNull = false))
    val cos = graft.functions.CosineSimilarity(arr, arr)
    assert(math.abs(cos.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
    val dot = graft.functions.DotProduct(arr, arr)
    assert(math.abs(dot.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
    val sig = graft.functions.MinHashSignature(
      Literal.create(Array(123456789L, 987654321L), ArrayType(LongType, containsNull = false)),
      Literal(4))
    val out = sig.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == 4)
    assert(out.toLongArray().forall(_ != Long.MaxValue))
  }
}
