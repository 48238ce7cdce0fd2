package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** `bloom_probe(sketch binary, hash long)` — does the serialized bloom
  * filter possibly contain the 64-bit hash? The catalog
  * ([[graft.plans.GraftExtensions]]) also exposes Spark's own bloom-filter
  * expressions, the codegen'd machinery Catalyst's runtime-filter
  * injection uses, which are public classes but absent from the default
  * FunctionRegistry:
  *
  *  - `bloom_filter_agg(xxhash64(x), estimatedItems, numBits)` → binary
  *  - `might_contain(sketch, xxhash64(x))` → boolean — the sketch must be
  *    FOLDABLE (a literal / scalar subquery; Spark's type check enforces
  *    it), the one-global-filter shape d99's decontamination uses.
  *
  * `bloom_probe` is the per-ROW-sketch sibling `might_contain` cannot be:
  * SnapshotTable's point-lookup index stores one sketch PER FILE, and the
  * probe must evaluate in executors over that file-count-sized frame so
  * sketch bytes never transit the driver (VERDICT r14 #2).
  * Deserialization cost is one `BloomFilter.readFrom` per SIDECAR row
  * (= per data file), never per data row, so an interpreted eval is off
  * the hot path by construction.
  */
case class BloomProbe(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expects (binary, long), got $other")
    }

  override def nullSafeEval(sketch: Any, hash: Any): Any =
    BloomProbe.probe(sketch.asInstanceOf[Array[Byte]],
      hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, h) => {
      val cls = BloomProbe.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.probe($s, $h);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "bloom_probe"
}

object BloomProbe {
  def probe(sketch: Array[Byte], hash: Long): Boolean =
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(sketch))
      .mightContainLong(hash)
}
