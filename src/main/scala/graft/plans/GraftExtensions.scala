package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions._

/** The engine's custom-function catalog and its one registration path.
  *
  * A session gets the functions in one of two ways:
  *  - built with the extension: [[graft.Session.local]] installs it, and an
  *    outside session can set
  *    `spark.sql.extensions=graft.plans.GraftExtensions`;
  *  - [[GraftExtensions.ensure]] for a session the engine did not build,
  *    called at the entry points such a session can come in through.
  *
  * No custom planner strategies or optimizer rules are injected: every
  * operator composes from Catalyst built-ins (SURVEY §4.3); the extension
  * surface is exactly the expression layer where built-ins fall short.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.catalog.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
}

object GraftExtensions {

  final case class Fn(name: String, usage: String, builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "", "", "", "built-in")
  }

  /** A foldable literal argument (k, depth, seed, ...). */
  private def int(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()

  val catalog: Seq[Fn] = Seq(
    // vector math
    Fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double arrays",
      e => CosineSimilarity(e(0), e(1))),
    Fn("dot_product", "dot_product(a, b) - dot product of two float/double arrays",
      e => DotProduct(e(0), e(1))),
    Fn("l2sq", "l2sq(a, b) - squared L2 distance of two float/double arrays",
      e => SquaredL2Distance(e(0), e(1))),
    Fn("dot_long", "dot_long(a, b) - exact dot product of two long arrays",
      e => LongDotProduct(e(0), e(1))),
    Fn("l2sq_long", "l2sq_long(a, b) - exact squared L2 distance of two long arrays",
      e => LongSquaredL2(e(0), e(1))),
    Fn("topk_by_score",
      "topk_by_score(score, id, k) - top-k (id, score) structs by score, ties to smaller id",
      e => TopKByScore(e(0), e(1), int(e(2))).toAggregateExpression()),
    // hashing: xxhash64 with an explicit seed (the functions._ wrapper
    // pins 42) for the MinHash permutation family, ANSI-safe unlike affine
    // (a*h+b) permutations, which overflow LongType under ANSI
    Fn("xxhash64_seed", "xxhash64_seed(cols..., seed) - xxhash64 with explicit seed",
      e => XxHash64(e.init, e.last.eval(null).asInstanceOf[Number].longValue())),
    Fn("rolling_min_hash", "rolling_min_hash(text, k) - min Rabin-Karp hash over k-byte windows",
      e => RollingMinHash(e(0), e(1))),
    Fn("minhash_signature",
      "minhash_signature(shingles, n) - n-permutation MinHash signature in one pass",
      e => MinHashSignature(e(0), e(1))),
    // string similarity
    Fn("jaro_sim", "jaro_sim(a, b) - Jaro similarity of two strings",
      e => JaroSimilarity(e(0), e(1))),
    Fn("jaro_winkler_sim",
      "jaro_winkler_sim(a, b) - Jaro-Winkler similarity (0.7 boost threshold, 4-char prefix cap)",
      e => JaroWinklerSimilarity(e(0), e(1))),
    // mergeable sketches (the persisted-sketch-table surface)
    Fn("kll_sketch_agg",
      "kll_sketch_agg(value, k) - mergeable KLL quantile sketch of double values (binary)",
      e => KllSketchAgg(e(0), int(e(1))).toAggregateExpression()),
    Fn("kll_merge_agg", "kll_merge_agg(sketch, k) - union of serialized KLL sketches (binary)",
      e => KllMergeAgg(e(0), int(e(1))).toAggregateExpression()),
    Fn("kll_quantile",
      "kll_quantile(sketch, rank) - quantile estimate from a serialized KLL sketch",
      e => KllQuantile(e(0), e(1))),
    Fn("theta_long_sketch_agg",
      "theta_long_sketch_agg(key, lgK) - mergeable theta distinct sketch of long keys (binary)",
      e => ThetaSketchAgg(e(0), int(e(1))).toAggregateExpression()),
    Fn("theta_merge_agg", "theta_merge_agg(sketch, lgK) - union of serialized theta sketches (binary)",
      e => ThetaMergeAgg(e(0), int(e(1))).toAggregateExpression()),
    Fn("theta_estimate", "theta_estimate(sketch) - distinct estimate of a serialized theta sketch",
      e => ThetaEstimate(e(0))),
    Fn("theta_intersect_estimate",
      "theta_intersect_estimate(a, b) - |A intersect B| estimate from two theta sketches",
      e => ThetaIntersectEstimate(e(0), e(1))),
    Fn("theta_union_estimate",
      "theta_union_estimate(a, b) - |A union B| estimate from two theta sketches",
      e => ThetaUnionEstimate(e(0), e(1))),
    Fn("gram_matrix_agg",
      "gram_matrix_agg(qvec, dim) - mergeable integer moment matrix (sum qi*qj, sum qi, n)",
      e => GramMatrixAgg(e(0), int(e(1))).toAggregateExpression()),
    Fn("count_min_agg",
      "count_min_agg(key, depth, width) - mergeable count-min frequency sketch of long keys",
      e => CountMinAgg(e(0), int(e(1)), int(e(2))).toAggregateExpression()),
    Fn("cms_estimate",
      "cms_estimate(sketch, key, depth, width) - point frequency estimate from a count-min sketch",
      e => CmsEstimate(e(0), e(1), int(e(2)), int(e(3)))),
    Fn("misra_gries_agg",
      "misra_gries_agg(key, k) - mergeable Misra-Gries heavy-hitter summary (map<long,long>)",
      e => MisraGriesAgg(e(0), int(e(1))).toAggregateExpression()),
    // Spark's own bloom-filter expressions, absent from its default
    // registry (see BloomProbe)
    Fn("bloom_filter_agg",
      "bloom_filter_agg(xxhash64(x), estimatedItems, numBits) - bloom filter sketch (binary)",
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    Fn("might_contain",
      "might_contain(sketch, xxhash64(x)) - probe of a foldable bloom filter sketch",
      e => BloomFilterMightContain(e(0), e(1))),
    Fn("bloom_probe", "bloom_probe(sketch, xxhash64(x)) - probe of a per-row bloom filter sketch",
      e => BloomProbe(e(0), e(1))))

  /** Register the catalog functions `spark` lacks; returns their names.
    * Checks before it injects (a session built with the extension gets
    * nothing), so it never replaces a registered function. No catalog
    * name is a Spark built-in, so a name that exists is ours. */
  def ensure(spark: SparkSession): Seq[String] = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      catalog.filterNot(f => registry.functionExists(f.id)).map { f =>
        registry.registerFunction(f.id, f.info, f.builder)
        f.name
      }
    }
  }
}
