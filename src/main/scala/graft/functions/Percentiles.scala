package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Conf-tiered percentile engine (VERDICT r10 #2): Spark's exact
  * interpolating `percentile` accumulates EVERY input value into the
  * per-group aggregation buffer — the right (and reference-matching)
  * answer at gate scale, but a concentration point at 100 TB: a
  * 3-group fact table funnels the whole corpus into 3 in-memory
  * buffers. Above `spark.graft.stats.exactPercentileLimit` input rows
  * (default 10M) every consumer switches to the mergeable KLL sketch
  * ([[KllSketchAgg]], k=800 ⇒ ~0.4% normalized rank error): fixed
  * ~KB buffers, map-side partial merge, identical plan shape and
  * output schema. The sketch tier's accuracy contract is hash-gated by
  * q269's rank-neighborhood claim booleans; PlanAuditSpec pins the
  * plan switch (kll_sketch_agg present, exact percentile absent) for
  * q148/t98/t137.
  */
object Percentiles {

  private val LimitConf = "spark.graft.stats.exactPercentileLimit"

  def exactLimit(s: SparkSession): Long =
    s.conf.get(LimitConf, "10000000").toLong

  /** Tier decision for a consumer whose percentile input has
    * `inputRows` rows. Callers pass the cheapest correct proxy (the
    * corpus/doc row count) — one columnar count job, the same probe
    * price the knn/dedup `exactLimit` tiers pay. Un-memoized escape
    * hatch; query consumers should use [[exactTierAt]]. */
  def exactTier(s: SparkSession, inputRows: => Long,
      forceSketch: Boolean = false): Boolean =
    !forceSketch && inputRows <= exactLimit(s)

  /** Memoized probe counts (VERDICT r11 #2 cost note): every tiered
    * consumer used to schedule its own probe `count()` job per
    * invocation — footer-cheap on parquet, but 10 consumers × one job
    * each per sweep. Keyed (applicationId, grain key) exactly like
    * `DedupQueries.embCountCache`: a new application never inherits a
    * stale count, and within an application the testdata dirs are
    * immutable. A long-lived session that rewrites a directory must
    * call [[invalidateProbe]] for its grain keys before re-querying.
    *
    * The cached value is a lazy HOLDER, not the count itself (ADVICE
    * r12): `putIfAbsent` races settle on one holder without holding any
    * map bin lock, and the winner's `lazy val` then runs the Spark count
    * job under the holder's own monitor — a concurrent probe for a
    * DIFFERENT grain that hashes to the same bin never stalls behind a
    * cluster job. Callers own the grainKey→count invariant: the key must
    * uniquely name the COUNTED FRAME's grain (dir + table + filter/group
    * grain), because two callers passing one grainKey for
    * different-grain counts would silently share the first value. */
  private final class Probe(count: () => Long) {
    lazy val value: Long = { probeRuns.incrementAndGet(); count() }
  }
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Probe]()

  /** Number of probe jobs actually run (not served from cache) — the
    * PercentilesPropertySpec memoization assertion reads this. */
  private[graft] val probeRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The memoized probe count for `grainKey` (convention:
    * "<dataDir>#<grain>", e.g. "/root/testdata/sf0.01#events.users") —
    * the shared probe under [[exactTierAt]] and every consumer that
    * needs the COUNT itself to derive a scale knob (k-means K, pareto
    * band count) rather than just the tier boolean. */
  def probeCount(s: SparkSession, grainKey: String, inputRows: => Long): Long = {
    val key = s.sparkContext.applicationId + "|" + grainKey
    val fresh = new Probe(() => inputRows)
    val holder = Option(probeCache.putIfAbsent(key, fresh)).getOrElse(fresh)
    holder.value
  }

  /** [[exactTier]] with the probe memoized under `grainKey`.
    * Forced-sketch callers never pay the probe (short-circuit). */
  def exactTierAt(s: SparkSession, grainKey: String, inputRows: => Long,
      forceSketch: Boolean = false): Boolean =
    !forceSketch && probeCount(s, grainKey, inputRows) <= exactLimit(s)

  private[graft] def invalidateProbe(s: SparkSession, grainKey: String): Unit = {
    probeCache.remove(s.sparkContext.applicationId + "|" + grainKey); ()
  }

  /** Per-group percentiles of `valueCol` at `ranks` (aliased `names`)
    * over `df` grouped by `keys` (empty = one global row). Output
    * schema is identical on both tiers — keys ++ names, DoubleType —
    * so consumers are tier-oblivious. */
  def grouped(s: SparkSession, df: DataFrame, keys: Seq[String],
      valueCol: String, ranks: Seq[Double], names: Seq[String],
      exact: Boolean): DataFrame = {
    require(ranks.length == names.length && ranks.nonEmpty)
    if (exact) {
      val aggs = ranks.zip(names).map { case (r, n) =>
        expr(s"percentile($valueCol, ${r}d)").as(n)
      }
      df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    } else {
      df.groupBy(keys.map(col): _*)
        .agg(expr(s"kll_sketch_agg(CAST($valueCol AS DOUBLE), 800)").as("__sk"))
        .select(keys.map(col) ++ ranks.zip(names).map { case (r, n) =>
          expr(s"kll_quantile(__sk, ${r}d)").as(n)
        }: _*)
    }
  }
}
