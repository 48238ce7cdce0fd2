package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Count-min sketch invariants: partition-count invariance (merge is
  * elementwise addition — the mergeability the 100 TB rollup story rests
  * on), the one-sided error guarantee, and near-exactness when keys are
  * sparse relative to the counter width. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private val depth = 5
  private val width = 2048

  test("sketch is invariant to partitioning (merge = elementwise add)") {
    val keys = (0L until 5000L).map(i => i % 97L).toDF("k")
    def sketchOf(parts: Int): Seq[Long] =
      keys.repartition(parts)
        .agg(expr(s"count_min_agg(k, $depth, $width)")).head()
        .getSeq[Long](0)
    assert(sketchOf(1) == sketchOf(16))
  }

  test("estimates never under-count, and are exact for sparse key sets") {
    // 97 distinct keys into 2048 counters: splitmix64 spreads them
    // with few collisions; every estimate must be >= exact, and the
    // total over-count across all keys is bounded by depth * n
    val keys = (0L until 5000L).map(i => i % 97L).toDF("k")
    val sk = keys.agg(expr(s"count_min_agg(k, $depth, $width)").as("sk"))
    val est = keys.distinct()
      .crossJoin(broadcast(sk))
      .select(col("k"), expr(s"cms_estimate(sk, k, $depth, $width)").as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (0L until 5000L).groupBy(_ % 97L).map { case (k, v) => k -> v.size.toLong }
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"under-count: key $k est ${est(k)} < exact $c")
    }
    // with 97 keys in width 2048 a row collision is rare; the min over
    // 5 rows should recover the exact count for the large majority
    val exactHits = exact.count { case (k, c) => est(k) == c }
    assert(exactHits >= 90, s"only $exactHits/97 estimates exact — hash spread broken?")
  }

  test("misra-gries: theorem bounds hold under every partitioning, on a skewed stream") {
    val k = 8
    // zipf-ish skew: key j appears ~ 2000/(j+1) times, 40 distinct keys
    val rows = (0 until 40).flatMap(j => Seq.fill(2000 / (j + 1))(j.toLong))
    val exact = rows.groupBy(identity).map { case (key, v) => key -> v.size.toLong }
    val n = rows.size.toLong
    for (parts <- Seq(1, 7, 32)) {
      val mg = rows.toDF("key").repartition(parts)
        .agg(expr(s"misra_gries_agg(key, $k)")).head()
        .getMap[Long, Long](0)
      assert(mg.size <= k, s"summary overflowed: ${mg.size} > $k")
      exact.foreach { case (key, c) =>
        val est = mg.getOrElse(key, 0L)
        assert(est <= c, s"parts=$parts key $key over-counts: $est > $c")
        assert(c - est <= n / (k + 1) + 1,
          s"parts=$parts key $key bound broken: $c - $est > N/(k+1)=${n / (k + 1)}")
      }
      // the top key (freq 2000 of ~8600 >> N/9) must be tracked
      assert(mg.contains(0L), s"parts=$parts: dominant key evicted")
    }
  }

  test("total slot in the buffer carries n") {
    val keys = (0L until 1234L).toDF("k")
    val buf = keys.agg(expr(s"count_min_agg(k, $depth, $width)")).head().getSeq[Long](0)
    assert(buf.length == depth * width + 1)
    assert(buf.last == 1234L)
    // each row's counters must also sum to n
    (0 until depth).foreach { r =>
      assert(buf.slice(r * width, (r + 1) * width).sum == 1234L)
    }
  }
}
