package graft.operators

import graft.SparkSpec

/** Behavioral contract for t147_compression_ratio beyond its claim-gate
  * (the deflate byte count is zlib-internal, so the DuckDB gate can only
  * assert the emitted invariants): known-content ratios land where deflate
  * must put them, repetitive text compresses an order of magnitude below
  * high-entropy text, and the signal is deterministic across runs.
  */
class CompressionSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir()
    rows.map { case (id, src, t) => (id, src, t, t.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // deterministic high-entropy-ish text: hex of chained md5
  private def noisy(n: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new StringBuilder
    var seed = "s0".getBytes
    while (sb.length < n) {
      seed = md.digest(seed)
      sb.append(seed.map("%02x".format(_)).mkString)
    }
    sb.substring(0, n)
  }

  test("repetitive text compresses far below high-entropy text; bands hold") {
    val rep = "spam ham " * 400 // 3600 chars of period-8 repetition
    val noise = noisy(3600)
    val dir = writeDocs(Seq(
      (1L, "rep", rep), (2L, "rep", rep + "tail"),
      (3L, "noise", noise), (4L, "noise", noisy(2000))))
    val out = graft.TextQueries.queries("t147_compression_ratio")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .toMap
    // the booleans are per-source QUALITY VERDICTS, not tautologies: a
    // pathologically repetitive source compresses below the 2% floor and
    // leaves the prose mean band — exactly the flag a corpus filter wants
    // (on the real corpus all verdicts are true, which is what the
    // DuckDB claim gate asserts)
    assert(out("rep") == ((2L, (3600 + 3604).toLong, true, false, false)), out("rep"))
    assert(out("noise")._3 && out("noise")._4, out("noise"))
    assert(out("noise")._2 == 5600L)
  }

  test("per-doc deflate is deterministic and ordered: rep << prose << noise") {
    import spark.implicits._
    def ratioOf(text: String): Double = {
      val dir = writeDocs(Seq((1L, "x", text)))
      // recompute through the operator's own partition path
      val row = graft.TextQueries.queries("t147_compression_ratio")(spark, dir).collect()(0)
      // claim booleans don't expose the raw ratio; recompute locally with
      // the same parameters to order the three regimes
      val raw = text.getBytes("UTF-8")
      val defl = new java.util.zip.Deflater(6, true)
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!defl.finished()) n += defl.deflate(buf)
      defl.end()
      assert(row.getLong(2) == raw.length.toLong)
      n.toDouble / raw.length
    }
    val rep = ratioOf("tick tock " * 500)
    val prose = ratioOf(
      ("the quick brown fox jumps over the lazy dog while seventeen " +
        "curious researchers annotate corpora with unusual diligence ") * 40)
    val noise = ratioOf(noisy(5000))
    assert(rep < prose && prose < noise,
      s"expected rep < prose < noise, got $rep / $prose / $noise")
    assert(rep < 0.1, s"period-10 repetition must compress below 10%, got $rep")
    assert(noise > 0.4, s"high-entropy text must stay above 40%, got $noise")
    val again = ratioOf(noisy(5000))
    assert(noise == again, "deflate ratio must be deterministic across runs")
  }
}
