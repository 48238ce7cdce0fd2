package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Byte-level pin of the manifest format: a fixed commit sequence
  * (write, append, setStatsColumns, append, deleteWhereDV, compact, plus
  * a staged WAP branch) must write exactly the manifests and checkpoint
  * rows in `src/test/resources/manifest-golden/`, captured from the
  * previous (hand-built text) writer, so the codec stays pinned to the
  * bytes existing tables hold. Commit stamps (`#ts=`) and the random
  * 8-hex ids in staged file names are masked; every stage writes one
  * partition through one task, so file order is deterministic. */
class ManifestGoldenSpec extends SparkSpec {
  import ManifestGoldenSpec._

  test("the writer reproduces the golden manifests byte for byte, and " +
      "the codec re-encodes them unchanged") {
    val got = captureSequence(spark, tempDir("t"))
    val goldenDir = "src/test/resources/manifest-golden"
    val names = new java.io.File(goldenDir).list().toSeq.sorted
    assert(names == got.keys.toSeq.sorted)
    got.foreach { case (name, bytes) =>
      val golden = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(goldenDir, name))
      assert(new String(bytes, "UTF-8") == new String(golden, "UTF-8"), name)
      assert(bytes.sameElements(golden), name)
      if (name.endsWith(".manifest"))
        assert(Manifest.encode(Manifest.decode(golden, name)).sameElements(golden),
          s"$name: encode(decode(bytes)) != bytes")
    }
  }
}

object ManifestGoldenSpec {

  private val StatsVals = Seq("\n|%s:123", "a+b %25", "s:-7", "épée|",
    "𝄞~#=", "123")

  /** Run the fixed sequence on a fresh table `dir` and return every file
    * under `_manifests/` (checkpoints as their `line` rows), masked. */
  def captureSequence(spark: SparkSession, dir: String): Map[String, Array[Byte]] = {
    import spark.implicits._
    val key = "spark.graft.snapshot.checkpointInterval"
    spark.conf.set(key, "3")
    try {
      def rows(p: String, ks: Seq[Long]) =
        ks.map(k => (k, StatsVals(Math.floorMod(k, StatsVals.size.toLong).toInt), p))
          .toDF("k", "s", "p").coalesce(1)
      val hostile = "a|b %+" // Spark escapes the '%' in the dir name
      SnapshotTable.write(spark, dir, rows(hostile, Seq(Long.MinValue, 1L, 2L)), "p")
      SnapshotTable.append(spark, dir, rows("x", Seq(3L, 4L)), "p")
      SnapshotTable.setStatsColumns(spark, dir, Seq("k", "s"))
      SnapshotTable.append(spark, dir,
        rows(hostile, Seq(5L, 6L, 7L, 8L, 9L, 10L, Long.MaxValue)), "p")
      SnapshotTable.deleteWhereDV(spark, dir, col("k") === 6L)
      SnapshotTable.compact(spark, dir, "p")
      SnapshotTable.writeBranch(spark, dir, rows("y", Seq(11L)), "p", "b1")
    } finally spark.conf.unset(key)
    val mdir = new java.io.File(dir, "_manifests")
    val files = mdir.list().toSeq.filterNot(_.startsWith(".")).sorted
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val Id = "(?<=(?:snap|dv)-)[0-9a-f]{8}(?=-\\d+\\.parquet)".r
    def mask(text: String): String =
      Id.replaceAllIn("#ts=\\d+".r.replaceAllIn(text, "#ts=TS"),
        m => ids.getOrElseUpdate(m.matched, f"id${ids.size}%06d"))
    // version order first, so ids number in commit order
    val ordered = files.sortBy(n => ("\\d+".r.findFirstIn(n)
      .fold(Long.MaxValue)(_.toLong), n))
    ordered.map { n =>
      val f = new java.io.File(mdir, n)
      val text =
        if (n.endsWith(".parquet")) checkpointLines(spark, f.toString)
        else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val out = if (n.endsWith(".parquet")) n.stripSuffix(".parquet") + ".lines" else n
      out -> mask(text).getBytes("UTF-8")
    }.toMap
  }

  private def checkpointLines(spark: SparkSession, path: String): String = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(path))
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val sb = new StringBuilder
    try {
      var g = reader.read()
      while (g != null) { sb.append(g.getString("line", 0)).append('\n'); g = reader.read() }
    } finally reader.close()
    sb.toString
  }
}
