package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** On-disk manifest format compatibility (ADVICE r14): this revision
  * stamps `#format=2` in every manifest and reads nothing else.
  * Pre-header (format-1) manifests ordered stats lines `col|file|min|max`
  * and wrote DV addresses URI-escaped; their escaped addresses would
  * silently stop matching the decoded scan addresses, resurrecting
  * deleted rows. The contract: a manifest without the header is refused
  * loudly with the rewrite remedy on every read path, with or without
  * deletion vectors.
  *
  * The tests perform manifest surgery by hand — they ARE the legacy
  * writer.
  */
class FormatCompatSpec extends SparkSpec {

  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, k % 2, k * 7L)).toDF("k", "p", "v")
  }

  /** Rewrite version `v`'s manifest through `fix`, bypassing the commit
    * protocol — the stand-in for a file written by the old revision. */
  private def rewriteManifest(dir: String, v: Long,
      fix: Seq[String] => Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, "_manifests", s"v$v.manifest")
    val lines = java.nio.file.Files.readAllLines(p)
    val fixed = fix(scala.jdk.CollectionConverters
      .ListHasAsScala(lines).asScala.toSeq)
    java.nio.file.Files.write(p,
      scala.jdk.CollectionConverters.SeqHasAsJava(fixed).asJava)
    // surgery bypasses the commit protocol, so drop the memoized entry
    SnapshotTable.invalidateManifestCache(
      new org.apache.hadoop.fs.Path(p.toString).toString)
    (): Unit
  }

  private def assertRefused(what: String)(body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains("Rewrite the table"), s"$what: ${e.getMessage}")
  }

  /** Strip v2's header and require every read path to refuse. */
  private def assertHeaderlessRefused(dir: String): Unit = {
    rewriteManifest(dir, 2L, _.filterNot(_.startsWith("#format=")))
    assertRefused("read")(SnapshotTable.read(spark, dir).count())
    assertRefused("readChangesSince")(SnapshotTable.readChangesSince(spark, dir, 1L))
    assertRefused("restore")(SnapshotTable.restore(spark, dir, 1L))
  }

  test("a format-1 manifest carrying deletion vectors is refused with " +
      "the rewrite remedy on every read path") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(1L to 50L), "p")
    SnapshotTable.deleteWhereDV(spark, dir, col("k") === 7L) // v2: has a DV
    assertHeaderlessRefused(dir)
  }

  test("a DV-free manifest without the format-2 header is refused too") {
    val dir = tempDir("t")
    SnapshotTable.write(spark, dir, mkDf(1L to 10L), "p")
    SnapshotTable.append(spark, dir, mkDf(11L to 20L), "p") // v2: no DV
    assertHeaderlessRefused(dir)
  }
}
