package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the engine's own session factory (so tests run
  * in the SQL mode the benchmark and the oracle gate run in), with a small
  * shuffle partition count for test scale. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(getClass.getSimpleName, "4", "4")

  private var tempRoot: Option[java.nio.file.Path] = None

  /** A fresh directory under the suite's temp root, which is deleted
    * when the suite ends. With `child`, the path of a not-yet-existing
    * entry inside the fresh directory (a table dir whose staging
    * siblings then stay inside it too). */
  def tempDir(child: String = ""): String = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(getClass.getSimpleName + "-")
      tempRoot = Some(r); r
    }
    val dir = java.nio.file.Files.createTempDirectory(root, "d").toString
    if (child.isEmpty) dir else s"$dir/$child"
  }

  override protected def afterAll(): Unit =
    try synchronized(tempRoot.foreach(r =>
      org.apache.commons.io.FileUtils.deleteDirectory(r.toFile)))
    finally super.afterAll()

  val sf: String = "/root/testdata/sf0.001"

  /** Value-level DataFrame equality: sorted rows, doubles at relative
    * tolerance, timestamps at µs. */
  def assertSameRows(expected: DataFrame, actual: DataFrame, tol: Double = 1e-9): Unit = {
    val cols = expected.columns.sorted
    assert(actual.columns.sorted.toSeq == cols.toSeq,
      s"columns differ: ${actual.columns.sorted.toSeq} vs ${cols.toSeq}")
    val e = collectSorted(expected, cols)
    val a = collectSorted(actual, cols)
    assert(e.length == a.length, s"row counts differ: ${e.length} vs ${a.length}")
    e.zip(a).zipWithIndex.foreach { case ((er, ar), i) =>
      cols.indices.foreach { j =>
        val (ev, av) = (er.get(j), ar.get(j))
        val ok = (ev, av) match {
          case (null, null) => true
          case (x: java.lang.Double, y: java.lang.Double) =>
            (x.isNaN && y.isNaN) ||
              math.abs(x - y) <= tol * math.max(math.max(math.abs(x), math.abs(y)), 1.0)
          case (x: java.sql.Timestamp, y: java.sql.Timestamp) =>
            x.getTime / 1000 * 1000 == y.getTime / 1000 * 1000 &&
              x.getNanos / 1000 == y.getNanos / 1000
          case (x, y) => x == y
        }
        assert(ok, s"row $i col ${cols(j)}: expected $ev, got $av\n  expected row: $er\n  actual row:   $ar")
      }
    }
  }

  private def collectSorted(df: DataFrame, cols: Array[String]): Array[Row] = {
    import org.apache.spark.sql.functions.col
    df.select(cols.map(col): _*).collect()
      .sortBy(_.toString) // total deterministic order over stringified rows
  }
}
