package graft.sources

import graft.sources.Manifest._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded round-trip properties of the manifest codec: for generated
  * manifests `decode(encode(m)) == m` and `encode(decode(bytes)) ==
  * bytes`, over full and delta bodies, DVs, checkpoint rows and the
  * structured header values — with hostile stat strings ('|', newlines,
  * '%', '+', `s:`, numeric-looking, non-ASCII, supplementary-plane),
  * extreme longs, and Spark-escaped partition directories. */
class ManifestCodecSpec extends AnyFunSuite {

  private val Hostile = Seq("|", "a|b", "\n", "x\ny", "%", "%25", "+", "a b",
    "s:", "s:7", "123", "-9", "", "=", "#h", "~d", "é", "早晨", "𝄞", "a\u0000b")

  private val Longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)

  private final class Gen(seed: Long) {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def long(): Long = if (rnd.nextBoolean()) pick(Longs) else rnd.nextLong()
    def string(): String =
      if (rnd.nextInt(3) > 0) pick(Hostile)
      else Seq.fill(rnd.nextInt(6))(pick(Seq(rnd.nextInt(0x80), 0xe9, 0x65e9,
        0x1d11e, rnd.nextInt(0x10000) & 0xd7ff))).flatMap(Character.toChars(_)).mkString
    def file(): String = {
      val dir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(string())
      s"${pick(Seq("p", "part", "__tp"))}=$dir/snap-${rnd.nextInt(1 << 16)}-${rnd.nextInt(9)}.parquet"
    }
    def dv(): String = s"_dv/dv-${rnd.nextInt(1 << 16)}-${rnd.nextInt(9)}.parquet"
    def stat(files: Seq[String]): FileStat = {
      val f = if (files.nonEmpty && rnd.nextBoolean()) pick(files) else file()
      val col = pick(Seq("k", "v", "day", "s~x", "%c"))
      if (rnd.nextBoolean()) FileStat(col, f, LongStat(long()), LongStat(long()))
      else FileStat(col, f, StringStat(string()), StringStat(string()))
    }
    def snapshot(): Snapshot = {
      val files = Seq.fill(rnd.nextInt(5))(file())
      Snapshot(files, Seq.fill(rnd.nextInt(3))(dv()), Seq.fill(rnd.nextInt(5))(stat(files)))
    }
    def meta(): Map[String, String] = Map(FormatKey -> CurrentFormat) ++
      Seq(
        "ts" -> long().toString,
        "lastbatch.q" -> lastBatch(long(), long()),
        "batch" -> batchTag("q", long()),
        "statscols" -> statsCols(Seq("k", "v")),
        "constraint.c" -> "k >= 0 AND s <> 'a=#b'",
        "datachange" -> "false",
        "replica_source_version" -> long().toString)
        .filter(_ => rnd.nextBoolean())
    def manifest(): Manifest = Manifest(meta(),
      if (rnd.nextBoolean()) Full(snapshot())
      else Delta(long(), snapshot(), snapshot()))
  }

  private def seeds = 1L to 300L

  test("decode(encode(m)) == m and encode(decode(bytes)) == bytes") {
    seeds.foreach { seed =>
      val m = new Gen(seed).manifest()
      val bytes = encode(m)
      val back = decode(bytes, s"seed $seed")
      assert(back == m, s"seed $seed")
      assert(encode(back).sameElements(bytes), s"seed $seed")
    }
  }

  test("checkpoint rows round-trip a full snapshot") {
    seeds.foreach { seed =>
      val s = new Gen(seed).snapshot()
      assert(fromCheckpointRows(checkpointRows(s).toSeq) == s, s"seed $seed")
    }
  }

  test("every entry is one line: hostile values never split or merge lines") {
    seeds.foreach { seed =>
      val s = new Gen(seed).snapshot()
      val text = new String(encode(Manifest(Map(FormatKey -> CurrentFormat), Full(s))), "UTF-8")
      assert(text.count(_ == '\n') == 1 + s.files.size + s.dvs.size + s.stats.size,
        s"seed $seed")
    }
  }

  test("deltaFrom rebuilds append/remove shapes through applyDelta and " +
      "refuses reorders") {
    seeds.foreach { seed =>
      val g = new Gen(seed)
      // entries are unique within a list (staged names are), and new
      // entries are new
      val p0 = g.snapshot()
      val prev = Snapshot(p0.files.distinct, p0.dvs.distinct, p0.stats.distinct)
      val extra = g.snapshot()
      def keepSome[A](xs: Seq[A]) = xs.filter(_ => g.rnd.nextBoolean())
      def fresh[A](xs: Seq[A], old: Seq[A]) = xs.distinct.filterNot(old.toSet)
      val now = Snapshot(
        keepSome(prev.files) ++ fresh(extra.files, prev.files),
        keepSome(prev.dvs) ++ fresh(extra.dvs, prev.dvs),
        keepSome(prev.stats) ++ fresh(extra.stats, prev.stats))
      val (removed, added) = now.deltaFrom(prev).getOrElse(fail(s"seed $seed"))
      assert(prev.applyDelta(removed, added) == now, s"seed $seed")
      if (now.files.distinct.size > 1 && now.files.distinct == now.files)
        assert(now.copy(files = now.files.reverse).deltaFrom(now).isEmpty, s"seed $seed")
    }
  }

  test("structured header values and file names round-trip") {
    val g = new Gen(7L)
    (Longs ++ Seq.fill(50)(g.long())).foreach { v =>
      assert(parseLastBatch(lastBatch(v, -v)) == ((v, -v)))
      if (v >= 0) {
        assert(versionOf(versionFile(v)).contains(v))
        assert(checkpointOf(checkpointFile(v)).contains(v))
        assert(watermarkOf(watermarkFile(v)).contains(v))
      }
    }
    assert(parseStatsCols(statsCols(Seq("a", "b_c"))) == Seq("a", "b_c"))
    assert(parseStatsCols("") == Nil)
    for (n <- Seq(branchFile("b1"), tmpFile(versionFile(3)), checkpointFile(3),
        watermarkFile(3), "v.manifest", "vx.manifest"))
      assert(versionOf(n).isEmpty, n)
    assert(isBranchFile(branchFile("b1")) && !isBranchFile(versionFile(1)))
  }

  test("a manifest without #format=2 is refused with the rewrite remedy") {
    for (text <- Seq("p=0/a.parquet\n", "#ts=1\np=0/a.parquet\n", "#format=1\n")) {
      val e = intercept[IllegalStateException](decode(text.getBytes("UTF-8"), "v1.manifest"))
      assert(e.getMessage.contains("Rewrite the table"), e.getMessage)
    }
  }
}
