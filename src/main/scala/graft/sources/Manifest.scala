package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** One published [[SnapshotTable]] log entry: its header map and its
  * body — the version's FULL content, or a DELTA against version
  * `base` (the entries removed from and added to the base's content).
  * Branch manifests are full-body entries no reader resolves as a
  * version. */
final case class Manifest(meta: Map[String, String], body: Manifest.Body) {

  /** Content of a full-body manifest (branch manifests always are). */
  def snapshot: Manifest.Snapshot = body match {
    case Manifest.Full(s) => s
    case d: Manifest.Delta => sys.error(s"a delta against v${d.base} is not a full snapshot")
  }
}

/** The on-disk format of the [[SnapshotTable]] log, kept in one place: the
  * typed model of what a manifest says, and the one encoder/decoder pair
  * for every file under `_manifests/` — version and branch manifests,
  * the parquet checkpoint's `line` rows, the file names, and the header
  * values that have inner structure. No other code builds or parses
  * manifest text.
  *
  * Format 2, UTF-8 text, one entry per '\n'-terminated line:
  *  - headers `#key=value`, sorted by key; a delta body adds
  *    `#base=<version>`, and every manifest carries `#format=2`;
  *  - a full body lists the data files (relative paths), then the
  *    deletion-vector sidecars as `~<path>`, then the per-file stats as
  *    `%<col>|<min>|<max>|<file>`;
  *  - a delta body lists the removed and added entries of each kind as
  *    `-<entry>` / `+<entry>`: files, then DVs, then stats;
  *  - a stat value is a decimal long or `s:` + the URL-encoded string,
  *    so a '|', a newline or a numeric-looking string can never leak
  *    into the line structure, and the file path is the last field, so
  *    a '|' in a partition value cannot break the split.
  * The parquet checkpoint stores a full body, one `line` row per entry.
  *
  * Format 1 (headerless, stats as `col|file|min|max`, DV addresses
  * URI-escaped) is not read: [[decode]] refuses a manifest without
  * `#format=2` rather than let escaped DV addresses silently stop
  * matching the decoded scan addresses. */
object Manifest {

  /** A per-file min/max value: numeric columns keep exact longs,
    * string columns lexicographic strings. */
  sealed trait StatValue
  final case class LongStat(v: Long) extends StatValue
  final case class StringStat(v: String) extends StatValue

  /** Min/max of column `col` over data file `file` — the data-skipping
    * index entry. */
  final case class FileStat(col: String, file: String, min: StatValue,
      max: StatValue)

  /** A version's complete content: data files, DV sidecars and stats,
    * each in manifest order. */
  final case class Snapshot(files: Seq[String] = Nil, dvs: Seq[String] = Nil,
      stats: Seq[FileStat] = Nil) {

    /** This content with entries appended. */
    def plus(files: Seq[String] = Nil, dvs: Seq[String] = Nil,
        stats: Seq[FileStat] = Nil): Snapshot =
      Snapshot(this.files ++ files, this.dvs ++ dvs, this.stats ++ stats)

    /** The stats of the files in `kept` — stats address immutable
      * files, so they stay valid exactly while their file is listed. */
    def statsOf(kept: Seq[String]): Seq[FileStat] = {
      val keep = kept.toSet
      stats.filter(s => keep.contains(s.file))
    }

    /** This content with a delta applied: removals by set, additions
      * appended in their order. */
    def applyDelta(removed: Snapshot, added: Snapshot): Snapshot = {
      def ap[A](base: Seq[A], rem: Seq[A], add: Seq[A]): Seq[A] = {
        val r = rem.toSet
        base.filterNot(r.contains) ++ add
      }
      Snapshot(ap(files, removed.files, added.files),
        ap(dvs, removed.dvs, added.dvs), ap(stats, removed.stats, added.stats))
    }

    /** The (removed, added) delta that rebuilds this content from
      * `prev` through [[applyDelta]], or None when no delta can (a
      * reorder) — then the writer publishes a full body. */
    def deltaFrom(prev: Snapshot): Option[(Snapshot, Snapshot)] = {
      def d[A](p: Seq[A], now: Seq[A]): Option[(Seq[A], Seq[A])] = {
        val (ps, ns) = (p.toSet, now.toSet)
        val removed = p.filterNot(ns.contains)
        val added = now.filterNot(ps.contains)
        val rs = removed.toSet
        if (p.filterNot(rs.contains) ++ added == now) Some((removed, added))
        else None
      }
      for {
        (fr, fa) <- d(prev.files, files)
        (dr, da) <- d(prev.dvs, dvs)
        (sr, sa) <- d(prev.stats, stats)
      } yield (Snapshot(fr, dr, sr), Snapshot(fa, da, sa))
    }
  }

  sealed trait Body
  final case class Full(snap: Snapshot) extends Body
  final case class Delta(base: Long, removed: Snapshot, added: Snapshot)
    extends Body

  val FormatKey = "format"
  val CurrentFormat = "2"
  private val BaseKey = "base"
  private val DvMark = '~'
  private val StatMark = '%'
  private val StrStatMark = "s:"

  // ---- text -----------------------------------------------------------

  def encode(m: Manifest): Array[Byte] = {
    val header = m.body match {
      case Delta(base, _, _) => m.meta + (BaseKey -> base.toString)
      case _: Full => m.meta
    }
    val body = m.body match {
      case Full(s) => bodyLines(s)
      case Delta(_, r, a) =>
        def signed(rem: Seq[String], add: Seq[String]): Iterator[String] =
          rem.iterator.map("-" + _) ++ add.iterator.map("+" + _)
        signed(r.files, a.files) ++
          signed(r.dvs.map(dvLine), a.dvs.map(dvLine)) ++
          signed(r.stats.map(statLine), a.stats.map(statLine))
    }
    val sb = new StringBuilder
    (header.toSeq.sorted.iterator.map { case (k, v) => s"#$k=$v" } ++ body)
      .foreach(l => sb.append(l).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  /** Decode manifest bytes; `where` names the file in errors. Refuses a
    * manifest without `#format=2` (see the format note above). */
  def decode(bytes: Array[Byte], where: String): Manifest = {
    val meta = Map.newBuilder[String, String]
    val body = Seq.newBuilder[String]
    new String(bytes, UTF_8).split('\n').foreach { l =>
      if (l.startsWith("#")) {
        val i = l.indexOf('=')
        if (i > 0) meta += l.substring(1, i) -> l.substring(i + 1)
      } else if (l.nonEmpty) body += l
    }
    val m = meta.result()
    if (!m.get(FormatKey).contains(CurrentFormat))
      throw new IllegalStateException(
        s"$where has no #$FormatKey=$CurrentFormat header: it was written " +
          "by a pre-format-2 revision (stats in col|file|min|max order, " +
          "deletion-vector addresses URI-escaped), which this revision " +
          "does not read — its DVs would silently stop applying in escaped " +
          "partitions. Rewrite the table (read the snapshot with the " +
          "revision that wrote it, write() it fresh) before reading it here.")
    val lines = body.result()
    m.get(BaseKey) match {
      case None => Manifest(m, Full(snapshotOf(lines)))
      case Some(base) =>
        def side(sign: Char) =
          snapshotOf(lines.collect { case l if l.charAt(0) == sign => l.substring(1) })
        Manifest(m - BaseKey, Delta(base.toLong, side('-'), side('+')))
    }
  }

  /** The checkpoint's `line` rows of a full snapshot. */
  def checkpointRows(s: Snapshot): Iterator[String] = bodyLines(s)

  def fromCheckpointRows(rows: Seq[String]): Snapshot = snapshotOf(rows)

  private def bodyLines(s: Snapshot): Iterator[String] =
    s.files.iterator ++ s.dvs.iterator.map(dvLine) ++ s.stats.iterator.map(statLine)

  private def dvLine(dv: String): String = s"$DvMark$dv"

  private def statLine(s: FileStat): String =
    s"$StatMark${s.col}|${statValue(s.min)}|${statValue(s.max)}|${s.file}"

  private def statValue(v: StatValue): String = v match {
    case LongStat(x) => x.toString
    case StringStat(x) => StrStatMark + java.net.URLEncoder.encode(x, "UTF-8")
  }

  private def parseStatValue(raw: String): StatValue =
    if (raw.startsWith(StrStatMark))
      StringStat(java.net.URLDecoder.decode(raw.substring(StrStatMark.length), "UTF-8"))
    else LongStat(raw.toLongOption.getOrElse(
      throw new IllegalStateException(s"corrupt manifest stat value '$raw'")))

  private def snapshotOf(lines: Seq[String]): Snapshot = {
    val files = Seq.newBuilder[String]
    val dvs = Seq.newBuilder[String]
    val stats = Seq.newBuilder[FileStat]
    lines.foreach { l =>
      if (l.nonEmpty && l.charAt(0) == DvMark) dvs += l.substring(1)
      else if (l.nonEmpty && l.charAt(0) == StatMark)
        l.substring(1).split("\\|", 4) match {
          case Array(c, mn, mx, f) =>
            stats += FileStat(c, f, parseStatValue(mn), parseStatValue(mx))
          case _ => throw new IllegalStateException(s"corrupt manifest stat line '$l'")
        }
      else files += l
    }
    Snapshot(files.result(), dvs.result(), stats.result())
  }

  /** Stats column names may not contain the stat field separator. */
  def requireStatsColumn(c: String): Unit =
    require(!c.contains("|"),
      s"stats column name '$c' contains the stats-line delimiter '|'")

  // ---- file names under _manifests/ -----------------------------------

  def versionFile(v: Long): String = s"v$v.manifest"
  def versionOf(name: String): Option[Long] = numberIn(name, "v", ".manifest")

  def checkpointFile(v: Long): String = s"ckpt.v$v.parquet"
  def checkpointOf(name: String): Option[Long] = numberIn(name, "ckpt.v", ".parquet")

  /** The vacuum low watermark: an empty marker file. */
  def watermarkFile(v: Long): String = s"low.v$v.watermark"
  def watermarkOf(name: String): Option[Long] = numberIn(name, "low.v", ".watermark")

  def branchFile(branch: String): String = s"branch.$branch.manifest"
  def isBranchFile(name: String): Boolean =
    name.startsWith("branch.") && name.endsWith(".manifest")

  /** Staging name for `dest` — never resolved by a reader. */
  def tmpFile(dest: String): String =
    s".$dest.${java.util.UUID.randomUUID().toString.take(8)}.tmp"

  private def numberIn(name: String, pre: String, suf: String): Option[Long] =
    if (name.length > pre.length + suf.length && name.startsWith(pre) &&
        name.endsWith(suf))
      name.substring(pre.length, name.length - suf.length).toLongOption
    else None

  // ---- header values with inner structure -------------------------------

  /** `lastbatch.<queryId>` value: the last applied batch id and the
    * version that applied it. */
  def lastBatch(batchId: Long, version: Long): String = s"$batchId:$version"
  def parseLastBatch(v: String): (Long, Long) =
    v.split(":", 2) match { case Array(b, ver) => (b.toLong, ver.toLong) }

  /** `batch` value: the per-commit tag of one streaming batch. */
  def batchTag(queryId: String, batchId: Long): String = s"$queryId/$batchId"

  /** `statscols` value: the registered skipping columns, comma-separated. */
  def statsCols(cols: Seq[String]): String = cols.mkString(",")
  def parseStatsCols(v: String): Seq[String] = v.split(',').toSeq.filter(_.nonEmpty)
}
