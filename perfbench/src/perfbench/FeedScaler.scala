package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Reference-size raw feeds: the unscaled `FixtureGen` corpus replicated
  * ×k, plus one new dated partition per refresh day.
  *
  * Copy 0 keeps every original id; copy c ≥ 1 suffixes every non-empty id
  * with `x<c>` in every feed that carries one (id map, NFBC players,
  * projections, rosters, ADP), so joins resolve within a copy exactly as
  * they do at ×1. The two ids the models exclude by literal (`9810`,
  * `19755`) therefore stay excluded in copy 0 only. Standings leagues are
  * replicated (`L1` → `L1x<c>`) inside the same format files, which leaves
  * the per-format SGP factors unchanged.
  *
  * The scaler works on the files `FixtureGen` writes, so it follows any
  * change to the fixture's layout without a second generator to keep in
  * step. */
object FeedScaler {

  /** Which fields of a feed's rows are player ids (or league keys). */
  private def idFields(rel: String): Seq[Int] =
    if (rel.startsWith("mapping/")) 0 to 5
    else if (rel.startsWith("nfbc/standings/")) Seq(1, 3)
    else Seq(0)

  def suffix(v: String, c: Int): String =
    if (c == 0 || v.isEmpty) v else s"${v}x$c"

  /** Splits one delimited line into raw fields, keeping quotes. */
  def split(line: String, sep: Char): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    line.foreach { ch =>
      if (ch == '"') { quoted = !quoted; cur += ch }
      else if (ch == sep && !quoted) { out += cur.result(); cur.clear() }
      else cur += ch
    }
    out += cur.result()
    out.result()
  }

  private def sepOf(p: Path): Char =
    if (p.toString.endsWith(".tsv")) '\t' else ','

  private def readLines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), UTF_8).split("\n", -1).toSeq

  private def writeLines(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("\n").getBytes(UTF_8))
  }

  private def files(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)

  /** Rewrites the id fields of `row` for copy `c`. */
  private def rewrite(rel: String, row: String, sep: Char, c: Int): String = {
    val f = split(row, sep)
    val ids = idFields(rel).toSet
    f.indices.map(i => if (ids(i)) suffix(f(i), c) else f(i)).mkString(sep.toString)
  }

  /** Writes FixtureGen's corpus for `noiseSeed` under `out`, replicated ×k.
    * Returns the number of raw data rows written. */
  def generate(out: String, k: Int, noiseSeed: Int): Long = {
    require(k >= 1, s"scale must be >= 1, got $k")
    val base = Files.createTempDirectory("perfbench-fixture")
    graft.pipeline.FixtureGen.generate(base.toString, noiseSeed)
    var rows = 0L
    files(base).foreach { p =>
      val rel = base.relativize(p).toString
      val lines = readLines(p)
      val body = lines.tail.filter(_.nonEmpty)
      val scaled = (0 until k).flatMap(c => body.map(rewrite(rel, _, sepOf(p), c)))
      rows += scaled.size
      writeLines(Paths.get(out).resolve(rel), lines.head +: scaled)
    }
    Files.walk(base).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    rows
  }

  /** The calendar date refresh day `day` (1-based) lands on: after every
    * snapshot the fixture carries, so each new partition is the latest. */
  def dateOf(day: Int): java.time.LocalDate =
    java.time.LocalDate.of(2026, 2, 12).plusDays(day.toLong)

  private def datedDir(feed: String, d: java.time.LocalDate): String =
    s"$feed/year=${d.getYear}/month=${d.getMonthValue}/day=${d.getDayOfMonth}"

  /** Deterministic per-(seed, day, file, row) draw in [0, 1). */
  private def draw(seed: Long, day: Int, file: String, row: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, day, file, row))
    ((h & 0x7fffffff) % 100000) / 100000.0
  }

  private val HitSystems: Seq[String] = Seq("steamer", "atc", "thebat-x", "oopsy", "depthcharts")

  /** Lands refresh day `day`: a new snapshot of all five FanGraphs hitting
    * projection files and of both NFBC ADP files, copied from the scaled
    * base snapshot with about a tenth of the rows perturbed by the seed.
    * Returns the number of raw rows landed. */
  def landDay(out: String, seed: Long, day: Int): Long = {
    val root = Paths.get(out)
    val date = dateOf(day)
    var rows = 0L
    def land(src: String, dstDir: String, file: String)(perturb: (Vector[String], Double) => Vector[String]): Unit = {
      val p = root.resolve(s"$src/$file")
      val sep = sepOf(p)
      val lines = readLines(p).filter(_.nonEmpty)
      val body = lines.tail.zipWithIndex.map { case (row, i) =>
        val u = draw(seed, day, file, i)
        val f = split(row, sep)
        (if (u < 0.1) perturb(f, u) else f).mkString(sep.toString)
      }
      rows += body.size
      writeLines(root.resolve(s"$dstDir/$file"), lines.head +: body)
    }
    val hitSrc = "fangraphs/projections/preseason/hitting/year=2026/month=2/day=10"
    val hitDst = datedDir("fangraphs/projections/preseason/hitting", date)
    // playerid,pa,ab,h,x1b,x2b,x3b,r,hr,rbi,sb,…: bump r/hr/rbi/sb counts
    HitSystems.foreach(s => land(hitSrc, hitDst, s"$s-hit.csv") { (f, u) =>
      val bump = 1 + (u * 40).toInt % 4
      f.zipWithIndex.map { case (v, i) =>
        if (i >= 7 && i <= 10) (v.toInt + bump).toString else v
      }
    })
    val adpDst = datedDir("nfbc/adp", date)
    // playerid adp min_pick max_pick: shift the ADP inside its pick range
    Seq("day=11" -> "OC_ADP.tsv", "day=12" -> "Fifties_ADP.tsv").foreach {
      case (d, file) => land(s"nfbc/adp/year=2026/month=2/$d", adpDst, file) { (f, u) =>
        val lo = f(2).toDouble
        val hi = f(3).toDouble
        f.updated(1, String.format(java.util.Locale.ROOT, "%.1f",
          Double.box(lo + (hi - lo) * u * 10)))
      }
    }
    rows
  }

  /** Raw bytes under a directory tree. */
  def bytesUnder(dir: String): Long =
    files(Paths.get(dir)).map(Files.size).sum
}
