package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** One reported number: value plus unit. */
final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method); NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of the usual percentiles that keeps at least ten
    * samples beyond it (p50 when the sample is smaller than that rule
    * allows): (percentile, value). */
  def topPercentile(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val pct = Seq(99, 95, 90, 75, 50)
      .find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)
    (pct, quantile(xs, pct / 100.0))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  /** Render nested Maps / Seqs / scalars. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Metric => render(Seq("value" -> m.value, "unit" -> m.unit))
    case m: Map[_, _] if m.isEmpty => "{}"
    case m: Map[_, _] => render(m.toSeq.sortBy(_._1.toString))
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

object Fs {
  def path(p: String): Path = Paths.get(p)

  /** Every path under `p` (itself included), closing the directory stream. */
  def walk(p: Path): Seq[Path] =
    scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  /** The names of `dir`'s entries, sorted, closing the directory stream. */
  def names(dir: String): Seq[String] =
    scala.util.Using.resource(Files.list(path(dir)))(
      _.iterator().asScala.map(_.getFileName.toString).toList.sorted)

  def rmrf(p: String): Unit = {
    val root = path(p)
    if (Files.exists(root)) {
      walk(root).reverse.foreach(Files.deleteIfExists(_))
    }
  }

  def mkdirs(p: String): String = { Files.createDirectories(path(p)); p }

  def copyTree(from: String, to: String): Unit = {
    val src = path(from)
    val dst = path(to)
    walk(src).foreach { f =>
      val t = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Regular data files under `p` (Hadoop checksum files excluded):
    * relative path -> (size, mtime). */
  def listing(p: String): Map[String, (Long, Long)] = {
    val root = path(p)
    if (!Files.exists(root)) Map.empty
    else walk(root)
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      .map(f => root.relativize(f).toString ->
        (Files.size(f), Files.getLastModifiedTime(f).toMillis))
      .toMap
  }

  /** Move the single `part-*` file of a one-partition Spark write to
    * `dest` (atomic rename within one filesystem). */
  def movePart(sparkOut: String, dest: String): Unit = {
    val parts = names(sparkOut).filter(_.startsWith("part-"))
    require(parts.size == 1, s"expected one part file in $sparkOut, found ${parts.size}")
    Files.move(path(s"$sparkOut/${parts.head}"), path(dest), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Order-sensitive SHA-256 over generated input records. */
final class InputHash {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): this.type = {
    md.update(s.getBytes("UTF-8")); md.update(0.toByte); this
  }
  def hex: String = md.digest().map("%02x".format(_)).mkString
}

object Timer {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
