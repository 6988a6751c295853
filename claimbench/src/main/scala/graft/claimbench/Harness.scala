package graft.claimbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark runner (`run.py` builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    inputs: String,
    work: String,
    out: String,
    cores: Int,
    setups: Int,
    baseCache: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("inputs"), need("work"), need("out"),
      need("cores").toInt, m.getOrElse("setups", "3").toInt,
      m.getOrElse("base-cache", ""))
  }
}

/** Raw results of one run: latency samples per operation kind,
  * attempted/failed operation counts, named checks, and counters.
  * Percentiles and medians are computed by `run.py`.
  *
  * Samples of a pass are held back until the pass's output checks
  * have run ([[Pass.commit]]): an operation that threw, or whose output
  * a check found wrong, is counted failed and never becomes a sample.
  */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val errors = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def add(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += v

  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  def set(name: String, v: Double): Unit = counters(name) = v

  /** Records a named check; returns whether it held. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  def error(kind: String, e: Throwable): Unit = {
    failed += 1
    if (errors.length < 20)
      errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        .take(400)
  }

  /** A unit of work whose samples commit together. */
  final class Pass(val index: Int, val traced: Boolean) {
    private val pending = ArrayBuffer.empty[(String, Double)]
    private var ops = 0
    private var bad = 0

    /** No operation of the pass has failed so far. */
    def clean: Boolean = bad == 0

    /** Times `f` as one operation of `kind`; `valid` inspects the result
      * (None = correct). Returns the result only when `f` did not throw.
      */
    def op[T](kind: String)(f: => T)(valid: T => Option[String] =
        (_: T) => None): Option[T] = {
      attempted += 1
      ops += 1
      val t0 = System.nanoTime()
      val r = try Right(f) catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      r match {
        case Left(e) =>
          error(kind, e); bad += 1; None
        case Right(v) =>
          valid(v) match {
            case None => pending += ((kind, dt))
            case Some(why) =>
              failed += 1; bad += 1
              check(s"$kind output", ok = false, why)
          }
          Some(v)
      }
    }

    /** Commits the held samples when the pass's checks held; otherwise
      * every still-good operation of the pass counts as failed.
      */
    def commit(ok: Boolean): Unit =
      if (ok) pending.foreach { case (k, v) => add(k, v) }
      else failed += ops - bad
  }
}

/** Peak heap live set: the largest heap occupancy measured after full
  * collections, taken at the end of every pass and of the run. The
  * Spark driver JVM holds the executors in local mode, so this is the
  * whole engine's retained heap. A polled or per-collection `used`
  * figure mostly measures when the collector happened to run.
  */
object HeapWatch {
  private var peak = 0L

  /** Reads the heap after the fourth of four spaced full collections.
    * Objects freed only through a collection's reference processing
    * (Spark's ContextCleaner, cleaners) survive the first one or two:
    * one reading right after a single collection was 20–65 MB higher
    * on some runs of the same code, and stable from the third on.
    */
  def sample(): Unit = {
    (1 until 4).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peak) peak = used
  }

  def peakMb(): Double = { sample(); peak / (1024.0 * 1024.0) }
}

object Fs {
  def bytesUnder(dirs: String*): Long = dirs.map { d =>
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
  }.sum

  def files(dir: String, suffix: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Restores a store tree: parquet data files are hard-linked (the
    * library never rewrites one in place — it writes new files and
    * deletes old ones), every other file (markers, journals, checksums)
    * is copied, since those can be rewritten in place.
    */
  def restore(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else if (f.getFileName.toString.endsWith(".parquet"))
        Files.createLink(t, f)
      else Files.copy(f, t)
    } finally s.close()
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .toSeq.filter(_.nonEmpty)

  def props(path: String): Map[String, String] =
    lines(path).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap

  def mkdirs(p: String): String = {
    Files.createDirectories(Paths.get(p)); p
  }
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))
}

object Session {
  def build(a: Args): SparkSession = {
    val local = Fs.mkdirs(s"${a.work}/spark-local")
    // Persisted vector/LSH/dedup stores start empty under the run dir.
    System.setProperty("graft.index.root", Fs.mkdirs(s"${a.work}/index"))
    // Room for the innermost library frame in every stage's call site.
    System.setProperty("spark.callstack.depth", "64")
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"claimbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
  }
}

/** Seconds since `t0` (nanoTime). */
object Clock {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, since(t0))
  }
}
