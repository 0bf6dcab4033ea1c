package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One run's settings, from the command line. `smoke` shrinks every size
  * so every workload finishes in seconds. */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    smoke: Boolean,
    work: File,
    out: File)

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Order statistics over latency samples. */
object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it: (percentile, value, sample count). Below forty
    * samples that is the median. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val ps = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    val p = ps.find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100), n)
  }
}

/** Named metrics of one run, in insertion order, each with its unit. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def e(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  /** A per-layer figure; one with no samples behind it (NaN) is written
    * as null, which the launcher treats as missing. */
  def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
}

/** Everything a workload needs: the session, the tracer, the report and
  * the attempt/failure counters that feed `fail_ratio`. */
final class Ctx(val conf: Conf, val spark: SparkSession) {
  val tracer = new Tracer(spark.sparkContext, conf.trace)
  val report = new Report
  val heap = new HeapWatch
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  private val attempts = new AtomicLong
  private val failures = new AtomicLong
  private val failNotes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def attempted: Long = attempts.get()
  def failed: Long = failures.get()
  def notes: Seq[String] = { import scala.jdk.CollectionConverters._; failNotes.asScala.toSeq }

  def fail(what: String): Unit = {
    failures.incrementAndGet()
    if (failNotes.size < 20) failNotes.add(what)
  }

  /** A timed or checked operation: counts as attempted; an exception
    * counts as failed and yields None. */
  def attempt[A](what: => String)(body: => A): Option[A] = {
    attempts.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
  }

  /** A correctness check: counts as attempted, and as failed when false. */
  def verify(ok: Boolean, what: => String): Unit = {
    attempts.incrementAndGet()
    if (!ok) fail(s"wrong answer: $what")
  }

  def dir(name: String): String = {
    val d = new File(conf.work, name)
    Files.rmrf(d)
    d.getAbsolutePath
  }

  /** The layer-call timer: a span when tracing is on, otherwise only the
    * wall clock. Returns (result, milliseconds). */
  def timed[A](name: String, traced: Boolean = true)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = if (traced) tracer.span(name)(body) else body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Files {
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Total bytes and file count under `f`. */
  def du(f: File): (Long, Int) =
    if (f.isFile) (f.length(), 1)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

/** Peak heap after GC: the live heap after a full collection, taken at
  * the end of each phase (set-up, timed work), when the index, the
  * serving caches and the phase's results are all still reachable. A
  * young collection's after-GC figure also counts garbage not yet
  * collected from the old generation, so only full collections count.
  * The second collection follows Spark's ContextCleaner, which frees
  * blocks of RDDs the first one found unreachable. */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private var peak = 0L

  /** Full collection, then time for the ContextCleaner to drop what the
    * first one found unreachable, then another. */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** `collect`, then read the live heap into the peak. */
  def settle(): Unit = {
    collect()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1048576.0

  def gc: (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum / 1e3, bs.map(_.getCollectionCount).sum)
  }
}

/** Seeded inputs. `PagesGen` has a fixed internal seed, so the run seed
  * picks the doc-id range the corpus is cut from and seeds the query and
  * duplicate generators; the engine only ever sees the generated rows. */
object Gen {
  import graft.fixtures.PagesGen

  /** First doc id of the run's corpus: one of 2000 disjoint ranges. */
  def rangeLo(seed: Long): Long = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17).nextInt(2000) * 100000L

  def pages(spark: SparkSession, lo: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(lo, lo + n, 1, parts).map { i =>
      val ts = new java.sql.Timestamp(1767225600000L + i * 37000L)
      val lang = if (i % 20 == 19) "ru" else "en"
      graft.spark.PageRowIn(PagesGen.urlFor(i), ts, PagesGen.htmlFor(i).getBytes(UTF_8), null, lang)
    }.toDF()
  }

  def inputBytes(lo: Long, n: Long): Long = {
    var b = 0L
    var i = lo
    while (i < lo + n) { b += PagesGen.htmlFor(i).getBytes(UTF_8).length; i += 1 }
    b
  }
}
