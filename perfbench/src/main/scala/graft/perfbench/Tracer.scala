package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work done inside one span: jobs launched directly by it (not by
  * its children), their task totals, and the intervals during which one
  * of its stages was running. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
  var result = 0L
  val stages = mutable.ArrayBuffer.empty[(Double, Double)]

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill; output += o.output; result += o.result
    stages ++= o.stages
  }
}

/** One Spark job: the job group it was launched under (or null), when it
  * started (epoch ms, as Spark stamps it) and its work. */
final class Job(val group: String, val startMs: Long) {
  val work: Work = new Work
  work.jobs = 1
}

/** Benchmark-owned listener: the Spark work of every job, with the job
  * group it was launched under and its start time, so the tracer can
  * attribute it to a span. */
final class WorkListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, Job]()
  // a stage that several jobs share runs under the first of them
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val job = new Job(g, j.time)
    jobs.put(j.jobId, job)
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(t.stageId)
    val m = t.taskMetrics
    if (job != null && m != null) {
      val w = job.work
      w.synchronized {
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.output += m.outputMetrics.bytesWritten
        w.result += m.resultSize
      }
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val job = stageJob.get(i.stageId)
    if (job != null) for (a <- i.submissionTime; b <- i.completionTime) {
      val w = job.work
      w.synchronized(w.stages += ((a.toDouble, b.toDouble)))
    }
  }
}

/** In-memory span recorder. Each span tags the Spark jobs its body
  * launches with its own job group; spans are written out only when the
  * run ends. With tracing off `span` is a plain call.
  *
  * Job groups are thread-local and a new thread inherits its creator's,
  * so a pool thread made inside one span (`IndexBuilder.build` runs jobs
  * from `Future`s) carries that span's group into later calls. A job
  * counts for the span its group names only if it started inside that
  * span; otherwise, or with no group, it counts for the innermost traced
  * span open when it started (or for none). */
final class Tracer(sc: SparkContext, val on: Boolean) {
  import Tracer.Span

  private val listener = if (on) Some(new WorkListener) else None
  listener.foreach(sc.addSparkListener)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds, at nanosecond resolution (stage
    * times from Spark are epoch milliseconds). */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[A](name: String, req: Long = -1)(body: => A): A = if (!on) body else {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup("pb-" + id, name)
    stack.set(id :: outer)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack.set(outer)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      spans.add(Span(id, name, outer.headOption.getOrElse(0), req, t0, t1))
    }
  }

  /** All spans so far, with their listener counts complete. */
  def finished: Seq[Span] = {
    org.apache.spark.PerfBenchBus.drain(sc)
    spans.asScala.toSeq.sortBy(_.id)
  }

  private var attributed: (Int, Map[Int, Seq[Job]], Int) = (-1, Map.empty, 0)

  /** Each span's jobs, and how many jobs had a stale group. */
  private def attribution: (Map[Int, Seq[Job]], Int) = synchronized {
    val all = finished
    val jobs = listener.toSeq.flatMap(_.jobs.values.asScala)
    if (attributed._1 != all.length + jobs.length) {
      val byId = all.map(s => s.id -> s).toMap
      val byStart = all.sortBy(-_.t0)
      var stale = 0
      val pairs = jobs.flatMap { job =>
        val own = Option(job.group).filter(_.startsWith("pb-"))
          .flatMap(g => byId.get(g.drop(3).toInt)).filter(_.covers(job.startMs))
        if (own.isEmpty && job.group != null) stale += 1
        own.orElse(byStart.find(_.covers(job.startMs))).map(_.id -> job)
      }
      attributed = (all.length + jobs.length, pairs.groupMap(_._1)(_._2), stale)
    }
    (attributed._2, attributed._3)
  }

  def work(s: Span): Work = {
    val w = new Work
    attribution._1.getOrElse(s.id, Nil).foreach(j => j.work.synchronized(w += j.work))
    w
  }

  /** Jobs whose group named a span they did not start in. */
  def staleJobs: Int = attribution._2

  /** Jobs the listener saw start inside `s`, whatever span they count for. */
  def jobsDuring(s: Span): Int =
    listener.map(_.jobs.values.asScala.count(j => s.covers(j.startMs))).getOrElse(0)

  def named(name: String): Seq[Span] = finished.filter(_.name == name)

  /** Work of a set of spans, summed. */
  def total(ss: Seq[Span]): Work = {
    val w = new Work
    ss.foreach(s => w += work(s))
    w
  }

  /** The part of the span during which none of its stages ran: serial
    * driver work (planning, collection, merge). */
  def driverMs(s: Span): Double = s.ms - Tracer.covered(s.t0, s.t1, work(s).stages.toSeq)

  /** Duration minus the time its child spans cover. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.ms - Tracer.covered(s.t0, s.t1, all.filter(_.parent == s.id).map(c => (c.t0, c.t1)))

  def write(f: java.io.File): Unit = if (on) {
    val all = finished
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      val w = work(s)
      pw.println(Json.value(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> s.t0, "end_ms" -> s.t1, "self_ms" -> selfMs(s, all),
        "driver_ms" -> driverMs(s), "jobs" -> w.jobs, "tasks" -> w.tasks,
        "task_cpu_ms" -> w.cpuNs / 1e6, "gc_ms" -> w.gcMs,
        "shuffle_write_bytes" -> w.shuffleWrite, "spill_bytes" -> w.spill,
        "output_bytes" -> w.output, "result_bytes" -> w.result)))
    } finally pw.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, req: Long, t0: Double, t1: Double) {
    def ms: Double = t1 - t0
    /** Whether a job that Spark stamped `ms` (whole epoch milliseconds)
      * started inside this span. */
    def covers(ms: Long): Boolean = ms >= t0 - 2 && ms <= t1 + 2
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    var sum = 0.0
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }
}
