package graft.perfbench

/** Per-layer metrics, folded from the traced run's spans. A figure with
  * no spans behind it is not reported; the launcher reports 0 for the
  * layers a workload does not exercise and fails the run when one it does
  * exercise is missing. */
object Layers {

  private val MB = 1048576.0

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** Single-query paths: per-call Spark work of search and bm25, suggest
    * and open latency. */
  def single(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val rep = ctx.report
    for ((p, span) <- Seq("search" -> "SparkSearcher.search", "bm25" -> "SparkSearcher.bm25")) {
      val ss = t.named(span)
      if (ss.nonEmpty) {
        val ws = ss.map(t.work)
        rep.l(s"SparkSearcher.$p.jobs", mean(ws.map(_.jobs.toDouble)), "count")
        rep.l(s"SparkSearcher.$p.tasks", mean(ws.map(_.tasks.toDouble)), "count")
        rep.l(s"SparkSearcher.$p.driver_ms", Stats.median(ss.map(t.driverMs)), "ms")
        rep.l(s"SparkSearcher.$p.task_cpu_ms", mean(ws.map(_.cpuNs / 1e6)), "ms")
      }
    }
    val sug = t.named("SparkSearcher.suggest")
    if (sug.nonEmpty) rep.l("SparkSearcher.suggest_us", 1000 * Stats.median(sug.map(_.ms)), "us")
    val op = t.named("SparkSearcher.open")
    if (op.nonEmpty) rep.l("SparkSearcher.open_ms", Stats.median(op.map(_.ms)), "ms")
  }

  /** Batch paths: per-call Spark work of bm25TopKBatch and searchBatch. */
  def batch(ctx: Ctx): Unit = {
    val t = ctx.tracer
    for ((p, span) <- Seq("bm25_batch" -> "SparkSearcher.bm25TopKBatch",
                          "search_batch" -> "SparkSearcher.searchBatch")) {
      val ss = t.named(span)
      if (ss.nonEmpty) {
        val ws = ss.map(t.work)
        ctx.report.l(s"SparkSearcher.$p.jobs", mean(ws.map(_.jobs.toDouble)), "count")
        ctx.report.l(s"SparkSearcher.$p.driver_s", mean(ss.map(t.driverMs)) / 1e3, "s")
        ctx.report.l(s"SparkSearcher.$p.task_cpu_s", mean(ws.map(_.cpuNs / 1e9)), "s")
        ctx.report.l(s"SparkSearcher.$p.result_mb", mean(ws.map(_.result / MB)), "MB")
      }
    }
  }

  /** Index build: mean per build over the run's set-ups. */
  def build(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val ss = t.named("IndexBuilder.build")
    if (ss.isEmpty) return
    val ws = ss.map(t.work)
    val rep = ctx.report
    rep.l("IndexBuilder.wall_s", Stats.median(ss.map(_.ms)) / 1e3, "s")
    rep.l("IndexBuilder.task_cpu_s", mean(ws.map(_.cpuNs / 1e9)), "s")
    rep.l("IndexBuilder.gc_s", mean(ws.map(_.gcMs / 1e3)), "s")
    rep.l("IndexBuilder.driver_s", mean(ss.map(t.driverMs)) / 1e3, "s")
    rep.l("IndexBuilder.shuffle_write_mb", mean(ws.map(_.shuffleWrite / MB)), "MB")
    rep.l("IndexBuilder.spill_mb", mean(ws.map(_.spill / MB)), "MB")
    rep.l("IndexBuilder.output_mb", mean(ws.map(_.output / MB)), "MB")
    rep.l("IndexBuilder.tasks", mean(ws.map(_.tasks.toDouble)), "count")
    // builds run jobs from pool threads that may carry another span's job
    // group: every job that started during a build must count for it
    ss.zip(ws).foreach { case (s, w) =>
      ctx.verify(w.jobs == t.jobsDuring(s),
        s"IndexBuilder.build span ${s.id}: ${w.jobs} jobs attributed, ${t.jobsDuring(s)} started during it")
    }
  }

  /** Per-call means over the named spans: (wall s, task CPU s, driver-only
    * s, jobs, output MB). */
  def perCall(ctx: Ctx, span: String): Option[(Double, Double, Double, Double, Double)] = {
    val t = ctx.tracer
    val ss = t.named(span)
    if (ss.isEmpty) None
    else {
      val ws = ss.map(t.work)
      Some((mean(ss.map(_.ms)) / 1e3, mean(ws.map(_.cpuNs / 1e9)), mean(ss.map(t.driverMs)) / 1e3,
        mean(ws.map(_.jobs.toDouble)), mean(ws.map(_.output / MB))))
    }
  }

  /** Caches' resident size now. */
  def resident(ctx: Ctx): Unit = {
    val (c, b) = Engine.residentMb
    ctx.report.l("ContribCache.resident_mb", c, "MB")
    ctx.report.l("BlockCache.resident_mb", b, "MB")
  }

  def jvm(ctx: Ctx): Unit = {
    val (gcS, gcN) = ctx.heap.gc
    ctx.report.l("jvm.gc_s", gcS, "s")
    ctx.report.l("jvm.gc_count", gcN.toDouble, "count")
  }
}
