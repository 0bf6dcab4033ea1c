package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Runs one workload and prints one `PERFBENCH {...}` line: the attempt
  * and failure counts, the end-to-end metrics, the per-layer metrics (in
  * a traced run) and the run record. `perfbench/run.py` builds this and
  * turns the line into the benchmark's result.
  *
  *   Main --workload query|ingest|dedup --seed N --seconds S
  *        --trace 0|1 [--smoke 1] --work DIR --out DIR
  */
object Main {

  val workloads: Map[String, Ctx => Unit] =
    Map("query" -> Query.run, "ingest" -> Ingest.run, "dedup" -> Dedup.run)

  /** Scratch goes where SPARK_LOCAL_DIRS points (the launcher sets it
    * inside the work directory). */
  private def session(nproc: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", math.max(nproc, 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = Conf(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      smoke = kv.getOrElse("smoke", "0") == "1",
      work = new File(kv("work")),
      out = new File(kv("out")))
    val body = workloads.getOrElse(conf.workload,
      throw new IllegalArgumentException(s"unknown workload ${conf.workload}"))
    conf.work.mkdirs()
    conf.out.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val spark = session(nproc, conf.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(conf, spark)
      val rep = ctx.report
      // host supply context: one raw-thread tokenize reading
      val (_, tokUs) = Engine.textProbe(Gen.rangeLo(conf.seed), 200)
      val tb = System.nanoTime()
      body(ctx)
      val bodyS = (System.nanoTime() - tb) / 1e9
      // host supply context after the workload: a warmed single-thread
      // varint decode reading
      val hostProbe = (1 to 3).map(_ => Engine.varintProbe(conf.seed)._2).last
      rep.e("heap_peak_mb", ctx.heap.peakMb, "MB")
      rep.l("fail_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
      Layers.jvm(ctx)
      if (conf.trace) {
        Layers.build(ctx)
        rep.info("trace.stale_group_jobs") = ctx.tracer.staleJobs
      }
      rep.info ++= Seq(
        "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
        "trace" -> conf.trace, "smoke" -> conf.smoke, "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
        "cache_budget_mb" -> Engine.cacheBudgets,
        "host.tokenize_us_per_doc" -> tokUs, "host.varint_decode_mb_s" -> hostProbe,
        "corpus_lo" -> Gen.rangeLo(conf.seed),
        "phase_s" -> Map("jvm_start" -> jvmStartS, "session" -> sessionS, "workload" -> bodyS),
        "failures" -> ctx.notes)
      val stem = s"${conf.workload}-seed${conf.seed}${if (conf.trace) "-trace" else ""}"
      ctx.tracer.write(new File(conf.out, s"spans-$stem.jsonl"))
      def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
        m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }
      val line = Json.value(mutable.LinkedHashMap[String, Any](
        "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "end_to_end" -> metrics(rep.e2e), "per_layer" -> metrics(rep.layer), "info" -> rep.info))
      val pw = new java.io.PrintWriter(new File(conf.out, s"record-$stem.json"), "UTF-8")
      try pw.println(line) finally pw.close()
      println("PERFBENCH " + line)
    } finally spark.stop()
  }
}
