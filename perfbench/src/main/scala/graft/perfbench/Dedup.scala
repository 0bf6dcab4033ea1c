package graft.perfbench

import graft.SparkEntry
import graft.fixtures.PagesGen
import org.apache.spark.sql.Row

/** `dedup`: the near-duplicate ops, called through `SparkEntry.queries`,
  * over a generated `documents.parquet` with a seeded share of injected
  * near-duplicates. */
object Dedup {

  /** `secondsPerPass` sets the number of timed passes from the run's
    * seconds. The leak probe runs in the first two passes, so there are at
    * least two warm-up passes. */
  private final case class Sizes(docs: Int, setups: Int, dupShare: Double, warmPasses: Int, secondsPerPass: Double)

  private def sizes(ctx: Ctx): Sizes =
    if (ctx.conf.smoke) Sizes(400, 1, 0.1, 2, 1) else Sizes(800, 3, 0.1, 3, 5)

  val ops: Seq[String] = Seq("dedup_minhash_pairs", "dedup_clusters", "dedup_jaccard_top")

  /** Doc texts: PagesGen bodies of the run's range, skipping the ids whose
    * body is the shared Pickwick paragraph (one giant exact-duplicate
    * group), with `dupShare` of the docs replaced by a copy of an earlier
    * doc with a few words changed. */
  def texts(seed: Long, lo: Long, n: Int, dupShare: Double): IndexedSeq[String] = {
    val rnd = new java.util.Random(seed * 7919L + 3)
    val ids = Iterator.iterate(lo)(_ + 1).filter(_ % 7 != 0).take(n).toIndexedSeq
    val out = new Array[String](n)
    for (k <- 0 until n) {
      out(k) =
        if (k > 0 && rnd.nextDouble() < dupShare) {
          val ws = out(rnd.nextInt(k)).split(" ")
          (0 until 1 + rnd.nextInt(3)).foreach(_ => ws(rnd.nextInt(ws.length)) = PagesGen.vocabWord(rnd.nextInt(10000)))
          ws.mkString(" ")
        } else PagesGen.bodyFor(ids(k))
    }
    out.toIndexedSeq
  }

  private def writeDocuments(ctx: Ctx, texts: IndexedSeq[String], dir: String): Unit = {
    import ctx.spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, if (i % 20 == 19) "ru" else "en", "web", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(ctx.nproc).write.parquet(s"$dir/documents.parquet")
  }

  /** Connected components of `pairs` over `n` docs, each labelled with its
    * smallest doc id. */
  def unionFind(n: Int, pairs: Seq[(Long, Long)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    Array.tabulate(n)(i => find(i).toLong)
  }

  /** Storage held by persisted RDDs, in MB, and their count, once the
    * ContextCleaner has dropped the blocks of RDDs that are unreachable. */
  private def storage(ctx: Ctx): (Double, Int) = {
    ctx.heap.collect()
    val rdds = ctx.spark.sparkContext.getRDDStorageInfo
    (rdds.map(i => i.memSize + i.diskSize).sum / 1048576.0, rdds.length)
  }

  def run(ctx: Ctx): Unit = {
    val sz = sizes(ctx)
    val seed = ctx.conf.seed
    val lo = Gen.rangeLo(seed)
    val rep = ctx.report
    val spark = ctx.spark
    val q = SparkEntry.queries

    // set-up, several times: generate and write the documents table
    var dir: String = null
    val setupS = (1 to sz.setups).map { k =>
      val t0 = System.nanoTime()
      dir = ctx.dir(s"dedup-$k")
      writeDocuments(ctx, texts(seed, lo, sz.docs, sz.dupShare), dir)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.heap.settle()

    def runOp(name: String, traced: Boolean): Option[(Array[Row], Double)] =
      ctx.attempt(name)(ctx.timed(s"ops.$name", traced)(q(name)(spark, dir).collect()))

    // warm-up passes (the first one's output is checked), then the timed
    // passes over the three ops, each equal to the first
    val passMs, tracedMs, plainMs = Vector.newBuilder[Double]
    val opMs = ops.map(_ -> Vector.newBuilder[Double]).toMap
    var first: Map[String, Seq[Row]] = Map.empty
    val held = Vector.newBuilder[(Double, Int)]
    val timedPasses = math.max(1, (ctx.conf.seconds / sz.secondsPerPass).round.toInt)
    var pass = 0
    while (pass < sz.warmPasses + timedPasses) {
      val timed = pass >= sz.warmPasses
      val traced = ctx.conf.trace && timed && (pass - sz.warmPasses) % 2 == 0
      val t0 = System.nanoTime()
      val outs = ops.flatMap { op =>
        val r = runOp(op, traced)
        // leak probe: storage held after the first dedup_clusters and
        // after the second, both in warm-up passes
        if (op == "dedup_clusters" && pass < 2) held += storage(ctx)
        r.map { case (rows, ms) => if (timed) opMs(op) += ms; op -> rows.toSeq }
      }.toMap
      val ms = (System.nanoTime() - t0) / 1e6
      if (outs.size == ops.size && timed) {
        passMs += ms
        (if (traced) tracedMs else plainMs) += ms
      }
      if (pass == 0) {
        first = outs
        check(ctx, sz.docs, outs)
      } else outs.foreach { case (op, rows) =>
        ctx.verify(first.get(op).contains(rows), s"$op differs from its first pass")
      }
      pass += 1
    }
    ctx.heap.settle()

    val p = passMs.result()
    rep.e("setup_s", Stats.median(setupS), "s")
    rep.e("latency_p50_ms", Stats.median(p), "ms")
    rep.e("throughput_per_s", sz.docs * 1000 / Stats.median(p), "1/s")
    rep.l("dedup.dedup_docs_per_s", sz.docs * 1000 / Stats.median(p), "1/s")
    val probe = held.result()
    rep.l("ops.storage_growth_mb", probe(1)._1 - probe(0)._1, "MB")
    val pairs = first.get("dedup_minhash_pairs").map(_.length).getOrElse(0)
    rep.info ++= Seq(
      "dedup.docs" -> sz.docs, "dedup.dup_share" -> sz.dupShare, "dedup.timed_passes" -> (pass - sz.warmPasses),
      "dedup.pass_ms" -> p, "dedup.pairs" -> pairs,
      "dedup.storage_after_clusters" -> probe.map { case (mb, n) => Map("mb" -> mb, "rdds" -> n) },
      "dedup.op_ms" -> opMs.map { case (k, v) => k -> v.result() })

    if (ctx.conf.trace) {
      for (op <- ops) Layers.perCall(ctx, s"ops.$op").foreach(c => rep.l(s"ops.${op}_s", c._1, "s"))
      val all = ops.flatMap(op => ctx.tracer.named(s"ops.$op"))
      val passes = math.max(1, all.length / ops.length)
      val w = ctx.tracer.total(all)
      rep.l("ops.task_cpu_s", w.cpuNs / 1e9 / passes, "s")
      rep.l("ops.shuffle_write_mb", w.shuffleWrite / 1048576.0 / passes, "MB")
      rep.l("ops.jobs", w.jobs.toDouble / passes, "count")
      rep.l("trace.overhead_pct", 100 * (Stats.median(tracedMs.result()) / Stats.median(plainMs.result()) - 1), "%")
    }
  }

  /** dedup_clusters equals a union-find over dedup_minhash_pairs; every
    * jaccard row is one of the candidate pairs. */
  private def check(ctx: Ctx, n: Int, outs: Map[String, Seq[Row]]): Unit = {
    for (pairs <- outs.get("dedup_minhash_pairs"); clusters <- outs.get("dedup_clusters")) {
      val ps = pairs.map(r => (r.getLong(0), r.getLong(1)))
      val uf = unionFind(n, ps)
      ctx.verify(clusters.length == n, s"dedup_clusters has ${clusters.length} rows for $n docs")
      ctx.verify(clusters.forall(r => r.getLong(1) == uf(r.getLong(0).toInt) &&
        r.getBoolean(2) == (r.getLong(0) == r.getLong(1))), "dedup_clusters != union-find over dedup_minhash_pairs")
      ctx.verify(ps.nonEmpty, "no candidate pairs among injected near-duplicates")
      outs.get("dedup_jaccard_top").foreach { top =>
        val set = ps.toSet
        ctx.verify(top.nonEmpty && top.forall(r => set.contains((r.getLong(0), r.getLong(1)))),
          "dedup_jaccard_top rows are not candidate pairs")
      }
    }
  }
}
