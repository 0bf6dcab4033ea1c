package graft.perfbench

import graft.Server
import graft.spark.SparkSearcher

/** `query`: the two kinds of reader on one warm, resident index. The REST
  * phase (`Serve`): independent users sending requests to `Server.serve`
  * over loopback, an open loop at a fixed rate. The batch phase (`Batch`):
  * one closed-loop caller sending new `bm25TopKBatch` and `searchBatch`
  * batches. Each warms up, then their timed blocks alternate; the REST
  * phase gets 75% of the run's seconds (its median needs the most
  * samples), the batch phase the rest. */
object Query {

  private final case class Sizes(docs: Int, setups: Int, serveShare: Double, blocks: Int)

  private def sizes(ctx: Ctx): Sizes =
    if (ctx.conf.smoke) Sizes(600, 1, 0.7, 2) else Sizes(3000, 3, 0.75, 4)

  def run(ctx: Ctx): Unit = {
    val sz = sizes(ctx)
    val seed = ctx.conf.seed
    val lo = Gen.rangeLo(seed)
    val rep = ctx.report

    // set-up, several times: cold caches, build, open, one request of each
    // single-query kind, the first batch of each kind (which fills the
    // serving caches), listen
    var searcher: SparkSearcher = null
    var server: com.sun.net.httpserver.HttpServer = null
    var dir: String = null
    val warmGen = new QueryGen(seed + 1, lo, sz.docs)
    val warmReqs = Seq(Serve.Req("search", warmGen.positional("and")),
      Serve.Req("bm25", warmGen.bm25().mkString(" ")))
    val setupS = (1 to sz.setups).map { k =>
      if (server != null) server.stop(0)
      Engine.coldCaches()
      val t0 = System.nanoTime()
      dir = ctx.dir(s"query-idx-$k")
      Engine.build(ctx, lo, sz.docs, dir)
      searcher = Engine.open(ctx, dir)._1
      warmReqs.foreach(r => Serve.direct(ctx, searcher, r, traced = false))
      Batch.fill(ctx, searcher, warmGen)
      server = Server.serve(searcher, 0, block = false)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.heap.settle()

    try {
      val gen = new QueryGen(seed, lo, sz.docs)
      val rest = new Serve.Phase(ctx, searcher, server.getAddress.getPort, gen)
      val batch = new Batch.Phase(ctx, searcher, gen)
      rest.warm()
      batch.warm()
      // the timed blocks of the two phases alternate, so that each samples
      // the whole run and a slow spell of the host lands in both
      (1 to sz.blocks).foreach { _ =>
        rest.block(ctx.conf.seconds * sz.serveShare / sz.blocks)
        batch.block(ctx.conf.seconds * (1 - sz.serveShare) / sz.blocks)
      }
      val nominal = rest.finish()
      val bm25Qps = batch.finish()
      ctx.heap.settle()

      rep.e("setup_s", Stats.median(setupS), "s")
      rep.e("latency_p50_ms", Stats.median(nominal.latOf("search")), "ms")
      rep.e("throughput_per_s", bm25Qps, "1/s")
      val (contribMb, blockMb) = Engine.residentMb
      rep.info ++= Seq(
        "query.setup_s" -> setupS, "query.docs" -> sz.docs, "index_bytes" -> Files.du(new java.io.File(dir))._1,
        "cache_resident_mb" -> Map("ContribCache" -> contribMb, "BlockCache" -> blockMb))
      if (ctx.conf.trace) Layers.resident(ctx)
    } finally server.stop(0)
  }
}
