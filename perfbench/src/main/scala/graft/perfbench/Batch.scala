package graft.perfbench

import graft.Server
import graft.query.SearchOptions
import graft.spark.SparkSearcher

/** The batch phase of `query`: one closed-loop caller on a warm, resident
  * index, alternating `bm25TopKBatch` and `searchBatch`. Every batch is a
  * new object of new, never-repeated queries, so no memo keyed on the
  * batch can serve it. */
object Batch {

  /** Queries per batch of each kind, warm-up rounds, and how many timed
    * rounds give a sampled answer to check. */
  final case class Sizes(bm25Batch: Int, searchBatch: Int, warmRounds: Int, checks: Int)

  def sizes(ctx: Ctx): Sizes =
    if (ctx.conf.smoke) Sizes(200, 6, 1, 2) else Sizes(16000, 96, 9, 2)

  val opts: SearchOptions = SearchOptions(dist = 40)

  def bm25Batch(gen: QueryGen, n: Int): Seq[Seq[String]] = Vector.fill(n)(gen.freshBm25())

  def searchBatch(gen: QueryGen, n: Int): Seq[(String, SearchOptions)] =
    Vector.tabulate(n)(i => (gen.freshPositional(gen.positionalKinds(i % gen.positionalKinds.length)), opts))

  /** The set-up's first batch of each kind, which fills the serving caches
    * (any batch fills a whole shard, so small ones suffice). */
  def fill(ctx: Ctx, searcher: SparkSearcher, gen: QueryGen): Unit = {
    val sz = sizes(ctx)
    searcher.bm25TopKBatch(bm25Batch(gen, sz.bm25Batch / 16), 10)
    searcher.searchBatch(searchBatch(gen, math.max(1, sz.searchBatch / 8)))
  }

  /** The batch phase. `warm` runs full-size rounds untimed (both kinds
    * keep getting faster for about ten rounds while the JIT compiles the
    * scorers); each `block` runs timed rounds, one batch of each kind, for
    * `seconds`; `finish` checks a seeded sample of the first timed rounds'
    * answers against the single-query paths, reports, and returns the BM25
    * batch queries per second. */
  final class Phase(ctx: Ctx, searcher: SparkSearcher, gen: QueryGen) {
    private val sz = sizes(ctx)
    private val bm25Ms, searchMs = Vector.newBuilder[Double]
    private val bm25Sample = Vector.newBuilder[(Seq[String], Seq[(Long, Double)])]
    private val searchSample = Vector.newBuilder[(String, graft.query.SearchOut)]
    private var emptyBm25, emptySearch, nBm25, nSearch = 0L
    private var timedRounds = 0

    private def round(timed: Boolean): Unit = {
      val check = timed && timedRounds < sz.checks
      val qs = bm25Batch(gen, sz.bm25Batch)
      ctx.attempt("bm25TopKBatch") {
        ctx.timed("SparkSearcher.bm25TopKBatch", timed)(searcher.bm25TopKBatch(qs, 10))
      }.foreach { case (res, ms) =>
        ctx.verify(res.length == qs.length, "bm25TopKBatch result count")
        if (timed) {
          bm25Ms += ms
          nBm25 += qs.length
          emptyBm25 += res.count(_.isEmpty)
          if (check) { val i = gen.rnd.nextInt(qs.length); bm25Sample += ((qs(i), res(i))) }
        }
      }
      val sq = searchBatch(gen, sz.searchBatch)
      ctx.attempt("searchBatch") {
        ctx.timed("SparkSearcher.searchBatch", timed)(searcher.searchBatch(sq))
      }.foreach { case (res, ms) =>
        ctx.verify(res.length == sq.length, "searchBatch result count")
        if (timed) {
          searchMs += ms
          nSearch += sq.length
          emptySearch += res.count(_.docs.isEmpty)
          if (check) { val i = gen.rnd.nextInt(sq.length); searchSample += ((sq(i)._1, res(i))) }
        }
      }
      if (timed) timedRounds += 1
    }

    def warm(): Unit = (1 to sz.warmRounds).foreach(_ => round(timed = false))

    /** Timed rounds until `seconds` have passed, at least one. */
    def block(seconds: Double): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      round(timed = true)
      while (System.nanoTime() < end) round(timed = true)
    }

    def finish(): Double = {
      val rep = ctx.report
      // the batch scorers equal the single-query paths
      bm25Sample.result().foreach { case (q, batchRes) =>
        ctx.attempt("bm25TopK")(searcher.bm25TopK(q, 10)).foreach { one =>
          ctx.verify(same(one, batchRes), s"bm25TopKBatch != bm25TopK for ${q.mkString(" ")}")
        }
      }
      searchSample.result().foreach { case (q, batchRes) =>
        ctx.attempt("search")(searcher.search(q, opts, withWordInfo = false)).foreach { one =>
          ctx.verify(Server.toJson(one) == Server.toJson(batchRes), s"searchBatch != search for $q")
        }
      }

      val b = bm25Ms.result()
      val s = searchMs.result()
      val bm25Qps = sz.bm25Batch * 1000 / Stats.median(b)
      rep.l("batch.bm25_batch_qps", bm25Qps, "1/s")
      rep.l("batch.search_batch_qps", sz.searchBatch * 1000 / Stats.median(s), "1/s")
      rep.info ++= Seq(
        "batch.bm25_batch_size" -> sz.bm25Batch, "batch.search_batch_size" -> sz.searchBatch,
        "batch.timed_rounds" -> timedRounds,
        "batch.bm25_batch_ms" -> b, "batch.search_batch_ms" -> s, "batch.repeat_share" -> 0.0,
        "batch.empty_share_bm25" -> emptyBm25.toDouble / math.max(1, nBm25),
        "batch.empty_share_search" -> emptySearch.toDouble / math.max(1, nSearch))
      if (ctx.conf.trace) Layers.batch(ctx)
      bm25Qps
    }
  }

  /** Same doc ids in the same order, scores equal to 1e-9 relative. */
  def same(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s1))
    }
}
