package graft.perfbench

import graft.Server
import graft.fixtures.PagesGen
import graft.mem.MemIndex
import graft.query.SearchOptions
import graft.spark.{Compactor, SparkSearcher}
import graft.streaming.StreamingIndexer
import graft.text.HtmlExtract

/** `ingest`: writes beside reads. A bulk build, then rounds of append,
  * reopen on the new snapshot and a small read mix whose first query pays
  * the cold cache fill, then one compaction. */
object Ingest {

  /** `secondsPerRound` sets the number of timed rounds from the run's
    * seconds; a fixed count, not a deadline, because each append adds
    * files that make the next round's reads and appends dearer. */
  private final case class Sizes(baseDocs: Int, setups: Int, appendDocs: Int, warmRounds: Int,
                                 secondsPerRound: Double, readsPerRound: Int, checkTerms: Int, probeDocs: Int)

  private def sizes(ctx: Ctx): Sizes =
    if (ctx.conf.smoke) Sizes(600, 1, 150, 1, 1, 2, 3, 50)
    else Sizes(3000, 3, 300, 3, 4.0, 2, 6, 300)

  def run(ctx: Ctx): Unit = {
    val sz = sizes(ctx)
    val seed = ctx.conf.seed
    val lo = Gen.rangeLo(seed)
    val rep = ctx.report
    val spark = ctx.spark
    val gen = new QueryGen(seed, lo, sz.baseDocs)
    val opts = SearchOptions(dist = 40)

    // set-up, several times: the bulk build of the base corpus
    var dir: String = null
    val setupS = (1 to sz.setups).map { k =>
      Engine.coldCaches()
      dir = ctx.dir(s"ingest-idx-$k")
      Engine.build(ctx, lo, sz.baseDocs, dir) / 1e3
    }
    ctx.heap.settle()

    // rounds of append -> reopen -> reads: warm-up rounds, then the timed
    // rounds; every round is checked
    var searcher = Engine.open(ctx, dir)._1
    var next = lo + sz.baseDocs
    val appendMs, visibleMs, tracedMs, plainMs, freshMs, laterSearchMs, firstBatchMs, laterBatchMs, openMs = Vector.newBuilder[Double]
    var appended, reads, emptyReads = 0L
    val timedRounds = math.max(1, (ctx.conf.seconds / sz.secondsPerRound).round.toInt)
    var roundsStart = 0L
    var round = 0
    while (round < sz.warmRounds + timedRounds) {
      if (round == sz.warmRounds) roundsStart = System.nanoTime()
      // only timed rounds keep their times; in the traced run every other
      // timed round is traced
      val timed = round >= sz.warmRounds
      def keep(b: collection.mutable.Builder[Double, Vector[Double]], ms: Double): Unit = if (timed) b += ms
      val traced = ctx.conf.trace && timed && (round - sz.warmRounds) % 2 == 0
      val before = searcher
      val batchLo = next
      next += sz.appendDocs
      val t0 = System.nanoTime()
      ctx.attempt(s"appendBatch $round") {
        ctx.timed("StreamingIndexer.appendBatch", traced) {
          StreamingIndexer.appendBatch(spark, Gen.pages(spark, batchLo, sz.appendDocs, ctx.nproc),
            dir, Engine.cfg, round.toLong)
        }
      }.foreach { case (n, ms) =>
        keep(appendMs, ms)
        keep(if (traced) tracedMs else plainMs, ms)
        if (timed) appended += n
        ctx.verify(n == sz.appendDocs, s"appendBatch added $n docs, expected ${sz.appendDocs}")
      }
      val (s, oms) = Engine.open(ctx, dir, traced)
      searcher = s
      keep(openMs, oms)
      // reads: the first search after the commit pays the BlockCache fill,
      // the first batch the ContribCache fill; every search is a fresh AND
      // query, so the first and the later ones differ only by the fill
      val qs = Vector.fill(sz.readsPerRound)(gen.freshPositional("and"))
      qs.zipWithIndex.foreach { case (q, i) =>
        ctx.attempt(s"search $q")(ctx.timed("SparkSearcher.search", traced)(searcher.search(q, opts))).foreach {
          case (out, ms) =>
            reads += 1
            if (out.docs.isEmpty) emptyReads += 1
            keep(if (i == 0) freshMs else laterSearchMs, ms)
            // commit-to-visible: append, reopen and the first answer
            if (i == 0) keep(visibleMs, (System.nanoTime() - t0) / 1e6)
        }
        val bq = Vector.fill(64)(gen.freshBm25())
        ctx.attempt("bm25TopKBatch")(ctx.timed("SparkSearcher.bm25TopKBatch", traced)(searcher.bm25TopKBatch(bq, 10))).foreach {
          case (res, ms) =>
            reads += res.length
            emptyReads += res.count(_.isEmpty)
            keep(if (i == 0) firstBatchMs else laterBatchMs, ms)
            ctx.verify(res.length == bq.length, "bm25TopKBatch result count")
        }
      }
      visible(ctx, before, searcher, batchLo, sz)
      round += 1
    }
    val roundsEnd = System.nanoTime()
    ctx.heap.settle()

    // compaction must preserve query results
    val sample = Vector.fill(4)(gen.freshPositional(gen.positionalKinds(gen.rnd.nextInt(4))))
    val bsample = Vector.fill(4)(gen.freshBm25())
    val beforeJson = sample.map(q => Server.toJson(searcher.search(q, opts)))
    val beforeBm25 = searcher.bm25TopKBatch(bsample, 10)
    val compactS = ctx.attempt("compact")(ctx.timed("Compactor.compact")(Compactor.compact(spark, dir))).map(_._2 / 1e3)
    val after = Engine.open(ctx, dir)._1
    sample.zip(beforeJson).foreach { case (q, j) =>
      ctx.attempt(s"search after compact $q")(Server.toJson(after.search(q, opts))).foreach { j2 =>
        ctx.verify(j2 == j, s"compaction changed the result of $q")
      }
    }
    ctx.attempt("bm25 after compact")(after.bm25TopKBatch(bsample, 10)).foreach { res =>
      ctx.verify(res.zip(beforeBm25).forall { case (a, b) => Batch.same(a, b) }, "compaction changed bm25 results")
    }

    // sizes of the compacted snapshot, per table, against the input bytes
    val tables = Engine.tables(dir)
    val inputBytes = Gen.inputBytes(lo, next - lo)
    val indexBytes = tables.values.map(_._1).sum
    val appendTotalS = appendMs.result().sum / 1e3
    val fresh = freshMs.result()
    rep.e("setup_s", Stats.median(setupS), "s")
    rep.e("latency_p50_ms", Stats.median(appendMs.result()), "ms")
    rep.e("throughput_per_s", appended / appendTotalS, "1/s")
    rep.l("ingest.build_docs_per_s", sz.baseDocs / Stats.median(setupS), "1/s")
    rep.l("ingest.append_docs_per_s", appended / appendTotalS, "1/s")
    rep.l("ingest.fresh_read_ms", Stats.median(fresh), "ms")
    compactS.foreach(c => rep.l("ingest.compact_s", c, "s"))
    rep.l("ingest.index_bytes_per_input_byte", indexBytes.toDouble / inputBytes, "ratio")
    rep.info ++= Seq(
      "ingest.repeat_share" -> 0.0, "ingest.empty_share" -> emptyReads.toDouble / math.max(1L, reads),
      "ingest.base_docs" -> sz.baseDocs, "ingest.append_docs" -> sz.appendDocs, "ingest.timed_rounds" -> (round - sz.warmRounds),
      "ingest.rounds_s" -> (roundsEnd - roundsStart) / 1e9,
      "ingest.append_ms" -> appendMs.result(), "ingest.visible_ms" -> visibleMs.result(), "ingest.fresh_read_ms" -> fresh,
      "ingest.later_search_ms" -> laterSearchMs.result(), "ingest.first_batch_ms" -> firstBatchMs.result(),
      "ingest.later_batch_ms" -> laterBatchMs.result(), "ingest.open_ms" -> openMs.result(),
      "index_bytes" -> indexBytes, "input_bytes" -> inputBytes,
      "ingest.tables" -> tables.map { case (t, (b, n)) => t -> Map("bytes" -> b, "files" -> n) })

    if (ctx.conf.trace) {
      val MB = 1048576.0
      Layers.single(ctx)
      Layers.resident(ctx)
      rep.l("BlockCache.fill_ms", Stats.median(fresh) - Stats.median(laterSearchMs.result()), "ms")
      rep.l("ContribCache.fill_ms", Stats.median(firstBatchMs.result()) - Stats.median(laterBatchMs.result()), "ms")
      Layers.perCall(ctx, "StreamingIndexer.appendBatch").foreach { case (w, cpu, drv, jobs, out) =>
        rep.l("StreamingIndexer.wall_s", w, "s")
        rep.l("StreamingIndexer.task_cpu_s", cpu, "s")
        rep.l("StreamingIndexer.driver_s", drv, "s")
        rep.l("StreamingIndexer.jobs", jobs, "count")
        rep.l("StreamingIndexer.output_mb", out, "MB")
      }
      Layers.perCall(ctx, "Compactor.compact").foreach { case (w, cpu, drv, _, out) =>
        rep.l("Compactor.wall_s", w, "s")
        rep.l("Compactor.task_cpu_s", cpu, "s")
        rep.l("Compactor.driver_s", drv, "s")
        rep.l("Compactor.rewritten_mb", out, "MB")
      }
      rep.l("trace.overhead_pct", 100 * (Stats.median(tracedMs.result()) / Stats.median(plainMs.result()) - 1), "%")
      for (t <- Seq("postings", "doctext", "docmeta", "termstats"))
        rep.l(s"IndexStore.${t}_mb", tables.get(t).map(_._1 / MB).getOrElse(Double.NaN), "MB")
      rep.l("IndexStore.files", tables.values.map(_._2).sum.toDouble, "count")
      val (ex, tok) = Engine.textProbe(lo, sz.probeDocs)
      rep.l("text.extract_us_per_doc", ex, "us")
      rep.l("text.tokenize_us_per_doc", tok, "us")
      val (enc, dec) = Engine.varintProbe(seed)
      rep.l("core.varint_encode_mb_s", enc, "MB/s")
      rep.l("core.varint_decode_mb_s", dec, "MB/s")
    }
  }

  /** After an append, the new docs are visible: the doc count grew by the
    * batch, and for a few body words the document frequency grew by what
    * an in-memory index over the batch alone counts. */
  private def visible(ctx: Ctx, before: SparkSearcher, after: SparkSearcher, batchLo: Long, sz: Sizes): Unit = {
    ctx.verify(after.nDocs == before.nDocs + sz.appendDocs,
      s"nDocs ${before.nDocs} -> ${after.nDocs} after appending ${sz.appendDocs}")
    val mem = new MemIndex(after.analyzer)
    (0 until sz.appendDocs).foreach { i =>
      val e = HtmlExtract.extract(PagesGen.htmlFor(batchLo + i))
      mem.addDoc(PagesGen.urlFor(batchLo + i), "", Seq(("1", e.text)))
    }
    val words = new QueryGen(batchLo, batchLo, sz.appendDocs, sample = 20).bm25().take(sz.checkTerms)
    val codes = words.flatMap(w => after.analyzer.wordCodes(w)).distinct
    val d0 = before.dfOf(codes)
    val d1 = after.dfOf(codes)
    codes.foreach { c =>
      ctx.verify(d1.getOrElse(c, 0L) - d0.getOrElse(c, 0L) == mem.df(c),
        s"df($c) grew by ${d1.getOrElse(c, 0L) - d0.getOrElse(c, 0L)}, batch has ${mem.df(c)}")
    }
  }
}
