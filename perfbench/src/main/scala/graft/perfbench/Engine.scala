package graft.perfbench

import graft.core.{DocTokenizer, Varint}
import graft.fixtures.PagesGen
import graft.spark.{BlockCache, ContribCache, IndexBuilder, IndexStore, SparkSearcher}
import graft.text.{Analyzer, HtmlExtract}

/** Calls into the engine's public functions that several workloads share. */
object Engine {
  /** The doc-bucket width the engine's own bench builds with. */
  val cfg: IndexBuilder.BuildConfig = IndexBuilder.BuildConfig(bucketBits = 9)

  /** Drop the executor-resident serving caches, so the next reads pay the
    * cold fill. */
  def coldCaches(): Unit = {
    ContribCache.clear()
    BlockCache.clear()
    SparkSearcher.forgetServingWarmth()
  }

  def build(ctx: Ctx, lo: Long, n: Long, dir: String): Double =
    ctx.timed("IndexBuilder.build") {
      IndexBuilder.build(ctx.spark, Gen.pages(ctx.spark, lo, n, ctx.nproc), dir, cfg)
    }._2

  def open(ctx: Ctx, dir: String, traced: Boolean = true): (SparkSearcher, Double) =
    ctx.timed("SparkSearcher.open", traced)(SparkSearcher.open(ctx.spark, dir))

  /** Bytes and file count of each table the current snapshot lists. */
  def tables(dir: String): Map[String, (Long, Int)] = {
    val snap = IndexStore.readSnapshot(dir).getOrElse(throw new IllegalStateException(s"no snapshot in $dir"))
    snap.files.map { case (t, fs) =>
      t -> (fs.map(f => new java.io.File(dir, f).length()).sum, fs.length)
    }
  }

  def cacheBudgets: Map[String, Double] = Map(
    "ContribCache_mb" -> ContribCache.maxBytes / 1048576.0,
    "BlockCache_mb" -> BlockCache.maxBytes / 1048576.0)

  def residentMb: (Double, Double) =
    (ContribCache.totalBytes / 1048576.0, BlockCache.totalBytes / 1048576.0)

  /** Mean microseconds per doc of `f` over `docs`, after one warm pass. */
  private def usPerDoc[A](docs: Seq[A])(f: A => Any): Double = {
    docs.foreach(f)
    val t0 = System.nanoTime()
    docs.foreach(f)
    (System.nanoTime() - t0) / 1e3 / docs.length
  }

  /** Single-thread extraction and tokenization cost per doc over `n` docs
    * of the run's range: (extract us/doc, tokenize us/doc). */
  def textProbe(lo: Long, n: Int): (Double, Double) = {
    val an = Analyzer()
    val html = (0 until n).map(i => PagesGen.htmlFor(lo + i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val extract = usPerDoc(html)(HtmlExtract.extract(_: Array[Byte]))
    val texts = html.map(h => HtmlExtract.extract(h).text)
    val tokenize = usPerDoc(texts)(t => DocTokenizer.indexGrouped(an, "", Seq(("1", t))))
    (extract, tokenize)
  }

  /** Varint throughput on doc-id-like ascending arrays:
    * (encode MB/s, decode MB/s), MB counted as encoded bytes. */
  def varintProbe(seed: Long): (Double, Double) = {
    val rnd = new java.util.Random(seed)
    val arrays = Array.fill(2000) {
      var v = 0L
      Array.fill(256) { v += 1 + rnd.nextInt(300); v }
    }
    val enc = arrays.map(a => Varint.encode(a))
    val bytes = enc.map(_.length.toLong).sum.toDouble
    def rate(reps: Int)(body: => Unit): Double = {
      body
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { body; r += 1 }
      bytes * reps / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
    }
    val e = rate(5)(arrays.foreach(a => Varint.encode(a)))
    var sink = 0L
    val d = rate(5) {
      var i = 0
      while (i < enc.length) { sink += Varint.decode(enc(i), 256).length; i += 1 }
    }
    require(sink > 0)
    (e, d)
  }
}
