package graft.perfbench

import graft.Server
import graft.query.{QueryParser, SearchOptions}
import graft.spark.SparkSearcher
import java.net.{HttpURLConnection, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The REST phase of `query`: independent users sending requests to
  * `Server.serve` over loopback, as an open loop at a fixed rate. */
object Serve {

  final case class Req(endpoint: String, q: String) {
    def path: String = s"/$endpoint?req=${URLEncoder.encode(q, UTF_8)}" +
      (if (endpoint == "bm25") "&k=10" else "")
  }

  /** One request's outcome: latency from when it was due, how late it was
    * sent, whether it succeeded, and its body. */
  final case class Done(latMs: Double, lateMs: Double, ok: Boolean, body: String)

  final case class Step(rate: Double, reqs: IndexedSeq[Req], done: IndexedSeq[Done], wallS: Double) {
    def lat: Seq[Double] = done.map(d => if (d.ok) d.latMs else Double.PositiveInfinity)
    def latOf(ep: String): Seq[Double] =
      reqs.indices.filter(i => reqs(i).endpoint == ep).map(i => lat(i))
    /** Median send lateness of the last tenth of the step's requests. */
    def lateEndMs: Double = Stats.median(done.takeRight(math.max(1, done.length / 10)).map(_.lateMs))
  }

  /** `nominal` is the rate the latency metrics are read at; `warm`
    * untimed requests, sent as fast as the clients get answers, come
    * first. The `ladder` rates above it
    * run in the traced run only, for `serve.serve_max_qps`. */
  private final case class Sizes(nominal: Double, warm: Int, ladder: Seq[Double], ladderS: Double,
                                 limitMs: Double, sampleChecks: Int)

  private def sizes(ctx: Ctx): Sizes =
    if (ctx.conf.smoke) Sizes(4.0, 10, Seq(8.0), 1.0, 5000, 4)
    else Sizes(4.0, 48, Seq(12.0, 24.0), 2.0, 1000, 4)

  /** Endpoint of each request slot, repeating: seven positional searches,
    * two BM25 and one suggest request in every ten, so every seed sends
    * the same mix. */
  private val mix = IndexedSeq("search", "search", "bm25", "search", "search",
    "suggest", "search", "search", "bm25", "search")

  /** The slots whose request repeats an earlier one of its endpoint: two
    * of the seven searches and one of the two BM25 requests, so 30% of
    * the requests repeat. */
  private val repeatSlots = Set(1, 6, 8)

  /** The request sequence. A repeat slot draws an earlier request of its
    * endpoint, Zipf(0.8)-weighted by first-send order, so the first ones
    * sent are the most popular; the other slots send a new request (the
    * positional ones cycle through the query kinds). */
  final class Stream(gen: QueryGen) {
    private val sent = Map("search" -> mutable.ArrayBuffer.empty[Req],
      "bm25" -> mutable.ArrayBuffer.empty[Req], "suggest" -> mutable.ArrayBuffer.empty[Req])
    private val seen = mutable.HashSet.empty[Req]
    private var n, searches = 0L
    var repeats = 0L

    def next(): Req = {
      val slot = (n % mix.length).toInt
      n += 1
      val ep = mix(slot)
      val prior = sent(ep)
      val r =
        if (repeatSlots(slot) && prior.nonEmpty) prior(new Zipf(prior.length, 0.8, gen.rnd).next())
        else {
          val fresh = ep match {
            case "search" =>
              searches += 1
              Req(ep, gen.freshPositional(gen.positionalKinds((searches % gen.positionalKinds.length).toInt)))
            case "bm25" => Req(ep, gen.freshBm25().mkString(" "))
            case "suggest" => Req(ep, gen.suggest())
          }
          prior += fresh
          fresh
        }
      if (!seen.add(r)) repeats += 1
      r
    }

    def take(k: Int): IndexedSeq[Req] = IndexedSeq.fill(k)(next())
    def count: Long = n
  }

  def get(port: Int, path: String): (Int, String) = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }

  /** What the REST handlers compute for `r`, by direct calls. */
  def direct(ctx: Ctx, s: SparkSearcher, r: Req, traced: Boolean): String = r.endpoint match {
    case "search" =>
      QueryParser.parse(r.q, s.analyzer.stopWords)
      val out = ctx.timed("SparkSearcher.search", traced)(s.search(r.q, SearchOptions()))._1
      ctx.timed("Server.toJson", traced)(Server.toJson(out))._1
    case "bm25" =>
      val top = ctx.timed("SparkSearcher.bm25", traced)(
        s.bm25TopK(r.q.split("\\s+").toSeq.filter(_.nonEmpty), 10))._1
      top.map { case (d, sc) => s"""{"docId": $d, "score": ${Json.num(sc)}}""" }.mkString("[", ",", "]")
    case "suggest" =>
      ctx.timed("SparkSearcher.suggest", traced)(s.suggest(r.q))._1.map(Json.str).mkString("[", ",", "]")
  }

  private def wellFormed(r: Req, body: String): Boolean =
    if (r.endpoint == "search") body.startsWith("{\"found\": ") else body.startsWith("[")

  def isEmpty(r: Req, body: String): Boolean =
    if (r.endpoint == "search") body.startsWith("{\"found\": 0,") else body == "[]"

  /** Open loop: request i is due at start + i/rate; at most `clients`
    * requests are in flight, so a stall makes later requests late, and
    * that lateness is part of their latency. */
  def openLoop(rate: Double, reqs: IndexedSeq[Req], clients: Int)(send: (Int, Req) => (Boolean, String)): Step = {
    val n = reqs.length
    val done = new Array[Done](n)
    val next = new AtomicInteger
    val start = System.nanoTime() + 20000000L
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          val due = start + (i * 1e9 / rate).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val sent = System.nanoTime()
          val (ok, body) = try send(i, reqs(i)) catch { case e: Exception => (false, e.toString) }
          val end = System.nanoTime()
          done(i) = Done((end - due) / 1e6, (sent - due) / 1e6, ok, body)
          i = next.getAndIncrement()
        }
      }, "perfbench-client")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Step(rate, reqs, done.toIndexedSeq, (System.nanoTime() - start) / 1e9)
  }

  /** The REST phase on a warm index that `server` serves from `searcher`.
    * `warm` sends untimed traffic; each `block` sends `seconds` of timed
    * traffic at the nominal rate; `finish`, after the last block, checks a
    * sample against direct calls, reports, and in the traced run climbs
    * the ladder and replays the timed requests by direct calls. Every
    * response is checked. */
  final class Phase(ctx: Ctx, searcher: SparkSearcher, port: Int, gen: QueryGen) {
    private val sz = sizes(ctx)
    private val clients = ctx.nproc
    private val stream = new Stream(gen)
    private val blocks = mutable.ArrayBuffer.empty[Step]
    private var empty, checked = 0L

    private def viaHttp(i: Int, r: Req): (Boolean, String) = {
      val (code, body) = get(port, r.path)
      (code == 200 && wellFormed(r, body), body)
    }

    private def step(rate: Double, n: Int): Step = {
      // at least one round of the endpoint mix, so every endpoint is sent
      val st = openLoop(rate, stream.take(math.max(math.max(2 * clients, mix.length), n)), clients)(viaHttp)
      st.done.zip(st.reqs).foreach { case (d, r) =>
        ctx.verify(d.ok, s"HTTP ${r.endpoint} ${r.q}: ${d.body.take(120)}")
        checked += 1
        if (d.ok && isEmpty(r, d.body)) empty += 1
      }
      st
    }

    /** Untimed traffic: the single-query paths keep getting faster for
      * dozens of requests while the JIT compiles them. */
    def warm(): Unit = step(1000, sz.warm)

    def block(seconds: Double): Unit = blocks += step(sz.nominal, (sz.nominal * seconds).round.toInt)

    /** The timed blocks as one step. */
    def finish(): Step = {
      val rep = ctx.report
      val nominal = Step(sz.nominal, blocks.flatMap(_.reqs).toIndexedSeq, blocks.flatMap(_.done).toIndexedSeq,
        blocks.map(_.wallS).sum)
      val ladder = if (ctx.conf.trace) sz.ladder.map(r => step(r, (r * sz.ladderS).round.toInt)) else Nil

      // sampled identity: HTTP JSON == the handler's computation by direct call
      nominal.reqs.zip(nominal.done).filter(_._2.ok).distinctBy(_._1).take(sz.sampleChecks).foreach { case (r, d) =>
        ctx.attempt(s"direct ${r.q}")(direct(ctx, searcher, r, traced = false)).foreach { body =>
          ctx.verify(body == d.body, s"HTTP != direct for ${r.endpoint} '${r.q}'")
        }
      }

      val (sTailP, sTail, sN) = Stats.tail(nominal.latOf("search"))
      val (bTailP, bTail, bN) = Stats.tail(nominal.latOf("bm25"))
      rep.l("serve.search_p50_ms", Stats.median(nominal.latOf("search")), "ms")
      rep.l("serve.search_tail_ms", sTail, "ms")
      rep.l("serve.bm25_p50_ms", Stats.median(nominal.latOf("bm25")), "ms")
      rep.l("serve.bm25_tail_ms", bTail, "ms")
      rep.info ++= Seq(
        "serve.timed_s" -> nominal.wallS, "serve.blocks" -> blocks.length, "serve.clients" -> clients,
        "serve.rate" -> sz.nominal,
        "serve.search_tail_percentile" -> sTailP, "serve.search_samples" -> sN,
        "serve.bm25_tail_percentile" -> bTailP, "serve.bm25_samples" -> bN,
        "serve.nominal_search_ms" -> nominal.latOf("search"),
        "serve.late_end_ms" -> blocks.map(_.lateEndMs),
        "serve.repeat_share" -> stream.repeats.toDouble / stream.count,
        "serve.empty_share" -> empty.toDouble / math.max(1L, checked))

      if (ctx.conf.trace) {
        val steps = nominal +: ladder
        rep.l("serve.serve_max_qps", maxRate(steps, sz.limitMs), "1/s")
        rep.info ++= Seq(
          "serve.latency_limit_ms" -> sz.limitMs,
          "serve.ladder" -> steps.map { s =>
            val (tp, tv, tn) = Stats.tail(s.lat)
            Map[String, Any]("rate" -> s.rate, "n" -> tn, "achieved_per_s" -> s.reqs.length / s.wallS,
              "p50_ms" -> Stats.median(s.lat), "tail_percentile" -> tp, "tail_ms" -> tv,
              "late_end_ms" -> s.lateEndMs, "wall_s" -> s.wallS)
          })
        traced(ctx, searcher, nominal)
      }
      nominal
    }
  }

  /** The rate at which the tail latency crosses `limitMs`, interpolated
    * between the ladder steps on either side; a step with a growing
    * backlog counts as over the limit. */
  def maxRate(steps: Seq[Step], limitMs: Double): Double = {
    def tailOf(s: Step): Double = {
      val t = Stats.tail(s.lat)._2
      if (s.lateEndMs > 250 * s.wallS) math.max(t, limitMs * 2) else t
    }
    val tails = steps.map(tailOf)
    tails.indexWhere(_ > limitMs) match {
      case -1 => steps.last.rate
      case 0 => steps.head.rate * math.min(1.0, limitMs / tails.head)
      case j =>
        val (r0, r1, t0, t1) = (steps(j - 1).rate, steps(j).rate, tails(j - 1), math.min(tails(j), 1e9))
        r0 + (r1 - r0) * (limitMs - t0) / (t1 - t0)
    }
  }

  /** Replays of the first half of the nominal step's requests (at least
    * one round of the endpoint mix) by direct calls on the same schedule:
    * a warm-up, then once untraced and once traced.
    * Per-request Spark jobs are attributed here (the REST host runs them
    * on its own threads), and the HTTP-vs-direct gap is the host's
    * overhead. */
  private def traced(ctx: Ctx, s: SparkSearcher, nominal: Step): Unit = {
    val rep = ctx.report
    val t = ctx.tracer
    val half = nominal.reqs.take(math.max(nominal.reqs.length / 2, mix.length))
    def replay(traced: Boolean): Step = openLoop(nominal.rate, half, ctx.nproc) { (i, r) =>
      val body = if (traced) t.span("Server.direct", i)(direct(ctx, s, r, traced = true))
      else direct(ctx, s, r, traced = false)
      (true, body)
    }
    // a first, discarded replay: the direct-call path is colder than the
    // HTTP one, and whichever replay ran first would pay for it
    replay(traced = false)
    val plain = Stats.median(replay(traced = false).lat)
    val withSpans = Stats.median(replay(traced = true).lat)
    rep.l("Server.overhead_ms", Stats.median(nominal.lat.take(half.length)) - plain, "ms")
    rep.l("trace.overhead_pct", 100 * (withSpans / plain - 1), "%")

    // parse and plan cost of the nominal step's positional queries
    val qs = nominal.reqs.filter(_.endpoint == "search").map(_.q).distinct
    val parse = qs.map(q => ctx.timed("query.parse")(QueryParser.parse(q, s.analyzer.stopWords))._2)
    val plan = qs.map(q => ctx.timed("query.plan")(s.plan(q))._2)
    rep.l("query.parse_us", 1000 * Stats.median(parse), "us")
    rep.l("query.plan_us", 1000 * Stats.median(plan), "us")
    Layers.single(ctx)
    rep.l("Server.to_json_us", 1000 * Stats.median(t.named("Server.toJson").map(_.ms)), "us")
  }
}
