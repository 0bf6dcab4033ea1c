package graft.perfbench

import graft.fixtures.PagesGen

/** Seeded query generator. Query words are the indexed tokens of a seeded
  * sample of `sample` docs in the run's own doc-id range, cut the way the
  * analyzer cuts them (so the generator's `w0123` words become `0123`),
  * hence most queries match; `fresh*` never repeats a query it has
  * emitted. The sample is tokenized once: generating a body per query
  * would cost more than the batch it feeds. Every seventh doc of the
  * corpus carries the same English paragraph, whose common words cost
  * more to look up than the synthetic ones, so the sample holds exactly
  * that share of it rather than a random one. */
final class QueryGen(seed: Long, lo: Long, n: Long, sample: Int = 400) {
  val rnd = new java.util.Random(seed * 1000003L + 11)
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private val docs: Array[IndexedSeq[String]] = {
    val an = graft.text.Analyzer()
    def tokens(i: Long) = an.bodyTokens(PagesGen.bodyFor(i).toLowerCase(java.util.Locale.ROOT)).map(_._1).toIndexedSeq
    val size = math.min(n, sample.toLong).toInt
    val paragraph = tokens(0L)
    Array.tabulate(size) { k =>
      if (k % 7 == 0) paragraph
      else {
        var i = lo + (rnd.nextDouble() * n).toLong
        while (i % 7 == 0) i = lo + (rnd.nextDouble() * n).toLong
        tokens(i)
      }
    }.filter(_.length >= 8)
  }
  private val head = Array("old", "lady", "game", "national", "company", "running")

  /** Kinds of positional query, as the REST host and searchBatch take them. */
  val positionalKinds: IndexedSeq[String] =
    IndexedSeq("phrase", "and", "or", "and_or", "field", "wildcard")

  private def docWords(): IndexedSeq[String] = docs(rnd.nextInt(docs.length))

  /** A letter-initial word of `ws` (wildcards and suggestions skip
    * digit-initial terms), else any. */
  private def letterWord(ws: IndexedSeq[String]): String = {
    val ls = ws.filter(_.charAt(0).isLetter)
    if (ls.nonEmpty) ls(rnd.nextInt(ls.length)) else ws(rnd.nextInt(ws.length))
  }

  private def wild(w: String): String = {
    val j = 1 + rnd.nextInt(w.length - 2)
    w.substring(0, j) + "?" + w.substring(j + 1)
  }

  def positional(kind: String): String = {
    val ws = docWords()
    val j = rnd.nextInt(ws.length - 4)
    kind match {
      case "phrase" => "\"" + ws(j) + " " + ws(j + 1) + "\""
      case "and" => ws(j) + " " + ws(j + 3)
      case "or" => ws(j) + "|" + ws(rnd.nextInt(ws.length))
      case "and_or" => ws(j) + " (" + ws(j + 1) + "|" + ws(j + 2) + ")"
      case "field" => ws(j) + " {Source=web}"
      case "wildcard" => wild(letterWord(ws))
    }
  }

  def bm25(): Seq[String] = {
    val ws = docWords()
    val k = 2 + rnd.nextInt(3)
    val picked = (0 until k).map(_ => ws(rnd.nextInt(ws.length)))
    if (rnd.nextInt(5) == 0) picked :+ head(rnd.nextInt(head.length)) else picked
  }

  def suggest(): String = {
    val w = letterWord(docWords())
    w.substring(0, math.min(w.length - 1, 2 + rnd.nextInt(3)))
  }

  private def fresh[A](key: A => String)(gen: => A): A = {
    var q = gen
    var tries = 0
    while (!seen.add(key(q)) && tries < 1000) { q = gen; tries += 1 }
    q
  }

  def freshPositional(kind: String): String = fresh[String]("p:" + _)(positional(kind))
  def freshBm25(): Seq[String] = fresh[Seq[String]]("b:" + _.mkString(" "))(bm25())
}

/** A Zipf-weighted draw over `n` items: item r has weight 1 / (r+1)^s. */
final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
  private val cdf = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
