package perfbench

import java.util.SplittableRandom

/** Seeded synthetic inputs. Every stream derives from (seed, stream tag), so
  * one seed always yields the same corpus, queries and documents, and two
  * streams never share draws. The program only ever sees what this object
  * generates. */
object Gen {

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L)

  final case class VecSet(corpus: Array[Array[Float]], queries: Array[Array[Float]])

  /** `n` corpus points and `nq` held-out queries around the same `clusters`
    * Gaussian centres. Queries come from their own stream, so none is a
    * corpus row: recall is measured on unseen points, not self-queries.
    * `spread` sets how much the clusters overlap (larger = harder). */
  def vectors(seed: Long, stream: Int, n: Int, nq: Int, d: Int,
      clusters: Int, spread: Double): VecSet = {
    val r = rng(seed, stream)
    val centres = Array.fill(clusters)(Array.fill(d)(r.nextGaussian().toFloat))
    def draw(rr: SplittableRandom, m: Int) = Array.fill(m) {
      val c = centres(rr.nextInt(clusters))
      Array.tabulate(d)(j => (c(j) + spread * rr.nextGaussian()).toFloat)
    }
    VecSet(draw(r, n), draw(rng(seed, stream + 50000), nq))
  }

  /** Squared L2 in double precision: the harness's own reference distance. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val t = a(i).toDouble - b(i); s += t * t; i += 1 }
    s
  }

  /** Exact top-k row indices by brute force over the rows `live` admits,
    * ascending (distance, index). */
  def topK(corpus: IndexedSeq[Array[Float]], live: Int => Boolean,
      q: Array[Float], k: Int): Array[Int] = {
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (x: (Double, Int), y: (Double, Int)) =>
        if (x._1 != y._1) java.lang.Double.compare(y._1, x._1)
        else Integer.compare(y._2, x._2))
    var i = 0
    while (i < corpus.length) {
      if (live(i)) {
        val d = l2(corpus(i), q)
        if (heap.size < k) heap.add((d, i))
        else {
          val top = heap.peek()
          if (d < top._1 || (d == top._1 && i < top._2)) { heap.poll(); heap.add((d, i)) }
        }
      }
      i += 1
    }
    val out = new Array[(Double, Int)](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 }
    out.map(_._2)
  }

  /** [[topK]] for many queries, spread over the common fork-join pool. */
  def truth(corpus: IndexedSeq[Array[Float]], queries: IndexedSeq[Array[Float]],
      k: Int, live: Int => Boolean = _ => true): Array[Array[Int]] = {
    val out = new Array[Array[Int]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel()
      .forEach(i => out(i) = topK(corpus, live, queries(i), k))
    out
  }

  /** Zipf(s) over `n` ranks: `rankAt(u)` maps u in [0, 1) to a rank, 0 the
    * most popular. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def rankAt(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A request stream in blocks of `kinds.length` slots. Each block holds
    * every entry of `kinds` once, in seeded order, and draws its ranks by
    * stratified sampling (one draw per 1/slots of the Zipf CDF), so short
    * runs see the intended mix and popularity instead of a lucky draw. */
  final class Schedule(r: SplittableRandom, zipf: Zipf, kinds: IndexedSeq[String]) {
    private var block = Iterator.empty[(Int, String)]
    def next(): (Int, String) = {
      if (!block.hasNext) {
        val n = kinds.length
        val ranks = shuffle(IndexedSeq.tabulate(n)(j => zipf.rankAt((j + r.nextDouble()) / n)))
        block = ranks.zip(shuffle(kinds)).iterator
      }
      block.next()
    }
    private def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
  }

  // ------------------------------------------------------------- documents

  private val stopWords = Array("the", "of", "and", "to", "in", "is", "that",
    "it", "was", "for", "on", "are", "with", "as", "be")

  /** A document corpus with planted duplicates: `texts(i)`, a d-dimensional
    * embedding per doc, and the planted (earlier, later) duplicate pairs.
    * About 5% of docs are exact copies of an earlier doc and 5% are near
    * copies with 3 of 40 words replaced; every copy's embedding is its
    * source's plus small noise. */
  final case class Docs(texts: Array[String], emb: Array[Array[Float]],
      planted: Array[(Int, Int)])

  def docs(seed: Long, n: Int, d: Int, words: Int = 40): Docs = {
    val r = rng(seed, 900)
    val vocab = 20000
    def word(): String =
      if (r.nextInt(4) == 0) stopWords(r.nextInt(stopWords.length))
      else "w" + Integer.toString(r.nextInt(vocab), 36)
    val toks = new Array[Array[String]](n)
    val emb = new Array[Array[Float]](n)
    val planted = Array.newBuilder[(Int, Int)]
    var i = 0
    while (i < n) {
      val kind = if (i < 10) 2 else r.nextInt(20)
      if (kind == 0 || kind == 1) {
        val src = r.nextInt(i)
        val t = toks(src).clone()
        if (kind == 1) for (_ <- 0 until 3) t(r.nextInt(words)) = word()
        toks(i) = t
        emb(i) = emb(src).map(x => (x + 0.01 * r.nextGaussian()).toFloat)
        planted += ((src, i))
      } else {
        toks(i) = Array.fill(words)(word())
        emb(i) = Array.fill(d)(r.nextGaussian().toFloat)
      }
      i += 1
    }
    Docs(toks.map(_.mkString(" ")), emb, planted.result())
  }

  /** Order-sensitive digest of a float matrix (determinism checks). */
  def digest(vs: Iterable[Array[Float]]): Long = {
    var h = 1125899906842597L
    for (v <- vs; x <- v) h = 31 * h + java.lang.Float.floatToIntBits(x)
    h
  }
}
