package perfbench

import graft.lda.{Rng, SplitMix64}
import java.io.{BufferedWriter, FileWriter}

/** Seeded NYTimes-shape corpus generator (the shape of the paper's one
  * published workload: V = 102,660, ~333 tokens per doc, word ranks drawn
  * from a Zipf-Mandelbrot law with shift 27). Documents are written in
  * plda text format (`word count word count ...`, one doc per line), so
  * the program under test only ever sees the generated files. */
object Gen {
  val Vocab = 102660
  val Shift = 27.0
  val MinLen = 233
  val LenSpan = 201

  /** p(rank r) ∝ 1/(r + shift), as a cumulative table for inverse-CDF draws. */
  lazy val cumulative: Array[Double] = {
    val cum = new Array[Double](Vocab)
    var s = 0.0
    var r = 0
    while (r < Vocab) { s += 1.0 / (r + Shift); cum(r) = s; r += 1 }
    r = 0
    while (r < Vocab) { cum(r) /= s; r += 1 }
    cum
  }

  /** One document as sorted distinct ranks with their counts. `stream`
    * separates the training corpus from the held-out one. */
  def doc(seed: Long, stream: Long, docId: Long): (Array[Int], Array[Int]) = {
    val cum = cumulative
    val rng = new SplitMix64(Rng.mix(seed, docId, stream))
    val len = MinLen + rng.nextInt(LenSpan)
    val counts = new java.util.TreeMap[Integer, Integer]()
    var t = 0
    while (t < len) {
      val u = rng.nextDouble()
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) < u) lo = mid + 1 else hi = mid
      }
      counts.merge(lo, 1, (a: Integer, b: Integer) => a + b)
      t += 1
    }
    val ws = new Array[Int](counts.size)
    val cs = new Array[Int](counts.size)
    var i = 0
    val e = counts.entrySet.iterator
    while (e.hasNext) {
      val kv = e.next()
      ws(i) = kv.getKey; cs(i) = kv.getValue; i += 1
    }
    (ws, cs)
  }

  final case class Written(docs: Long, tokens: Long, distinctWords: Int)

  /** Writes `nDocs` documents to `path`; returns docs, tokens and the
    * number of distinct words that occur. */
  def write(path: String, seed: Long, stream: Long, nDocs: Int): Written = {
    val seen = new java.util.BitSet(Vocab)
    var tokens = 0L
    val out = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      var d = 0
      while (d < nDocs) {
        val (ws, cs) = doc(seed, stream, d)
        var i = 0
        while (i < ws.length) {
          if (i > 0) out.write(' ')
          out.write("w"); out.write(Integer.toString(ws(i)))
          out.write(' '); out.write(Integer.toString(cs(i)))
          seen.set(ws(i)); tokens += cs(i)
          i += 1
        }
        out.write('\n')
        d += 1
      }
    } finally out.close()
    Written(nDocs, tokens, seen.cardinality)
  }
}
