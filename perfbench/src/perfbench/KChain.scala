package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

/** The reference's k-chain graph with seeded node ids.
  *
  * k disjoint chains of k nodes: original id i in 1..k² points to i+1,
  * except each chain tail (i % k == 0) points to the dangling sink 0.
  * The seed picks an affine bijection on 1..k²,
  * id ↦ 1 + ((a·(id−1) + b) mod k²) with gcd(a, k²) = 1, so the engine
  * sees scrambled ids while every node keeps its chain position.
  */
final case class Relabel(k: Long, a: Long, b: Long) {
  val n: Long = k * k
  require(BigInt(a).gcd(BigInt(n)) == 1, s"a=$a is not invertible mod $n")
  val aInv: Long = BigInt(a).modInverse(BigInt(n)).toLong

  def apply(id: Long): Long = 1 + Math.floorMod(a * (id - 1) + b, n)
  def inverse(label: Long): Long = 1 + Math.floorMod(aInv * (label - 1 - b), n)
  /** Chain position 1..k of a relabelled node. */
  def position(label: Long): Long = (inverse(label) - 1) % k + 1
}

object Relabel {
  def of(seed: Long, k: Long): Relabel = {
    val rnd = new java.util.SplittableRandom(seed)
    val n = k * k
    def draw(): Long = if (n > 1) 1 + rnd.nextLong(n - 1) else 1
    var a = draw()
    while (BigInt(a).gcd(BigInt(n)) != 1) a = draw()
    Relabel(k, a, rnd.nextLong(n))
  }
}

object KChain {

  /** Writes the relabelled edge CSV (`src,dst` per line, in original-id
    * order) and returns the number of edges written.
    */
  def writeEdges(path: String, r: Relabel): Long = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val sb = new java.lang.StringBuilder(32)
    try {
      var id = 1L
      while (id <= r.n) {
        val dst = if (id % r.k == 0) 0L else r(id + 1)
        sb.setLength(0)
        sb.append(r(id)).append(',').append(dst).append('\n')
        out.write(sb.toString.getBytes(StandardCharsets.US_ASCII))
        id += 1
      }
    } finally out.close()
    r.n
  }

  /** Compat PageRank's per-position contributions after one more pass:
    * a chain head receives nothing; position p receives the whole rank
    * of position p−1. `d` is the dangling mass the engine carried into
    * the pass; the expression mirrors `PageRank.compatSteps` operation
    * by operation, so the result is bit-exact.
    */
  def nextContribs(prev: Array[Double], d: Double, n: Double,
                   beta: Double): Array[Double] = {
    val rank = prev.map(c => (1 - beta) * (c + d / n) + beta / n)
    Array.tabulate(prev.length)(p => if (p == 0) 0.0 else rank(p - 1))
  }

  /** Dangling mass after a pass: the k chain tails' ranks. */
  def nextDangling(prev: Array[Double], d: Double, n: Double,
                   beta: Double): Double =
    prev.length * ((1 - beta) * (prev.last + d / n) + beta / n)

  /** Init pass: every node with an in-edge holds 1/N; the sink holds k/N. */
  def initContribs(k: Int, n: Double): Array[Double] =
    Array.tabulate(k)(p => if (p == 0) 0.0 else 1.0 / n)
}
