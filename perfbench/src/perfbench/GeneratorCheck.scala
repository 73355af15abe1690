package perfbench

import java.nio.file.{Files, Paths}

/** Self-test of the seeded k-chain generator, run by
  * `python3 perfbench/run.py --self-test`. For a few (k, seed) pairs it
  * checks that the relabel is a bijection on 1..k², that the CSV holds
  * k² edges, that every out-degree is at most 1, that exactly k edges
  * enter the sink 0, and that a repeated seed writes identical bytes.
  */
object GeneratorCheck {

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(args(0)))
    var files = Map.empty[(Int, Long), Seq[Byte]]
    for (k <- Seq(1, 7, 50, 500); seed <- Seq(1L, 2L, 3L)) {
      val r = Relabel.of(seed, k)
      val n = r.n.toInt
      val seen = new java.util.BitSet(n + 1)
      (1L to r.n).foreach { id =>
        val l = r(id)
        check(l >= 1 && l <= r.n, s"k=$k seed=$seed: label $l out of range")
        check(!seen.get(l.toInt), s"k=$k seed=$seed: label $l repeated")
        seen.set(l.toInt)
        check(r.inverse(l) == id, s"k=$k seed=$seed: inverse($l) != $id")
      }
      check(seen.cardinality == n, s"k=$k seed=$seed: not onto 1..k²")

      val path = dir.resolve(s"edges-$k-$seed.csv")
      check(KChain.writeEdges(path.toString, r) == r.n, "edge count returned")
      val lines = Files.readAllLines(path).toArray(Array.empty[String])
      check(lines.length == n, s"k=$k seed=$seed: ${lines.length} edges, want $n")
      val edges = lines.map { l =>
        val Array(s, d) = l.split(',')
        (s.toLong, d.toLong)
      }
      check(edges.map(_._1).distinct.length == n,
        s"k=$k seed=$seed: some node has out-degree > 1")
      check(edges.count(_._2 == 0L) == k, s"k=$k seed=$seed: sink in-degree != k")
      check(edges.forall { case (s, d) =>
        d == 0L || r.position(d) == r.position(s) + 1
      }, s"k=$k seed=$seed: an edge leaves its chain")

      val again = dir.resolve(s"edges-$k-$seed-again.csv")
      KChain.writeEdges(again.toString, Relabel.of(seed, k))
      val bytes = Files.readAllBytes(path).toSeq
      check(bytes == Files.readAllBytes(again).toSeq,
        s"k=$k seed=$seed: repeated seed wrote different bytes")
      files += (k, seed) -> bytes
    }
    check(files((500, 1L)) != files((500, 2L)), "seeds 1 and 2 wrote the same graph")
    println("generator self-test: ok")
  }
}
