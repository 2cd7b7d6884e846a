package graft.bv

import org.scalatest.funsuite.AnyFunSuite

/** Codec-throughput sanity: the public WebGraph paper cites sequential
  * decode at ~hundreds of ns/link on 2004-era hardware (BASELINE.md). A
  * modern single thread should land well under 1 us/link; this guards
  * against accidental hot-path regressions (e.g. buffering bugs) with a
  * generous bound, and prints the measured figure for BENCH context. The
  * encode, which prices every reference candidate in the window, gets a
  * bound of 2 us/link. */
class ThroughputSpec extends AnyFunSuite {

  test("sequential decode throughput under 1 us/link on a 1M-edge graph") {
    val rnd = new scala.util.Random(42L)
    val n = 100000
    val adj = Array.tabulate(n) { x =>
      // web-ish locality: successors clustered near x (exercises intervals
      // + references), ~10/node => ~1M links
      val d = 5 + rnd.nextInt(11)
      val s = scala.collection.mutable.SortedSet.empty[Int]
      while (s.size < d) {
        val delta = rnd.nextInt(2000) - 1000
        val v = math.max(0, math.min(n - 1, x + delta))
        s += v
      }
      s.toArray
    }
    val links = adj.map(_.length.toLong).sum
    val encoder = new BvEncoder(BvProperties(0, 0))
    val (g, o, propsText) = encoder.encode(adj) // also the encode warm-up
    // fastest of three timed encodes: the suite shares the box with other forks
    val encodeNsPerLink = (1 to 3).map { _ =>
      val e0 = System.nanoTime()
      val (again, _, _) = encoder.encode(adj)
      val ns = (System.nanoTime() - e0).toDouble / links
      assert(again.sameElements(g))
      ns
    }.min
    val graph = new BvGraph(BvProperties.parse(propsText),
      new ArrayBytes(g), new ArrayBytes(o))
    val bitsPerLink = g.length * 8.0 / links

    // warmup + measure
    var sum = 0L
    graph.iterator.foreach { case (_, succ) => sum += succ.length }
    val t0 = System.nanoTime()
    var decoded = 0L
    graph.iterator.foreach { case (_, succ) => decoded += succ.length }
    val nsPerLink = (System.nanoTime() - t0).toDouble / decoded
    info(f"$links%d links, $bitsPerLink%.2f bits/link, $nsPerLink%.0f ns/link sequential decode, " +
      f"$encodeNsPerLink%.0f ns/link encode")
    assert(decoded == links && sum == links)
    assert(nsPerLink < 1000.0, f"decode too slow: $nsPerLink%.0f ns/link")
    assert(encodeNsPerLink < 2000.0, f"encode too slow: $encodeNsPerLink%.0f ns/link")
    // compression sanity: locality-clustered graph must beat raw 32-bit ids
    assert(bitsPerLink < 16.0, f"compression too weak: $bitsPerLink%.2f bits/link")
  }
}
