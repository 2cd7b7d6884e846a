package graft.bv

import org.scalatest.funsuite.AnyFunSuite

/** Corrupted/truncated inputs must fail loudly (EOF/IllegalArgument), not
  * return silently wrong adjacency — a scan task that decodes garbage
  * would poison every downstream aggregate. */
class CorruptionSpec extends AnyFunSuite {

  private def fixture(): (Array[Byte], Array[Byte], BvProperties, Array[Array[Int]]) = {
    val rnd = new scala.util.Random(5L)
    val adj = Array.tabulate(200) { _ =>
      val d = rnd.nextInt(8)
      val s = scala.collection.mutable.SortedSet.empty[Int]
      while (s.size < d) s += rnd.nextInt(200)
      s.toArray
    }
    val (g, o, p) = new BvEncoder(BvProperties(0, 0)).encode(adj)
    (g, o, BvProperties.parse(p), adj)
  }

  test("truncated graph stream throws instead of fabricating successors") {
    val (g, o, props, _) = fixture()
    val cut = java.util.Arrays.copyOf(g, g.length / 3)
    val graph = new BvGraph(props, new ArrayBytes(cut), new ArrayBytes(o))
    intercept[Exception] {
      graph.iterator.foreach { case (_, succ) => succ.length }
    }
  }

  test("truncation at a node boundary cannot yield silent empty nodes") {
    // adversarial case: cut the graph exactly at a node's byte-aligned
    // start — the zero padding would decode as outdegree-0 nodes forever;
    // the per-node offsets desync check must catch it
    val (g, o, props, adj) = fixture()
    val graph0 = new BvGraph(props, new ArrayBytes(g), new ArrayBytes(o))
    val cutBit = graph0.offsets(props.nodes / 2)
    val cut = java.util.Arrays.copyOf(g, ((cutBit + 7) / 8).toInt)
    val graph = new BvGraph(props, new ArrayBytes(cut), new ArrayBytes(o))
    val e = intercept[Exception] {
      val it = graph.iterator
      while (it.hasNext) it.next()
    }
    assert(e.getMessage != null)
  }

  test("truncated offsets stream fails at load") {
    val (g, o, props, _) = fixture()
    val cut = java.util.Arrays.copyOf(o, math.max(1, o.length / 4))
    intercept[Exception] {
      new BvGraph(props, new ArrayBytes(g), new ArrayBytes(cut)).offsets(props.nodes)
    }
  }

  test("node count mismatch in properties is detected") {
    val (g, o, props, _) = fixture()
    // claim more nodes than the offsets stream encodes
    val lying = props.copy(nodes = props.nodes * 2)
    intercept[Exception] {
      new BvGraph(lying, new ArrayBytes(g), new ArrayBytes(o)).offsets(lying.nodes)
    }
  }

  /** A default-coded graph whose node records are written by hand, saved
    * as a basename triple: node 0 is {1, 2, 3} (residuals only). */
  private def handBuilt(node1: BitOutput => Unit): String = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new BitOutput(bytes)
    out.writeGamma(3) // outdegree
    out.writeUnary(0) // no reference
    out.writeGamma(0) // no intervals
    out.writeZeta(ZigZag.int2nat(1), 3) // residual 1 = 0 + 1, then gaps 0, 0
    out.writeZeta(0, 3)
    out.writeZeta(0, 3)
    val node1Start = out.writtenBits
    node1(out)
    val end = out.writtenBits
    out.flush()
    val offsets = new java.io.ByteArrayOutputStream()
    val o = new BitOutput(offsets)
    Seq(0L, node1Start, end - node1Start).foreach(o.writeGamma)
    o.flush()
    val base = java.nio.file.Files.createTempDirectory("bvcorrupt").toString + "/g"
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".graph"), bytes.toByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".offsets"), offsets.toByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".properties"),
      BvProperties(2, 4L).render.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    base
  }

  /** Node 1 must fail with an IOException naming the shard, the node and
    * the bit position, through the sequential walk and random access. */
  private def assertCorruptNode1(base: String, what: String): Unit = {
    val g = BvGraph.load(base)
    try {
      for (decode <- Seq(() => g.iterator.foreach(_ => ()), () => g.successorArray(1))) {
        val e = intercept[java.io.IOException](decode())
        assert(e.getMessage.contains(base + ".graph"), e.getMessage)
        assert(e.getMessage.contains("node 1, bit "), e.getMessage)
        assert(e.getMessage.contains(what), e.getMessage)
      }
    } finally g.release()
  }

  test("an outdegree above the graph's arc count throws before any scratch grows") {
    assertCorruptNode1(handBuilt { out =>
      out.writeGamma(Int.MaxValue.toLong) // a flipped γ outdegree; the graph has 4 arcs
    }, s"outdegree ${Int.MaxValue} outside [0, 4], the graph's arc count")
  }

  test("a copy block that runs past the outdegree throws") {
    assertCorruptNode1(handBuilt { out =>
      out.writeGamma(1) // outdegree 1
      out.writeUnary(1) // reference: node 0
      out.writeGamma(1) // one block
      out.writeGamma(3) // copy all three of node 0's successors
    }, "copy block 0 of length 3 runs past outdegree 1")
  }

  test("an implicit trailing copy that runs past the outdegree throws") {
    assertCorruptNode1(handBuilt { out =>
      out.writeGamma(1) // outdegree 1
      out.writeUnary(1) // reference: node 0
      out.writeGamma(0) // no blocks: copy the whole list
    }, "implicit trailing copy of length 3 runs past outdegree 1")
  }

  test("an interval that runs past the remaining count throws") {
    assertCorruptNode1(handBuilt { out =>
      out.writeGamma(2) // outdegree 2
      out.writeUnary(0) // no reference
      out.writeGamma(1) // one interval
      out.writeGamma(ZigZag.int2nat(5)) // left extreme 1 + 5
      out.writeGamma(0) // length minIntervalLength = 4 > 2
    }, "interval 0 of length 4 runs past the 2 successors left")
  }

  test("malformed properties are rejected with clear errors") {
    intercept[IllegalArgumentException](BvProperties.parse("graphclass=Foo\n"))
    intercept[IllegalArgumentException](BvProperties.parse(
      "graphclass=it.unimi.dsi.webgraph.BVGraph\nversion=0\n")) // missing nodes
    intercept[IllegalArgumentException](BvProperties.parse(
      "graphclass=it.unimi.dsi.webgraph.BVGraph\nversion=0\nnodes=1\narcs=0\n" +
        "windowsize=7\nmaxrefcount=3\nminintervallength=4\n" +
        "compressionflags=RESIDUALS_BANANA"))
  }
}
