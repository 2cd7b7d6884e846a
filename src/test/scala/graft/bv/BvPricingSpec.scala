package graft.bv

import org.scalatest.funsuite.AnyFunSuite

/** The encoder's reference pricing is exact: for every node of the pinned
  * web-like graph and every reference it may take, [[BvEncoder.Stream]]'s
  * one-pass price equals the bits the real writer adds for that choice,
  * under each coding variant [[BvPinnedOutputSpec]] pins. A price bounded
  * by the best so far stops early only at or above that bound. */
class BvPricingSpec extends AnyFunSuite {

  private val adj = WebLikeGraph(20000, 1L)

  private val variants: Seq[(String, BvProperties)] = Seq(
    "default codings" -> BvProperties(0, 0),
    "windowsize=0" -> BvProperties(0, 0, windowSize = 0),
    "minintervallength=0" -> BvProperties(0, 0, minIntervalLength = 0),
    "delta residuals and blocks" -> BvProperties(0, 0, codings =
      StreamCodings(residual = Coding.DELTA, block = Coding.DELTA)),
    "nibble on every stream" -> BvProperties(0, 0, codings = StreamCodings(
      Coding.NIBBLE, Coding.NIBBLE, Coding.NIBBLE, Coding.NIBBLE, Coding.NIBBLE,
      Coding.NIBBLE)),
    "golomb with skewed-golomb block counts" -> BvProperties(0, 0, codings =
      StreamCodings(residual = Coding.GOLOMB, block = Coding.GOLOMB,
        blockCount = Coding.SKEWED_GOLOMB)),
    "zeta_5 with firstNode=123456789" ->
      BvProperties(0, 0, zetaK = 5, firstNode = 123456789L))

  for ((name, p) <- variants) test(s"every candidate's price is its encoded bits: $name") {
    val lists = adj.map(_.map(_.toLong + p.firstNode))
    val enc = new BvEncoder(p)
    val st = new enc.Stream(java.io.OutputStream.nullOutputStream())
    val probe = new BitOutput(java.io.OutputStream.nullOutputStream())
    var priced = 0
    var referenced = 0
    for (succ <- lists) {
      for (r <- 0 to math.min(p.windowSize, st.nodeCount)) {
        val refList = if (r == 0) null else st.candidate(r)
        if (r == 0 || refList != null) {
          val before = probe.writtenBits
          st.encodeNode(probe, succ, r, refList)
          val bits = probe.writtenBits - before
          val where = s"node ${st.nodeCount}, reference $r"
          assert(st.price(succ, r, refList, Long.MaxValue) == bits, where)
          assert(st.price(succ, r, refList, bits + 1) == bits, s"$where, bound above")
          assert(st.price(succ, r, refList, bits) >= bits, s"$where, bound at the price")
          priced += 1
          if (r > 0) referenced += 1
        }
      }
      st.append(succ)
    }
    assert(priced >= adj.length)
    if (p.windowSize > 0) assert(referenced > adj.length, "too few reference candidates priced")
  }

  test("append rejects successors that are not strictly ascending") {
    val enc = new BvEncoder(BvProperties(0, 0))
    val st = new enc.Stream(java.io.OutputStream.nullOutputStream())
    st.append(Array(1L, 2L, 3L))
    for (bad <- Seq(Array(1L, 2L, 3L, 3L), Array(5L, 2L, 3L)))
      intercept[IllegalArgumentException](st.append(bad))
  }
}
