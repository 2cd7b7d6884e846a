package graft.bv

import ZigZag.int2nat

/** BVGraph encoder — produces `.graph`/`.offsets`/`.properties` triples that
  * [[BvGraph]] (and upstream WebGraph) can decode. The reference repo never
  * writes graphs (its only sink is offsets regeneration,
  * /root/reference/.../patched/HdfsBVGraph.java:394-408); we need an encoder
  * to (a) create test fixtures — `/root/testdata` has no `.graph` files —
  * and (b) act as the engine's BV *sink* so graphs can be round-tripped.
  *
  * Successor values are `Long` end-to-end: the universal codes (γ/δ/ζ/…)
  * are width-agnostic — γ(5) is the same bits whether the 5 came from an
  * Int or a Long — so ONE encoder serves both the classic (<2³¹ ids) and
  * the sharded long-id (>2³¹ global ids, SCALE.md "big" mode) write paths,
  * and graphs written either way are bit-identical for in-range values.
  * Node indexes `x` stay Int: a single shard's LOCAL node count is capped
  * at 2³¹ (the offsets index is one array), which is exactly the upstream
  * BVGraph/big-BVGraph split (it.unimi.dsi.big.webgraph widens values,
  * not per-segment counts).
  *
  * Encoding per node (mirror image of [[BvGraph.Walk]]):
  * outdegree → reference + copy-blocks → intervals → residuals. Reference
  * selection is cost-based: "no reference" and each candidate in the window
  * (subject to the `maxRefCount` chain-length cap) are priced exactly, and
  * the strictly cheapest wins (a tie keeps the choice priced first: no
  * reference, then the nearest candidate). A price is one merge pass over
  * the list and the candidate that adds up [[CodeLength]]s as it finds
  * copy blocks, intervals and residuals, and stops once it reaches the
  * best price so far. Only the chosen reference is encoded.
  */
final class BvEncoder(props: BvProperties) {
  private val windowSize = props.windowSize
  private val maxRefCount = props.maxRefCount
  private val minIntervalLength = props.minIntervalLength
  private val zetaK = props.zetaK
  private val codings = props.codings

  private val golombB = props.golombModulus
  // shard base: value-coded deltas anchor at the GLOBAL id (firstNode + x),
  // matching [[BvGraph.Walk]]; 0 for unsharded graphs
  private val firstNode = props.firstNode

  private def writeCoded(out: BitOutput, coding: Int, v: Long): Unit = coding match {
    case Coding.GAMMA => out.writeGamma(v)
    case Coding.DELTA => out.writeDelta(v)
    case Coding.ZETA => out.writeZeta(v, zetaK)
    case Coding.UNARY => out.writeUnary(v.toInt)
    case Coding.NIBBLE => out.writeNibble(v)
    case Coding.GOLOMB => out.writeGolomb(v, golombB)
    case Coding.SKEWED_GOLOMB => out.writeSkewedGolomb(v, golombB)
    case c => throw new IllegalStateException(s"coding $c unsupported")
  }

  /** The bits `writeCoded(_, coding, v)` writes. */
  private def codedBits(coding: Int, v: Long): Long = coding match {
    case Coding.GAMMA => CodeLength.gamma(v)
    case Coding.DELTA => CodeLength.delta(v)
    case Coding.ZETA => CodeLength.zeta(v, zetaK)
    case Coding.UNARY => CodeLength.unary(v)
    case Coding.NIBBLE => CodeLength.nibble(v)
    case Coding.GOLOMB => CodeLength.golomb(v, golombB)
    case Coding.SKEWED_GOLOMB => CodeLength.skewedGolomb(v, golombB)
    case c => throw new IllegalStateException(s"coding $c unsupported")
  }

  /** `codedBits(coding, _)` from a table. γ, δ and ζ lengths depend only
    * on the highest set bit of `v + 1`, so their table has one entry per
    * bit position; other codings look up `v` below 1024 and compute the
    * rest. That table is empty for a coding the writer rejects, which then
    * fails on its first write as before. */
  private final class Lengths(coding: Int) {
    private val byTopBit =
      coding == Coding.GAMMA || coding == Coding.DELTA || coding == Coding.ZETA
    private val table =
      if (byTopBit) Array.tabulate(64)(b => codedBits(coding, (1L << b) - 1).toInt)
      else try Array.tabulate(1024)(v => codedBits(coding, v.toLong).toInt)
      catch { case _: RuntimeException => Array.emptyIntArray }

    def apply(v: Long): Long =
      if (byTopBit) table(63 - java.lang.Long.numberOfLeadingZeros(v + 1))
      else if (v < table.length) table(v.toInt)
      else codedBits(coding, v)
  }

  // the lengths pricing adds up, one per coded stream of a node record
  private val outdegreeBits = new Lengths(codings.outdegree)
  private val referenceBits = new Lengths(codings.reference)
  private val blockCountBits = new Lengths(codings.blockCount)
  private val blockBits = new Lengths(codings.block)
  private val residualBits = new Lengths(codings.residual)

  /** Stateful one-node-at-a-time encoder: nodes are appended in ascending
    * id order and the bit stream grows incrementally — this is what lets a
    * Spark `DataWriter` encode its partition's node range without
    * buffering the whole adjacency (the distributed BV sink,
    * graft.sources write path). */
  final class Stream(graphOut: java.io.OutputStream) {
    private val out = new BitOutput(graphOut)
    private val cyclic = math.max(windowSize + 1, 1)
    private val window = new Array[Array[Long]](cyclic)
    private val refCounts = new Array[Int](cyclic)
    private var offsets = new Array[Long](1024)
    private var x = 0
    private var arcs = 0L

    // Per-node scratch, reused by every candidate and every node: copy
    // block lengths, the successors a copy leaves over, and their split
    // into intervals (left end, length) and residuals. Grown on demand.
    private var blocks = new Array[Int](16)
    private var blockCount = 0
    private var extras = new Array[Long](16)
    private var extraCount = 0
    private var intervalLeft = new Array[Long](16)
    private var intervalLen = new Array[Int](16)
    private var intervalCount = 0
    private var residuals = new Array[Long](16)
    private var residualCount = 0

    def nodeCount: Int = x
    def arcCount: Long = arcs

    private def ensureScratch(degree: Int): Unit = {
      if (extras.length < degree) {
        val cap = math.max(degree, 2 * extras.length)
        extras = new Array[Long](cap)
        intervalLeft = new Array[Long](cap)
        intervalLen = new Array[Int](cap)
        residuals = new Array[Long](cap)
      }
    }

    /** Copy-block decomposition of `succ` against `refList` into `blocks`
      * and `extras`: alternating copy/skip run lengths over refList,
      * starting with a copy run, with a trailing copy run left implicit
      * (the decoder's even-blockCount rule, see [[BvGraph.Walk]]);
      * extras are the successors the copy does not cover.
      */
    private def copyBlocks(succ: Array[Long], refList: Array[Long]): Unit = {
      if (blocks.length < refList.length)
        blocks = new Array[Int](math.max(refList.length, 2 * blocks.length))
      var nb = 0
      var ne = 0
      var i = 0 // index into succ
      var j = 0 // index into refList
      var curr = 0 // current run length
      var copying = true // runs alternate, first is a copy run
      while (j < refList.length) {
        // two-pointer walk: refList(j) either appears in succ (copy) or not
        val r = refList(j)
        while (i < succ.length && succ(i) < r) { extras(ne) = succ(i); ne += 1; i += 1 }
        val inSucc = i < succ.length && succ(i) == r
        if (inSucc == copying) curr += 1
        else { blocks(nb) = curr; nb += 1; copying = !copying; curr = 1 }
        if (inSucc) i += 1
        j += 1
      }
      // The final run is always left implicit: with an even emitted block
      // count the decoder copies the refList tail, with an odd one it skips
      // it — and dropping the last run lands on the right parity either way
      // (copy runs sit at even indices, skip runs at odd).
      while (i < succ.length) { extras(ne) = succ(i); ne += 1; i += 1 }
      blockCount = nb
      extraCount = ne
    }

    /** Split `src(0 until len)` into maximal runs of consecutive ids of
      * length ≥ minIntervalLength (the intervals) and the rest (residuals).
      */
    private def intervalize(src: Array[Long], len: Int): Unit = {
      var ni = 0
      var nr = 0
      var runStart = 0
      var i = 1
      while (i <= len) {
        if (i == len || src(i) != src(i - 1) + 1) { // close the run [runStart, i)
          val runLen = i - runStart
          if (runLen >= minIntervalLength) {
            intervalLeft(ni) = src(runStart)
            intervalLen(ni) = runLen
            ni += 1
          } else {
            var k = runStart
            while (k < i) { residuals(nr) = src(k); nr += 1; k += 1 }
          }
          runStart = i
        }
        i += 1
      }
      intervalCount = ni
      residualCount = nr
    }

    /** Encode node `x`'s list given a chosen reference (0 = none) and the
      * referenced list. */
    private[bv] def encodeNode(out: BitOutput, succ: Array[Long], ref: Int,
        refList: Array[Long]): Unit = {
      writeCoded(out, codings.outdegree, succ.length.toLong)
      if (succ.length == 0) return
      if (windowSize > 0) writeCoded(out, codings.reference, ref.toLong)
      ensureScratch(succ.length)

      var rest = succ
      var restLen = succ.length
      if (ref > 0) {
        copyBlocks(succ, refList)
        writeCoded(out, codings.blockCount, blockCount.toLong)
        var i = 0
        while (i < blockCount) {
          writeCoded(out, codings.block, (blocks(i) - (if (i == 0) 0 else 1)).toLong)
          i += 1
        }
        rest = extras
        restLen = extraCount
      }

      if (restLen > 0 && minIntervalLength != 0) {
        intervalize(rest, restLen)
        out.writeGamma(intervalCount.toLong)
        var prev = 0L
        var i = 0
        while (i < intervalCount) {
          val left = intervalLeft(i)
          if (i == 0) out.writeGamma(int2nat(left - (firstNode + x)))
          else out.writeGamma(left - prev - 1)
          out.writeGamma((intervalLen(i) - minIntervalLength).toLong)
          prev = left + intervalLen(i)
          i += 1
        }
        rest = residuals
        restLen = residualCount
      }

      if (restLen > 0) {
        writeCoded(out, codings.residual, int2nat(rest(0) - (firstNode + x)))
        var i = 1
        while (i < restLen) {
          writeCoded(out, codings.residual, rest(i) - rest(i - 1) - 1)
          i += 1
        }
      }
    }

    /** The bits [[encodeNode]] writes for `succ` with reference `ref`
      * (0 = none) to `refList`, from one merge pass over both lists; or
      * some value `>= bound` once the running total reaches `bound`.
      *
      * The merge finds the copy blocks as [[copyBlocks]] does. Each
      * successor the copy leaves over extends the open run of consecutive
      * ids or closes it; a closed run is priced as [[intervalize]] splits
      * it: one interval if it is long enough, else that many residuals. */
    private[bv] def price(succ: Array[Long], ref: Int, refList: Array[Long],
        bound: Long): Long = {
      val n = succ.length
      var bits = outdegreeBits(n.toLong)
      if (n == 0) return bits
      if (windowSize > 0) bits += referenceBits(ref.toLong)
      val base = firstNode + x
      val refLen = if (ref > 0) refList.length else 0
      var j = 0 // index into refList
      var blocks = 0 // copy blocks emitted
      var curr = 0 // length of the current copy or skip run
      var copying = true
      var runStart = 0L // the open run of leftover ids
      var runLen = 0
      var intervals = 0
      var prevEnd = 0L
      var residuals = false
      var prevResidual = 0L
      var i = 0
      while (i <= n) { // i == n closes the last run
        var v = 0L
        var extend = false // v is copied or extends the open run
        if (i < n) {
          v = succ(i)
          // refList entries below v are not in succ: each extends a skip run
          while (j < refLen && refList(j) < v) {
            if (copying) {
              bits += blockBits(if (blocks == 0) curr else curr - 1)
              blocks += 1; copying = false; curr = 1
            } else curr += 1
            j += 1
          }
          if (j < refLen && refList(j) == v) {
            if (copying) curr += 1
            else { bits += blockBits(curr - 1); blocks += 1; copying = true; curr = 1 }
            j += 1
            extend = true
          } else if (runLen > 0 && v == runStart + runLen) {
            runLen += 1
            extend = true
          }
        }
        if (!extend) {
          if (runLen >= minIntervalLength && minIntervalLength != 0) {
            bits += CodeLength.gamma(if (intervals == 0) int2nat(runStart - base)
              else runStart - prevEnd - 1)
            bits += CodeLength.gamma((runLen - minIntervalLength).toLong)
            intervals += 1
            prevEnd = runStart + runLen
          } else if (runLen > 0) {
            bits += residualBits(if (residuals) runStart - prevResidual - 1
              else int2nat(runStart - base))
            bits += (runLen - 1) * residualBits(0L)
            residuals = true
            prevResidual = runStart + runLen - 1
          }
          if (bits >= bound) return bits
          runStart = v
          runLen = 1
        }
        i += 1
      }
      if (ref > 0) {
        // the refList tail is one more skip run: it closes a copy run
        if (j < refLen && copying) {
          bits += blockBits(if (blocks == 0) curr else curr - 1)
          blocks += 1
        }
        bits += blockCountBits(blocks.toLong)
      }
      // every leftover went into an interval or a residual
      if (minIntervalLength != 0 && (intervals > 0 || residuals))
        bits += CodeLength.gamma(intervals.toLong)
      bits
    }

    /** The list `r` nodes back if node `x` may reference it (nonempty,
      * under the `maxRefCount` chain cap), else null; `1 <= r <= x`. */
    private[bv] def candidate(r: Int): Array[Long] = {
      val cand = window((x - r) % cyclic)
      if (cand != null && cand.nonEmpty && refCounts((x - r) % cyclic) < maxRefCount) cand
      else null
    }

    private def recordOffset(): Unit = {
      if (x >= offsets.length) offsets = java.util.Arrays.copyOf(offsets, 2 * offsets.length)
      offsets(x) = out.writtenBits
    }

    /** Append node `x` (implicit: call order defines ids 0,1,2,…). `succ`
      * must be strictly ascending. */
    def append(succ: Array[Long]): Unit = {
      var k = 1
      while (k < succ.length) {
        require(succ(k) > succ(k - 1),
          s"successors of node $x must be strictly ascending: ${succ(k - 1)} then ${succ(k)}")
        k += 1
      }
      recordOffset()
      arcs += succ.length
      var bestRef = 0
      if (succ.nonEmpty && windowSize > 0) {
        var bestCost = price(succ, 0, null, Long.MaxValue)
        var r = 1
        while (r <= math.min(windowSize, x)) {
          val cand = candidate(r)
          if (cand != null) {
            val c = price(succ, r, cand, bestCost)
            if (c < bestCost) { bestCost = c; bestRef = r }
          }
          r += 1
        }
      }
      encodeNode(out, succ, bestRef, if (bestRef > 0) candidate(bestRef) else null)
      if (windowSize > 0) {
        window(x % cyclic) = succ
        refCounts(x % cyclic) =
          if (bestRef > 0) refCounts((x - bestRef) % cyclic) + 1 else 0
      }
      x += 1
    }

    /** Int-adjacency convenience (the classic <2³¹ write path). */
    def append(succ: Array[Int]): Unit = {
      val wide = new Array[Long](succ.length)
      var i = 0
      while (i < succ.length) { wide(i) = succ(i).toLong; i += 1 }
      append(wide)
    }

    /** Flush the graph stream; returns (offsetsBytes, propertiesText). */
    def finish(): (Array[Byte], String) = {
      recordOffset() // the end of the last node's record
      out.flush()
      (BvOffsets.encode(java.util.Arrays.copyOf(offsets, x + 1), props),
        props.copy(nodes = x, arcs = arcs).render)
    }
  }

  /** Encode the whole graph. `adjacency(x)` must be strictly ascending,
    * duplicate-free, values in [0, n). Returns (graphBytes, offsetsBytes,
    * propertiesText) with `arcs` filled in.
    */
  def encode(adjacency: Array[Array[Int]]): (Array[Byte], Array[Byte], String) = {
    val graphBos = new java.io.ByteArrayOutputStream()
    val st = new Stream(graphBos)
    adjacency.foreach(st.append)
    val (offsets, propsText) = st.finish()
    (graphBos.toByteArray, offsets, propsText)
  }

  /** Encode and write the `.graph`/`.offsets`/`.properties` triple. */
  def write(basename: String, adjacency: Array[Array[Int]]): Unit = {
    val (g, o, p) = encode(adjacency)
    import java.nio.file.{Files, Paths}
    Files.write(Paths.get(basename + ".graph"), g)
    Files.write(Paths.get(basename + ".offsets"), o)
    Files.write(Paths.get(basename + ".properties"),
      p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
  }
}

object BvEncoder {
  def apply(
      windowSize: Int = 7,
      maxRefCount: Int = 3,
      minIntervalLength: Int = 4,
      zetaK: Int = 3,
      codings: StreamCodings = StreamCodings()): BvEncoder =
    new BvEncoder(BvProperties(nodes = 0, arcs = 0L, windowSize = windowSize,
      maxRefCount = maxRefCount, minIntervalLength = minIntervalLength,
      zetaK = zetaK, codings = codings))
}
