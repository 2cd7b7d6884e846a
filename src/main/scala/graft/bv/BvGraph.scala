package graft.bv

import ZigZag.nat2int

/** Decoder for BVGraph-compressed graphs — a clean-room Scala
  * implementation of the decode walk specified by
  * patched/HdfsBVGraph.java:99-201 in the reference (itself upstream
  * it.unimi.dsi.webgraph.BVGraph). Eager per-node decode: adjacency lists
  * average a handful of ints, so the reference's lazy 3-way iterator
  * machinery buys nothing under Spark's row-at-a-time pull.
  *
  * Random access (offsets + reference-chain recursion) powers mid-split
  * window warm-up, which is what makes the format splittable for parallel
  * scan (SURVEY.md §2.1 D1/D4).
  *
  * One kernel serves both id widths, as one encoder does: successor
  * values decode as Long ([[decodeNode]], [[nodeIteratorLong]]). The Int
  * API ([[nodeIterator]], [[successorArray]], [[iterator]]) is a narrowing
  * view over the same walk that throws on a value past Int range instead
  * of wrapping it.
  */
final class BvGraph(
    val props: BvProperties,
    graph: SeekableBytes,
    offsetsSrc: SeekableBytes,
    efOffsets: Option[Boolean] = None) {

  val n: Int = props.nodes
  val m: Long = props.arcs
  private val windowSize = props.windowSize
  private val minIntervalLength = props.minIntervalLength
  private val zetaK = props.zetaK
  private val codings = props.codings
  private val cyclicBufferSize = windowSize + 1
  private val golombB = props.golombModulus
  // shard base (sidecar `firstnode`, 0 for unsharded): value-coded deltas
  // are anchored at the GLOBAL id firstNode + x — see BvEncoder.encodeNode
  private val firstNode = props.firstNode

  /** Bit offsets of each node's record, plus the end-of-stream sentinel
    * (n+1 entries). Decoded once per `BvGraph` instance — executors share
    * one instance per (basename, task) via [[BvGraph.load]]'s caller.
    * Representation follows the reference (patched/HdfsBVGraph.java:378):
    * small graphs keep a plain Array[Long] (8 B/node, zero decode cost);
    * past [[BvGraph.EF_THRESHOLD]] nodes the index switches to the
    * succinct Elias–Fano form (~2+log2(bits/node) bits per node — a
    * 7-10x executor-memory reduction on web-scale graphs).
    */
  val offsets: BvGraph.Offsets = {
    if (offsetsSrc eq BvGraph.NoOffsets) null // sequential-only mode
    else {
      // D5: offsets file = coded bit-length gaps, prefix-summed to n+1
      // absolute bit offsets (patched/HdfsBVGraph.java:410-436)
      val in = new BitInput(offsetsSrc)
      val raw = new Array[Long](n + 1)
      var off = 0L
      var i = 0
      while (i <= n) { off += readCoded(in, codings.offset); raw(i) = off; i += 1 }
      val useEf = efOffsets.getOrElse(raw.length > BvGraph.EF_THRESHOLD)
      if (useEf) new BvGraph.EfOffsets(EliasFanoLongList(raw))
      else new BvGraph.PlainOffsets(raw)
    }
  }
  // the offsets stream is fully decoded above — release its handle now
  // (close() is idempotent on both FileChannel and FSDataInputStream)
  offsetsSrc.close()

  private def requireIndex(): Unit =
    require(offsets != null,
      "graph opened without an offsets index (sequential-only mode — " +
        "regenerate the index with BvOffsets.regenerate)")

  /** One decode for every value-sized read: successor values, gaps and
    * offsets are Long; callers narrow counts (outdegree, reference,
    * blocks) with `.toInt`, which equals the Int reader bit for bit. */
  private def readCoded(in: BitInput, coding: Int): Long = coding match {
    case Coding.GAMMA => in.readLongGamma()
    case Coding.DELTA => in.readLongDelta()
    case Coding.ZETA => in.readLongZeta(zetaK)
    case Coding.UNARY => in.readUnary().toLong
    case Coding.NIBBLE => in.readLongNibble()
    case Coding.GOLOMB => in.readLongGolomb(golombB)
    case Coding.SKEWED_GOLOMB => in.readLongSkewedGolomb(golombB)
    case c => throw new IllegalStateException(s"coding $c unsupported")
  }

  def newBitInput(bufferSize: Int = 1 << 16): BitInput =
    new BitInput(graph, bufferSize)

  /** Reference count pinning the shared byte sources. The owning cache
    * holds one reference from construction; each active partition reader
    * acquires one more and releases it in its `close()`. The underlying
    * OS handles close only when the count reaches zero — so LRU eviction
    * (or mtime replacement) can never close a graph out from under an
    * in-flight read on another task thread. */
  private val refs = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Pin this graph for an active reader. Must be balanced by [[release]]. */
  def acquire(): BvGraph = { refs.incrementAndGet(); this }

  /** Drop one reference; closes the underlying byte sources (two OS
    * handles) when the last holder lets go. Called by
    * [[graft.sources.BvGraphCache]] on LRU eviction / mtime replacement
    * and by partition readers on close, so executors scanning many graphs
    * don't accumulate fds — without fail-stopping concurrent readers. */
  def release(): Unit =
    if (refs.decrementAndGet() == 0) {
      graph.close()
      offsetsSrc.close()
    }

  /** Test/utility hook: current pin count. */
  private[graft] def refCount: Int = refs.get()

  /** Random-access outdegree: position at offsets(x), read one value
    * (mirrors D3, /root/reference/.../patched/HdfsBVGraph.java:69-91).
    * Enables degree-only scans that never touch successor data.
    */
  def outdegree(x: Int, in: BitInput): Int = {
    require(x >= 0 && x < n, s"Node index out of range: $x")
    requireIndex()
    in.position(offsets(x))
    readCoded(in, codings.outdegree).toInt
  }

  /** Random-access successors as Int ids: [[successorArrayLong]] narrowed
    * by [[BvGraph.narrow]], which throws on a value outside Int range. */
  def successorArray(x: Int): Array[Int] = BvGraph.narrow(x, successorArrayLong(x))

  /** Random-access successor decode; reference chains resolved recursively
    * with fresh bit streams (depth bounded by maxrefcount at encode time —
    * mirrors patched/HdfsBVGraph.java:238-243).
    */
  def successorArrayLong(x: Int): Array[Long] = {
    requireIndex()
    val in = newBitInput(4096)
    in.position(offsets(x))
    decodeNode(x, in, y => successorArrayLong(y))
  }

  /** The BV decode kernel: outdegree → reference copy-blocks → intervals →
    * residuals → 3-way merge. `resolveRef` supplies the referenced node's
    * full successor list (window lookup when scanning sequentially,
    * recursion for random access). Successor VALUES are Long, local node
    * indexes and counts Int: a shard holds fewer than 2³¹ nodes, but on a
    * big graph its global ids, and the gaps between them, pass 2³¹.
    */
  def decodeNode(x: Int, in: BitInput, resolveRef: Int => Array[Long]): Array[Long] = {
    val d = readCoded(in, codings.outdegree).toInt
    if (d == 0) return BvGraph.EMPTY

    val ref = if (windowSize > 0) readCoded(in, codings.reference).toInt else 0

    // 1. masked copy from the referenced list
    var copied: Array[Long] = BvGraph.EMPTY
    var nCopied = 0
    if (ref > 0) {
      val refList = resolveRef(x - ref)
      val blockCount = readCoded(in, codings.blockCount).toInt
      val out = new Array[Long](d)
      var pos = 0
      var i = 0
      while (i < blockCount) {
        val b = readCoded(in, codings.block).toInt + (if (i == 0) 0 else 1)
        if ((i & 1) == 0) { // copy block
          var j = 0
          while (j < b) { out(nCopied) = refList(pos + j); nCopied += 1; j += 1 }
        }
        pos += b
        i += 1
      }
      if ((blockCount & 1) == 0) { // implicit trailing copy block
        var j = pos
        while (j < refList.length) { out(nCopied) = refList(j); nCopied += 1; j += 1 }
      }
      copied = out
    }

    var extraCount = d - nCopied

    // 2. intervals (γ throughout, first left extreme zigzagged against x)
    var intervals: Array[Long] = BvGraph.EMPTY
    var nIntervals = 0
    if (extraCount > 0 && minIntervalLength != 0) {
      val intervalCount = in.readGamma()
      if (intervalCount != 0) {
        intervals = new Array[Long](extraCount)
        var prev = 0L
        var i = 0
        while (i < intervalCount) {
          val left =
            if (i == 0) nat2int(in.readLongGamma()) + firstNode + x
            else in.readLongGamma() + prev + 1
          val len = in.readGamma() + minIntervalLength
          var v = left
          while (v < left + len) { intervals(nIntervals) = v; nIntervals += 1; v += 1 }
          prev = left + len
          extraCount -= len
          i += 1
        }
      }
    }

    // 3. residuals (first zigzagged against x, then +1-gap coded)
    var residuals: Array[Long] = BvGraph.EMPTY
    if (extraCount > 0) {
      residuals = new Array[Long](extraCount)
      var prev = firstNode + x + nat2int(readCoded(in, codings.residual))
      residuals(0) = prev
      var i = 1
      while (i < extraCount) {
        prev += readCoded(in, codings.residual) + 1
        residuals(i) = prev
        i += 1
      }
    }

    // 4. merge three ascending, disjoint sequences
    BvGraph.merge3(copied, nCopied, intervals, nIntervals, residuals, d)
  }

  /** Sequential scan over nodes [from, until) as Int ids: the
    * [[nodeIteratorLong]] walk, each list narrowed by [[BvGraph.narrow]].
    * The range checks run eagerly, at the call. */
  def nodeIterator(from: Int, until: Int,
      bufferSize: Int = 1 << 20): Iterator[(Int, Array[Int])] =
    nodeIteratorLong(from, until, bufferSize).map { case (x, succ) => (x, BvGraph.narrow(x, succ)) }

  /** Sequential scan over nodes [from, until): the splittable-read
    * primitive. Mid-stream starts warm the decode window by random access
    * for the `windowSize` predecessors, exactly as the reference's
    * node-iterator constructor does (patched/HdfsBVGraph.java:221-229).
    */
  def nodeIteratorLong(from: Int, until: Int,
      bufferSize: Int = 1 << 20): Iterator[(Int, Array[Long])] = {
    require(from >= 0 && from <= n, s"Node index out of range: $from")
    if (from > 0) requireIndex() // mid-split warm-up needs random access
    val hi = math.min(until, n)
    if (from >= hi) return Iterator.empty
    val in = newBitInput(bufferSize)
    val window = new Array[Array[Long]](cyclicBufferSize)
    if (from > 0 && windowSize > 0) {
      var i = 1
      while (i < math.min(from + 1, cyclicBufferSize)) {
        window((from - i) % cyclicBufferSize) = successorArrayLong(from - i)
        i += 1
      }
    }
    in.position(if (from == 0) 0L else offsets(from))
    new Iterator[(Int, Array[Long])] {
      private var curr = from
      def hasNext: Boolean = curr < hi
      def next(): (Int, Array[Long]) = {
        val succ = decodeNode(curr, in, y => window(y % cyclicBufferSize))
        // Integrity: node x's record must end exactly where offsets says
        // node x+1 begins. A truncated/corrupt stream zero-pads, and zeros
        // decode as plausible empty nodes — without this check a damaged
        // split would SILENTLY feed wrong adjacency downstream. (Skipped
        // in sequential-only mode — there is no index to check against.)
        if (offsets != null && in.bitPosition != offsets(curr + 1))
          throw new java.io.EOFException(
            s"decode desync at node $curr: ended at bit ${in.bitPosition}, " +
              s"offsets say ${offsets(curr + 1)} (truncated or corrupt .graph?)")
        if (windowSize > 0) window(curr % cyclicBufferSize) = succ
        val r = (curr, succ)
        curr += 1
        r
      }
    }
  }

  /** Re-derive the n+1 record bit-offsets by one sequential decode pass —
    * the engine's version of the reference's ONLY sink, the offsets
    * regeneration job (writeOffsets,
    * /root/reference/.../patched/HdfsBVGraph.java:393-407). Works in
    * sequential-only mode (no .offsets file needed). */
  def rebuildOffsets(bufferSize: Int = 1 << 20): Array[Long] = {
    val in = newBitInput(bufferSize)
    in.position(0L)
    val window = new Array[Array[Long]](cyclicBufferSize)
    val out = new Array[Long](n + 1)
    var x = 0
    while (x < n) {
      out(x) = in.bitPosition
      val succ = decodeNode(x, in, y => window(y % cyclicBufferSize))
      if (windowSize > 0) window(x % cyclicBufferSize) = succ
      x += 1
    }
    out(n) = in.bitPosition
    out
  }

  /** Whole-graph scan. */
  def iterator: Iterator[(Int, Array[Int])] = nodeIterator(0, n)
}

object BvGraph {
  private val EMPTY = new Array[Long](0)
  private val EMPTY_INT = new Array[Int](0)

  /** Sentinel offsets source: opens the graph in sequential-only mode (no
    * index decoded; random access and mid-split starts throw). Used by
    * [[BvOffsets.regenerate]] to rebuild a lost/corrupt `.offsets`. */
  val NoOffsets: SeekableBytes = new ArrayBytes(Array.empty)

  /** Node count past which the offsets index switches to Elias–Fano. */
  val EF_THRESHOLD: Int = 1 << 22

  sealed trait Offsets {
    def apply(i: Int): Long
    def length: Int
  }
  final class PlainOffsets(a: Array[Long]) extends Offsets {
    def apply(i: Int): Long = a(i)
    def length: Int = a.length
  }
  final class EfOffsets(ef: EliasFanoLongList) extends Offsets {
    def apply(i: Int): Long = ef(i)
    def length: Int = ef.length
  }

  /** Load from a local directory basename (test/fixture path; the Spark
    * source supplies Hadoop-backed SeekableBytes instead).
    */
  def load(basename: String): BvGraph = {
    val propsText = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(basename + ".properties")),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val props = BvProperties.parse(propsText)
    new BvGraph(props,
      new FileBytes(java.nio.file.Paths.get(basename + ".graph")),
      new FileBytes(java.nio.file.Paths.get(basename + ".offsets")))
  }

  /** 3-way merge of ascending disjoint sequences — the first `na` of `a`,
    * the first `nb` of `b` and all of `c` — into one ascending array of
    * exactly `d` elements. A part that holds all `d` values is returned
    * as it is: `a` and `b` are allocated `d` long in that case, and the
    * result must be, since it serves later nodes as a reference list.
    */
  private[bv] def merge3(a: Array[Long], na: Int, b: Array[Long], nb: Int,
      c: Array[Long], d: Int): Array[Long] = {
    if (na == d) return a
    if (nb == d) return b
    if (c.length == d) return c
    val out = new Array[Long](d)
    var i = 0
    var j = 0
    var k = 0
    var o = 0
    while (o < d) {
      val va = if (i < na) a(i) else Long.MaxValue
      val vb = if (j < nb) b(j) else Long.MaxValue
      val vc = if (k < c.length) c(k) else Long.MaxValue
      if (va <= vb && va <= vc) { out(o) = va; i += 1 }
      else if (vb <= vc) { out(o) = vb; j += 1 }
      else { out(o) = vc; k += 1 }
      o += 1
    }
    out
  }

  /** Node `x`'s successors as Int ids, for the Int views and INT-schema
    * scans. Fails closed: a value outside Int range (a big shard read
    * through the Int API) throws instead of wrapping into a wrong id. */
  def narrow(x: Int, succ: Array[Long]): Array[Int] = {
    if (succ.length == 0) return EMPTY_INT
    val out = new Array[Int](succ.length)
    var i = 0
    while (i < succ.length) {
      val v = succ(i)
      if (v.toInt != v)
        throw new ArithmeticException(s"node $x: successor $v does not fit an Int id " +
          "(read the graph as Long: nodeIteratorLong, or a scan of an idwidth=long manifest)")
      out(i) = v.toInt
      i += 1
    }
    out
  }
}
