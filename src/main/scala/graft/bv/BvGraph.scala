package graft.bv

import ZigZag.nat2int

/** Decoder for BVGraph-compressed graphs — a clean-room Scala
  * implementation of the decode walk specified by
  * patched/HdfsBVGraph.java:99-201 in the reference (itself upstream
  * it.unimi.dsi.webgraph.BVGraph). Eager per-node decode: adjacency lists
  * average a handful of ints, so the reference's lazy 3-way iterator
  * machinery buys nothing under Spark's row-at-a-time pull.
  *
  * Random access (offsets + reference-chain recursion) lets a walk start
  * mid-stream, which is what makes the format splittable for parallel
  * scan (SURVEY.md §2.1 D1/D4).
  *
  * One kernel serves both id widths, as one encoder does: successor
  * values decode as Long into a [[Walk]]'s reused buffers, and every
  * consumer reads them from there — the iterators ([[nodeIteratorLong]],
  * and the Int views [[nodeIterator]], [[successorArray]], [[iterator]])
  * copy each list out at its exact length, the scan readers write it
  * straight into their row. The Int copies go through [[BvGraph.intId]],
  * which throws on a value past Int range instead of wrapping it.
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
  def acquire(): BvGraph = {
    if (!tryAcquire()) throw new IllegalStateException("graph already closed")
    this
  }

  /** Pin unless the last holder has already let go (the sources are
    * closed); true when pinned. */
  def tryAcquire(): Boolean = {
    var r = refs.get()
    while (r > 0 && !refs.compareAndSet(r, r + 1)) r = refs.get()
    r > 0
  }

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

  /** Random-access successors as Int ids, each checked by
    * [[BvGraph.intId]], which throws on a value outside Int range. */
  def successorArray(x: Int): Array[Int] = at(x).ints()

  /** Random-access successor decode. A reference chain resolves through
    * the walk's one random-access input (depth bounded by maxrefcount at
    * encode time — mirrors patched/HdfsBVGraph.java:238-243). */
  def successorArrayLong(x: Int): Array[Long] = at(x).longs()

  private def at(x: Int): Walk = {
    requireIndex()
    val w = new Walk(x, x + 1, x, 4096)
    w.next()
    w
  }

  /** Sequential scan over nodes [from, until) as Int ids: the [[walk]],
    * each list copied out through [[BvGraph.intId]]. The range checks
    * and the mid-split warm-up run eagerly, at the call. */
  def nodeIterator(from: Int, until: Int,
      bufferSize: Int = 1 << 20): Iterator[(Int, Array[Int])] = {
    val w = walk(from, until, bufferSize)
    new Iterator[(Int, Array[Int])] {
      def hasNext: Boolean = w.hasNext
      def next(): (Int, Array[Int]) = { w.next(); (w.node, w.ints()) }
    }
  }

  /** Sequential scan over nodes [from, until) as Long ids: the [[walk]],
    * each list copied out at its exact length. */
  def nodeIteratorLong(from: Int, until: Int,
      bufferSize: Int = 1 << 20): Iterator[(Int, Array[Long])] = {
    val w = walk(from, until, bufferSize)
    new Iterator[(Int, Array[Long])] {
      def hasNext: Boolean = w.hasNext
      def next(): (Int, Array[Long]) = { w.next(); (w.node, w.longs()) }
    }
  }

  /** The splittable-read primitive: a sequential decode of nodes
    * [from, until). A mid-stream start first decodes the `windowSize`
    * predecessors of `from` in order, so the window is warm as the
    * reference's node-iterator constructor makes it
    * (patched/HdfsBVGraph.java:221-229); only references that point
    * below those predecessors are decoded by random access. */
  def walk(from: Int, until: Int, bufferSize: Int = 1 << 20): Walk = {
    require(from >= 0 && from <= n, s"Node index out of range: $from")
    if (from > 0) requireIndex() // mid-split warm-up needs random access
    val hi = math.min(until, n)
    new Walk(from, hi, if (from < hi) from - math.min(from, windowSize) else from, bufferSize)
  }

  /** One decode walk and all its scratch. Nodes [start, from) are decoded
    * but not emitted (the warm-up); [[next]] decodes node [[node]], whose
    * list is the first [[outdegree]] values of [[successors]] until the
    * next call. Per node it allocates nothing: the parts decode into
    * scratch arrays and merge into the node's window slot, all grown on
    * demand and reused. A reference to a node below `start` is decoded
    * into the spare slot through one random-access input, whose position
    * is saved and restored around each nested resolution.
    *
    * A node resolves its reference before it touches the scratch, and it
    * has copied the referenced list out before it writes its own slot, so
    * one set of scratch arrays and one spare slot serve every depth of a
    * reference chain. */
  final class Walk private[BvGraph] (from: Int, until: Int, start: Int, bufferSize: Int) {
    private val in = newBitInput(
      if (offsets == null || start >= until) bufferSize
      else math.min(bufferSize.toLong, ((offsets(until) - offsets(start)) >>> 3) + 16).toInt)
    private var random: BitInput = _ // references below `start`, opened on first use
    private val spare = cyclicBufferSize
    private val lists = Array.fill(cyclicBufferSize + 1)(BvGraph.EMPTY)
    private val lens = new Array[Int](cyclicBufferSize + 1)
    private var copyBuf, intervalBuf, residualBuf = BvGraph.EMPTY
    private var curr = start
    private var slot = 0

    if (start < until) {
      in.position(if (start == 0) 0L else offsets(start))
      while (curr < from) next()
    }

    def hasNext: Boolean = curr < until
    def node: Int = curr - 1
    def outdegree: Int = lens(slot)
    def successors: Array[Long] = lists(slot)
    private[bv] def bitPosition: Long = in.bitPosition

    /** The current list at its exact length, as Long ids. */
    def longs(): Array[Long] =
      if (lens(slot) == 0) BvGraph.EMPTY else java.util.Arrays.copyOf(lists(slot), lens(slot))

    /** The current list at its exact length, as Int ids ([[BvGraph.intId]]). */
    def ints(): Array[Int] = {
      val d = lens(slot)
      if (d == 0) return BvGraph.EMPTY_INT
      val s = lists(slot)
      val out = new Array[Int](d)
      var i = 0
      while (i < d) { out(i) = BvGraph.intId(curr - 1, s(i)); i += 1 }
      out
    }

    def next(): Unit = {
      if (curr >= until) throw new NoSuchElementException(s"walk ended at node $until")
      val x = curr
      slot = x % cyclicBufferSize
      decodeNode(x, in, slot)
      // Integrity: node x's record must end exactly where offsets says
      // node x+1 begins. A truncated/corrupt stream zero-pads, and zeros
      // decode as plausible empty nodes — without this check a damaged
      // split would SILENTLY feed wrong adjacency downstream. (Skipped
      // in sequential-only mode — there is no index to check against.)
      if (offsets != null && in.bitPosition != offsets(x + 1))
        throw new java.io.EOFException(
          s"decode desync at node $x: ended at bit ${in.bitPosition}, " +
            s"offsets say ${offsets(x + 1)} (truncated or corrupt .graph?)")
      curr += 1
    }

    /** The slot that holds node y's list: its window slot once this walk
      * has decoded it, else the spare slot, decoded by random access. */
    private def listOf(y: Int, reading: BitInput): Int =
      if (y >= start) y % cyclicBufferSize
      else {
        if (random == null) random = newBitInput(4096)
        val resume = if (reading eq random) random.bitPosition else -1L
        random.position(offsets(y))
        decodeNode(y, random, spare)
        if (resume >= 0) random.position(resume)
        spare
      }

    private def corrupt(x: Int, in: BitInput, what: String): Nothing =
      throw new java.io.IOException(
        s"corrupt record in $graph at node $x, bit ${in.bitPosition}: $what")

    /** The BV decode kernel: outdegree → reference copy-blocks → intervals
      * → residuals → 3-way merge into `lists(dst)`. Successor VALUES are
      * Long, local node indexes and counts Int: a shard holds fewer than
      * 2³¹ nodes, but on a big graph its global ids, and the gaps between
      * them, pass 2³¹. A block or interval that would write past the
      * outdegree throws instead of landing in the longer scratch. */
    private def decodeNode(x: Int, in: BitInput, dst: Int): Unit = {
      val deg = readCoded(in, codings.outdegree)
      // before any scratch grows: a flipped outdegree would size three
      // arrays of up to 2^31 entries
      if (deg < 0 || deg > m) corrupt(x, in, s"outdegree $deg outside [0, $m], the graph's arc count")
      val d = deg.toInt
      if (d == 0) {
        lens(dst) = 0
        return
      }
      val ref = if (windowSize > 0) readCoded(in, codings.reference).toInt else 0
      if (ref < 0 || ref > windowSize || ref > x) corrupt(x, in, s"reference $ref outside the window")
      val refSlot = if (ref > 0) listOf(x - ref, in) else spare // resolves before the scratch is touched
      if (copyBuf.length < d) {
        val cap = math.max(d, copyBuf.length << 1)
        copyBuf = new Array[Long](cap)
        intervalBuf = new Array[Long](cap)
        residualBuf = new Array[Long](cap)
      }
      val copied = copyBuf
      val intervals = intervalBuf
      val residuals = residualBuf

      // 1. masked copy from the referenced list
      var nCopied = 0
      if (ref > 0) {
        val refList = lists(refSlot)
        val refLen = lens(refSlot)
        val blockCount = readCoded(in, codings.blockCount).toInt
        var pos = 0
        var i = 0
        while (i < blockCount) {
          val b = readCoded(in, codings.block).toInt + (if (i == 0) 0 else 1)
          if (b < 0 || b > refLen - pos)
            corrupt(x, in, s"block $i of length $b runs past the $refLen-long list of node ${x - ref}")
          if ((i & 1) == 0) { // copy block
            if (b > d - nCopied) corrupt(x, in, s"copy block $i of length $b runs past outdegree $d")
            System.arraycopy(refList, pos, copied, nCopied, b)
            nCopied += b
          }
          pos += b
          i += 1
        }
        if ((blockCount & 1) == 0) { // implicit trailing copy block
          val b = refLen - pos
          if (b > d - nCopied) corrupt(x, in, s"implicit trailing copy of length $b runs past outdegree $d")
          System.arraycopy(refList, pos, copied, nCopied, b)
          nCopied += b
        }
      }

      var extraCount = d - nCopied

      // 2. intervals (γ throughout, first left extreme zigzagged against x)
      var nIntervals = 0
      if (extraCount > 0 && minIntervalLength != 0) {
        val intervalCount = in.readGamma()
        var prev = 0L
        var i = 0
        while (i < intervalCount) {
          val left =
            if (i == 0) nat2int(in.readLongGamma()) + firstNode + x
            else in.readLongGamma() + prev + 1
          val len = in.readGamma() + minIntervalLength
          if (len < 0 || len > extraCount)
            corrupt(x, in, s"interval $i of length $len runs past the $extraCount successors left")
          var k = 0
          while (k < len) { intervals(nIntervals) = left + k; nIntervals += 1; k += 1 }
          prev = left + len
          extraCount -= len
          i += 1
        }
      }

      // 3. residuals (first zigzagged against x, then +1-gap coded)
      if (extraCount > 0) {
        var prev = firstNode + x + nat2int(readCoded(in, codings.residual))
        residuals(0) = prev
        var i = 1
        while (i < extraCount) {
          prev += readCoded(in, codings.residual) + 1
          residuals(i) = prev
          i += 1
        }
      }

      // 4. merge three ascending, disjoint sequences into the node's slot
      if (lists(dst).length < d) lists(dst) = new Array[Long](math.max(d, lists(dst).length << 1))
      BvGraph.merge3(copied, nCopied, intervals, nIntervals, residuals, extraCount, lists(dst))
      lens(dst) = d
    }
  }

  /** Re-derive the n+1 record bit-offsets by one sequential decode pass —
    * the engine's version of the reference's ONLY sink, the offsets
    * regeneration job (writeOffsets,
    * /root/reference/.../patched/HdfsBVGraph.java:393-407). Works in
    * sequential-only mode (no .offsets file needed). */
  def rebuildOffsets(bufferSize: Int = 1 << 20): Array[Long] = {
    val w = walk(0, n, bufferSize)
    val out = new Array[Long](n + 1)
    var x = 0
    while (x < n) {
      out(x) = w.bitPosition
      w.next()
      x += 1
    }
    out(n) = w.bitPosition
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
    * the first `nb` of `b` and the first `nc` of `c` — into the front of
    * `out`. */
  private[bv] def merge3(a: Array[Long], na: Int, b: Array[Long], nb: Int,
      c: Array[Long], nc: Int, out: Array[Long]): Unit = {
    // one non-empty part (residuals alone, or a whole copy) is one copy
    if (nb == 0 && nc == 0) { System.arraycopy(a, 0, out, 0, na); return }
    if (na == 0 && nb == 0) { System.arraycopy(c, 0, out, 0, nc); return }
    val d = na + nb + nc
    var i = 0
    var j = 0
    var k = 0
    var o = 0
    while (o < d) {
      val va = if (i < na) a(i) else Long.MaxValue
      val vb = if (j < nb) b(j) else Long.MaxValue
      val vc = if (k < nc) c(k) else Long.MaxValue
      if (va <= vb && va <= vc) { out(o) = va; i += 1 }
      else if (vb <= vc) { out(o) = vb; j += 1 }
      else { out(o) = vc; k += 1 }
      o += 1
    }
  }

  /** Successor `v` of node `x` as an Int id, for the Int views and
    * INT-schema scans. Fails closed: a value outside Int range (a big
    * shard read through the Int API) throws instead of wrapping into a
    * wrong id. */
  def intId(x: Int, v: Long): Int = {
    if (v.toInt != v) notAnInt(x, v)
    v.toInt
  }

  private def notAnInt(x: Int, v: Long): Nothing =
    throw new ArithmeticException(s"node $x: successor $v does not fit an Int id " +
      "(read the graph as Long: nodeIteratorLong, or a scan of an idwidth=long manifest)")
}
