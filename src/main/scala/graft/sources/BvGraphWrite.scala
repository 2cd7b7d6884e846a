package graft.sources

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.bv.{BitOutput, BvEncoder, BvOffsets, BvProperties}

/** Distributed BVGraph sink: `df.write.format("bvgraph").option("basename", b)`.
  *
  * BV compression is sequential within a stream (reference windows +
  * delta-coded offsets), so a single .graph file cannot be written by
  * parallel tasks. The distributed design is the same one parquet uses —
  * shards: the write declares `RequiresDistributionAndOrdering` (range
  * partition by `id`, sorted ascending), each task stream-encodes its
  * contiguous node range as a standalone BVGraph triple
  * `<basename>.d/part-NNNNN.{graph,offsets,properties}` with LOCAL node
  * ids 0..n_i (successor values stay global), and the driver commits a
  * `<basename>.shards` manifest mapping shards to global id ranges. The
  * bvgraph reader plans one partition per shard, so a sharded graph scans
  * with full parallelism and zero decode coupling between shards.
  *
  * At 100 TB: encode is one range shuffle + embarrassingly parallel
  * per-shard compression; no driver bottleneck, no global sort of
  * anything but the shuffle's range boundaries.
  *
  * Ids absent from the input inside a shard's range become empty-successor
  * nodes. Ids absent at shard boundaries (leading / trailing / between
  * shards) are not materialized by default; `.option("nodes", n)` requests
  * a dense [0, n) graph — commit() fills every boundary gap with
  * driver-encoded empty shards (an empty node is one γ(0) ≈ 1 bit, so even
  * multi-million-node gaps are a few hundred KB encoded metadata, never a
  * data path through the driver).
  */
class BvWriteBuilder(basename: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this // shards are always replaced

  /** Codec parameters from write options — the full coding surface is
    * writable, not just readable: `compressionflags` (same `|`-separated
    * names the `.properties` sidecar uses), `zetak`, `golombmodulus`,
    * `windowsize`, `maxrefcount`, `minintervallength`. Golomb-family
    * flags REQUIRE an explicit golombmodulus, mirroring the parse
    * contract (an implicit default would bake an undocumented modulus
    * into the written bits). Each data shard's own `.properties` carries
    * the flags, and boundary-pad shards (the `nodes` option) stay
    * default-coded — shards are independently decodable, so mixed
    * codings across one manifest are fine. */
  private def template: graft.bv.BvProperties = {
    def opt(k: String): Option[String] = Option(info.options.get(k))
    val codings = opt("compressionflags")
      .map(graft.bv.StreamCodings.fromFlagString)
      .getOrElse(graft.bv.StreamCodings())
    val golomb = opt("golombmodulus").map(_.toInt)
    if (codings.usesGolomb && golomb.isEmpty)
      throw new IllegalArgumentException(
        "Golomb-family compressionflags require .option(\"golombmodulus\", b)")
    graft.bv.BvProperties(0, 0,
      windowSize = opt("windowsize").map(_.toInt).getOrElse(7),
      maxRefCount = opt("maxrefcount").map(_.toInt).getOrElse(3),
      minIntervalLength = opt("minintervallength").map(_.toInt).getOrElse(4),
      zetaK = opt("zetak").map(_.toInt).getOrElse(3),
      codings = codings,
      golombModulus =
        golomb.getOrElse(graft.bv.BvProperties.DEFAULT_GOLOMB_MODULUS))
  }

  override def build(): Write = new BvWrite(basename, info.schema(),
    Option(info.options.get("shards")).map(_.toInt).getOrElse(0),
    Option(info.options.get("nodes")).map(_.toLong),
    template)
}

class BvWrite(basename: String, schema: StructType, shards: Int,
    padNodes: Option[Long],
    template: graft.bv.BvProperties = graft.bv.BvProperties(0, 0))
    extends Write with RequiresDistributionAndOrdering {
  private val ordering: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("id"), SortDirection.ASCENDING))
  override def requiredDistribution(): Distribution = Distributions.ordered(ordering)
  override def requiredOrdering(): Array[SortOrder] = ordering
  /** 0 = planner/AQE decides (coalesces small writes); `shards` option
    * pins the shard count. */
  override def requiredNumPartitions(): Int = shards

  override def toBatch: BatchWrite =
    new BvBatchWrite(basename, schema, padNodes, template)
}

case class BvShardCommit(part: Int, from: Long, until: Long, arcs: Long,
    graphBytes: Long, nonEmpty: Boolean) extends WriterCommitMessage

class BvBatchWrite(basename: String, schema: StructType, padNodes: Option[Long],
    template: graft.bv.BvProperties = graft.bv.BvProperties(0, 0))
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BvWriterFactory(basename, schema, template)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.collect { case m: BvShardCommit if m.nonEmpty => m }
      .sortBy(_.from)
    written.sliding(2).foreach {
      case Array(a, b) => require(a.until <= b.from,
        s"overlapping shards: [${a.from},${a.until}) vs [${b.from},${b.until})")
      case _ =>
    }
    val manifest = new Path(basename + ".shards")
    val fs = HadoopConf.fs(manifest)
    // `nodes` option: fill every boundary gap (leading, inter-shard,
    // trailing) with empty shards so the graph round-trips as dense [0, n)
    val shards: Seq[BvShardCommit] = padNodes match {
      case None => written.toSeq
      case Some(n) =>
        val maxUntil = if (written.isEmpty) 0L else written.map(_.until).max
        require(n >= maxUntil,
          s"nodes option ($n) below the max written id range end ($maxUntil)")
        var nextPart = (written.map(_.part).maxOption.getOrElse(-1)) + 1
        val bounds = (0L +: written.flatMap(s => Seq(s.from, s.until)).toSeq :+ n)
        val gaps = bounds.grouped(2).collect {
          case Seq(a, b) if a < b => (a, b)
        }.toSeq
        // a gap wider than one shard's 2^31 local-node cap is chunked —
        // pads are ~1 bit/node, so even a multi-billion-id leading gap is
        // a few hundred MB of sequential metadata writes, never a failure
        val padded = gaps.flatMap { case (gFrom, gUntil) =>
          Iterator.iterate(gFrom)(_ + BvShards.MAX_SHARD_NODES)
            .takeWhile(_ < gUntil).map { cFrom =>
              val cUntil = math.min(cFrom + BvShards.MAX_SHARD_NODES, gUntil)
              val base = BvShards.shardBase(basename, nextPart)
              nextPart += 1
              val bytes = BvShards.writeEmptyShard(fs, base, cUntil - cFrom)
              BvShardCommit(nextPart - 1, cFrom, cUntil, 0L, bytes, nonEmpty = true)
            }.toSeq
        }
        (written.toSeq ++ padded).sortBy(_.from)
    }
    val sb = new StringBuilder
    sb.append(s"shards=${shards.length}\n")
    // long-id ("big") graphs: the read side must surface BIGINT columns
    // and use the Long decode kernel — recorded here, decided by the
    // WRITTEN schema (ids/successors were LONG), mirroring upstream's
    // it.unimi.dsi.big.webgraph graphclass split
    if (schema("id").dataType == org.apache.spark.sql.types.LongType)
      sb.append("idwidth=long\n")
    sb.append(s"nodes=${if (shards.isEmpty) 0 else shards.map(_.until).max}\n")
    sb.append(s"arcs=${shards.map(_.arcs).sum}\n")
    shards.zipWithIndex.foreach { case (sh, i) =>
      sb.append(s"shard.$i.file=${BvShards.shardBase(basename, sh.part)}\n")
      sb.append(s"shard.$i.from=${sh.from}\n")
      sb.append(s"shard.$i.until=${sh.until}\n")
      // .graph byte size recorded at commit so scan planning needs ZERO
      // per-shard filesystem calls (the writer already knows the size)
      sb.append(s"shard.$i.bytes=${sh.graphBytes}\n")
    }
    val out = fs.create(manifest, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // an in-place overwrite can keep the old (mtime, length) when the
    // filesystem's mtime is coarse: drop the entry rather than rely on it
    BvShards.invalidate(basename)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(basename + ".d")
    val fs = HadoopConf.fs(dir)
    if (fs.exists(dir)) fs.delete(dir, true)
    BvShards.invalidate(basename)
  }
}

object BvShards {
  /** Per-shard LOCAL node cap: one shard's offsets index is a single
    * array, so local node counts stay below 2^31 (global ids don't). */
  val MAX_SHARD_NODES: Long = Int.MaxValue.toLong

  def shardBase(basename: String, part: Int): String =
    f"$basename.d/part-$part%05d"

  /** Global id ranges are Long: the BV codec caps a single shard at 2^31
    * nodes (SCALE.md §1 "Ceilings"), but the sharded layout itself
    * addresses an unbounded global id space, and successor values decode
    * as Long. `bytes` is the shard's `.graph` size
    * recorded at commit (-1 when absent — manifests written before the
    * field existed); planning falls back to one batched directory listing,
    * never per-shard RPCs. */
  case class Shard(base: String, from: Long, until: Long, bytes: Long = -1L)
  /** `big`: ids and successors surface as BIGINT — set by the
    * `idwidth=long` manifest line (written when the sink's input schema
    * was LONG) or inferred when any shard range crosses 2^31 (such a
    * manifest is unscannable narrow no matter what it claims). This is
    * the one place the id width is decided: every graph decodes through
    * the one Long-valued kernel, and only the scan's row building reads
    * `big`, narrowing INT rows with a check. */
  case class Manifest(nodes: Long, arcs: Long, shards: Seq[Shard],
      big: Boolean = false)

  /** Shard-directory listings made in this JVM — instrumentation for the
    * planning-cost gate, read as a before/after delta like
    * [[BvGraphCache.coldOpens]]: a repeated scan of an unchanged sharded
    * graph must not list its shard directory again. */
  val listings = new java.util.concurrent.atomic.AtomicLong()

  /** One version of a graph's read layout: the parsed manifest and, on
    * first use, the located statuses of its shards' `.graph` files (path →
    * status, for sizes and block hosts). A sharded graph lists its shard
    * directory once, with one batched `listLocatedStatus`: O(1) RPCs in
    * the shard count. */
  final class ManifestVersion private[BvShards] (val manifest: Manifest,
      list: () => Map[String, LocatedFileStatus]) {
    lazy val located: Map[String, LocatedFileStatus] = list()

    /** The listed status of shard `base`'s `.graph`, if any. */
    def status(base: String): Option[LocatedFileStatus] =
      located.get(new Path(base + ".graph").toUri.getPath)

    /** Hosts of the blocks of shard `base`'s `.graph` that overlap
      * [startByte, endByte): the reference's split locality
      * (io/NodeIteratorInputSplit.java:48-50). */
    def hosts(base: String, startByte: Long, endByte: Long): Array[String] =
      status(base).map(_.getBlockLocations
        .filter(b => b.getOffset < endByte && b.getOffset + b.getLength > startByte)
        .flatMap(_.getHosts).distinct).getOrElse(Array.empty)
  }

  private def listShards(basename: String): Map[String, LocatedFileStatus] = {
    listings.incrementAndGet()
    val dir = new Path(basename + ".d")
    try {
      val it = HadoopConf.fs(dir).listLocatedStatus(dir)
      val b = Map.newBuilder[String, LocatedFileStatus]
      while (it.hasNext) {
        val st = it.next()
        b += st.getPath.toUri.getPath -> st
      }
      b.result()
    } catch { case _: Exception => Map.empty }
  }

  private val MAX_VERSIONS = 64
  /** basename → ((mtime, length) of `.shards`, its parsed version). */
  private val versions = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, ((Long, Long), ManifestVersion)](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ((Long, Long), ManifestVersion)]): Boolean =
        size() > MAX_VERSIONS
    })

  /** The current version of `<basename>.shards`, if present. Versions are
    * cached per JVM under the file's (mtime, length), so a warm lookup is
    * one `getFileStatus`; a rewrite by another process changes the key
    * and is re-read on the next lookup. The sink's commit and abort drop
    * the entry outright ([[invalidate]]), so an in-process overwrite
    * never depends on mtime resolution. */
  def lookup(basename: String): Option[ManifestVersion] = {
    val p = new Path(basename + ".shards")
    val fs = HadoopConf.fs(p)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => invalidate(basename); return None }
    // the key is taken BEFORE reading: a rewrite racing the read leaves a
    // stale key, which only costs one more parse on the next lookup
    val key = (st.getModificationTime, st.getLen)
    Some(versions.compute(basename, (_, cached) =>
      if (cached != null && cached._1 == key) cached
      else (key, new ManifestVersion(parse(fs, p), () => listShards(basename)))
    )._2)
  }

  /** The read layout of `basename`, which every read plans from: the
    * cached manifest version of a sharded graph, else the unsharded graph
    * as one shard [0, n) of the graph's own `.properties` counts, whose
    * `.graph` status is one `listLocatedStatus` of that file. */
  def layout(basename: String): ManifestVersion = lookup(basename).getOrElse {
    val g = BvGraphCache.get(basename)
    val graphPath = new Path(basename + ".graph")
    val st = HadoopConf.fs(graphPath).listLocatedStatus(graphPath).next()
    new ManifestVersion(Manifest(g.n, g.m, Seq(Shard(basename, 0, g.n, st.getLen))),
      () => Map(graphPath.toUri.getPath -> st))
  }

  /** Forget the cached manifest version of `basename`. */
  def invalidate(basename: String): Unit = versions.remove(basename): Unit

  /** Read `<basename>.shards` if present (through [[lookup]]'s cache). */
  def readManifest(basename: String): Option[Manifest] =
    lookup(basename).map(_.manifest)

  private def parse(fs: FileSystem, p: Path): Manifest = {
    val props = new java.util.Properties()
    val in = fs.open(p)
    try props.load(in) finally in.close()
    val k = props.getProperty("shards").toInt
    val shards = (0 until k).map { i =>
      Shard(props.getProperty(s"shard.$i.file"),
        props.getProperty(s"shard.$i.from").toLong,
        props.getProperty(s"shard.$i.until").toLong,
        Option(props.getProperty(s"shard.$i.bytes")).map(_.toLong).getOrElse(-1L))
    }
    val big = "long" == props.getProperty("idwidth") ||
      shards.exists(_.until > Int.MaxValue.toLong)
    Manifest(props.getProperty("nodes").toLong,
      props.getProperty("arcs").toLong, shards, big)
  }

  /** Regenerate offsets for every shard of a sharded graph (the sink's
    * primary output shape) — the sharded form of the reference's offsets
    * job. Shards are standalone BV triples, so each regenerates
    * independently; on a cluster this distributes as one task per shard,
    * here the driver loop is the local[*] equivalent. Returns the shard
    * basenames touched. */
  def regenerateOffsets(basename: String): Seq[String] = {
    val mf = readManifest(basename).getOrElse(
      throw new IllegalArgumentException(s"no $basename.shards manifest"))
    mf.shards.map { sh => BvOffsets.regenerate(sh.base); sh.base }
  }

  /** The `.offsets` stream of an all-empty shard, emitted as whole bytes.
    * Bit stream = γ(0) ++ γ(1)×count = '1' ++ '010'×count, MSB-first,
    * zero-padded — after byte 0 (which carries the leading '1') the
    * stream is periodic with byte period 3 (= lcm(3 bits, 8 bits) / 8).
    * Byte-identical to what [[graft.bv.BvOffsets.encode]] produces for
    * offsets 0,1,2,…,count (property-gated in BvWriteSpec), but O(bytes)
    * instead of per-bit driver work. */
  private[graft] def writeEmptyOffsets(out: java.io.OutputStream, count: Long): Unit = {
    val totalBits = 1L + 3L * count
    val totalBytes = (totalBits + 7) / 8
    val periodic = Array(0x24, 0x92, 0x49) // value for byte index b%3, b >= 1
    val CHUNK = 1 << 16
    val buf = new Array[Byte](math.min(totalBytes, CHUNK.toLong).toInt)
    var b = 0L
    while (b < totalBytes) {
      val len = math.min(CHUNK.toLong, totalBytes - b).toInt
      var i = 0
      while (i < len) {
        val idx = b + i
        buf(i) = (if (idx == 0L) 0xA4 else periodic((idx % 3).toInt)).toByte
        i += 1
      }
      if (b + len == totalBytes) {
        val pad = (8L * totalBytes - totalBits).toInt
        buf(len - 1) = (buf(len - 1) & (0xFF << pad)).toByte
      }
      out.write(buf, 0, len)
      b += len
    }
  }

  /** Driver-side encode of `count` empty (degree-0) nodes as a standalone
    * shard triple — the gap filler for the `nodes` write option. Cost is
    * ~1 bit per node; no row data flows through the driver. Both streams
    * are emitted as whole precomputed bytes (γ(0)='1' runs for `.graph`
    * via [[graft.bv.BitOutput.writeOnes]], the periodic '010' gap pattern
    * for `.offsets`) — a gap near the 2^31-node cap costs ~¼ GB of
    * sequential byte writes, never minutes of per-bit driver stall. */
  def writeEmptyShard(fs: FileSystem, base: String, count: Long): Long = {
    require(count <= Int.MaxValue, s"gap shard too large: $count nodes")
    val graphOut = fs.create(new Path(base + ".graph"), true)
    try {
      val bits = new BitOutput(graphOut)
      bits.writeOnes(count) // one γ(0) outdegree record per node
      bits.flush()
    } finally graphOut.close()
    val offOut = fs.create(new Path(base + ".offsets"), true)
    try writeEmptyOffsets(offOut, count) finally offOut.close()
    val propsText = BvProperties(count.toInt, 0L).render
    val out = fs.create(new Path(base + ".properties"), true)
    try out.write(propsText.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    finally out.close()
    (count + 7) / 8 // γ(0) is one bit ⇒ graph byte size, exactly
  }
}

class BvWriterFactory(basename: String, schema: StructType,
    template: graft.bv.BvProperties = graft.bv.BvProperties(0, 0))
    extends DataWriterFactory {
  private val idIdx = schema.fieldIndex("id")
  private val succIdx = schema.fieldIndex("successors")
  // long-id write: BIGINT id column selects the wide row accessors (the
  // codec itself is width-agnostic — same bits either way for in-range ids)
  private val big = schema("id").dataType == org.apache.spark.sql.types.LongType

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BvShardWriter(basename, partitionId, taskId, idIdx, succIdx, big, template)
}

/** One task = one shard. Rows arrive id-ascending (RequiresDistributionAnd-
  * Ordering); the shard is stream-encoded as it arrives — memory held is
  * the reference window, not the partition. Output goes to an
  * attempt-suffixed temp triple, renamed into place on task commit. */
class BvShardWriter(basename: String, partitionId: Int, taskId: Long,
    idIdx: Int, succIdx: Int, big: Boolean = false,
    template: graft.bv.BvProperties = graft.bv.BvProperties(0, 0))
    extends DataWriter[InternalRow] {
  private val finalBase = BvShards.shardBase(basename, partitionId)
  private val tmpBase = s"$finalBase.attempt-$taskId"
  private val fs = HadoopConf.fs(new Path(finalBase + ".graph"))

  private var enc: BvEncoder#Stream = _
  private var graphOut: org.apache.hadoop.fs.FSDataOutputStream = _
  private var from = -1L
  private var nextId = -1L

  override def write(row: InternalRow): Unit = {
    val id = if (big) row.getLong(idIdx) else row.getInt(idIdx).toLong
    if (enc == null) {
      graphOut = fs.create(new Path(tmpBase + ".graph"), true)
      // anchor this shard's value deltas at its global base id — without
      // it every node pays ≈ zigzag(base) bits on its first residual
      // (unary-quotient codings make that catastrophic; see BvProperties)
      val encoder = new BvEncoder(template.copy(firstNode = id))
      enc = new encoder.Stream(graphOut)
      from = id
      nextId = id
    }
    require(id >= nextId, s"ids must be ascending: got $id after ${nextId - 1}")
    require(id - from < BvShards.MAX_SHARD_NODES,
      s"shard ${partitionId} would hold ${id - from + 1} local nodes " +
        s"(> 2^31 cap); raise the `shards` option so range partitioning " +
        "cuts the id space finer")
    while (nextId < id) { enc.append(BvShardWriter.EMPTY); nextId += 1 } // gap nodes
    enc.append(BvShardWriter.successors(row.getArray(succIdx), big))
    nextId += 1
  }

  override def commit(): WriterCommitMessage = {
    if (enc == null)
      return BvShardCommit(partitionId, 0, 0, 0L, 0L, nonEmpty = false)
    val (offsets, propsText) = enc.finish()
    val graphBytes = graphOut.getPos // size known here — recorded in the
    graphOut.close()                 // manifest so planning needs no RPCs
    def put(suffix: String, bytes: Array[Byte]): Unit = {
      val out = fs.create(new Path(tmpBase + suffix), true)
      try out.write(bytes) finally out.close()
    }
    put(".offsets", offsets)
    put(".properties", propsText.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    Seq(".graph", ".offsets", ".properties").foreach { sfx =>
      val dst = new Path(finalBase + sfx)
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(new Path(tmpBase + sfx), dst), s"rename failed: $dst")
    }
    BvShardCommit(partitionId, from, nextId, enc.arcCount, graphBytes,
      nonEmpty = true)
  }

  override def abort(): Unit = {
    if (graphOut != null) graphOut.close()
    Seq(".graph", ".offsets", ".properties").foreach { sfx =>
      val p = new Path(tmpBase + sfx)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }

  override def close(): Unit = ()
}

object BvShardWriter {
  private val EMPTY = new Array[Long](0)

  /** A row's successors as the encoder's `Array[Long]`, in one copy. */
  private def successors(a: ArrayData, big: Boolean): Array[Long] = {
    if (big) return a.toLongArray()
    val out = new Array[Long](a.numElements())
    var i = 0
    while (i < out.length) { out(i) = a.getInt(i).toLong; i += 1 }
    out
  }
}
