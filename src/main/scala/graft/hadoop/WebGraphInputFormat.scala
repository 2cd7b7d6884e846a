package graft.hadoop

import java.io.{DataInput, DataOutput, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{ArrayWritable, IntWritable, Text, Writable}
import org.apache.hadoop.mapreduce._

import graft.sources.{BvGraphCache, BvShards}

/** Hadoop `InputFormat` compatibility shim — the reference's namesake API
  * (io/WebGraphInputFormat.java:16-156) re-expressed over graft's codec,
  * so the README's exact `sc.newAPIHadoopRDD` flow
  * (/root/reference/README.md:14-29, 37-48) runs with only the import
  * line changed:
  *
  * {{{
  * import graft.hadoop._
  * WebGraphInputFormat.setBasename(sc.hadoopConfiguration, basename)
  * WebGraphInputFormat.setNumberOfSplits(sc.hadoopConfiguration, 100)
  * val rdd = sc.newAPIHadoopRDD(sc.hadoopConfiguration,
  *   classOf[WebGraphInputFormat], classOf[IntWritable], classOf[IntArrayWritable])
  * }}}
  *
  * Behavioral contract preserved: key = node id (`IntWritable`), value =
  * successor array (`IntArrayWritable`), splits slice the node space
  * uniformly into `numberOfSplits` ranges of ceil(n/splits) nodes
  * (io/WebGraphInputFormat.java:100 — the reader re-derives the range
  * from the split's `from` + conf, exactly like the reference), split
  * byte lengths and block-location hosts come from the offsets index.
  *
  * Differences (all strictly better, none observable through the API):
  * the graph + decoded offsets index load once per executor JVM via
  * [[graft.sources.BvGraphCache]] instead of once per task, and
  * mid-split starts warm the reference window by random access (same
  * semantics as the reference's `nodeIterator(from)`).
  *
  * This shim exists for verbatim ports of reference jobs; new code
  * should use `spark.read.format("bvgraph")` (pruning, pushdown,
  * byte-balanced splits, sharded + long-id graphs). It plans from the
  * same one-shard layout as that source ([[graft.sources.BvShards.layout]]);
  * a sharded manifest is rejected, because the reference API predates
  * them.
  */
class WebGraphInputFormat extends InputFormat[IntWritable, IntArrayWritable] {
  import WebGraphInputFormat._

  override def getSplits(context: JobContext): java.util.List[InputSplit] = {
    val basename = getBasename(context)
    val numSplits = getNumberOfSplits(context)
    val splits = new java.util.ArrayList[InputSplit](numSplits)
    val layout = BvShards.layout(basename)
    val shard = layout.manifest.shards match {
      case Seq(sh) if sh.base == basename => sh
      case _ => throw new IllegalArgumentException(s"$basename is a sharded graph; " +
        "the InputFormat reads unsharded graphs, read it with spark.read.format(\"bvgraph\")")
    }
    val graph = BvGraphCache.get(shard.base)
    val n = graph.n
    if (n == 0 && numSplits == 0) return splits
    if (numSplits < 1) throw new IllegalArgumentException("numberOfSplits < 0")

    // same node-uniform split law as the reference: ceil(n/splits) nodes
    // per range, last range short; byte spans from the offsets index
    val splitSize = math.ceil(n.toDouble / numSplits.toDouble).toInt
    var from = 0
    while (from < n || (from == 0 && n == 0)) {
      val until = math.min(from + splitSize, n)
      val startByte = graph.offsets(from) >>> 3
      val endByte = if (until == n) shard.bytes else graph.offsets(until) >>> 3
      splits.add(new NodeIteratorInputSplit(from, endByte - startByte,
        layout.hosts(shard.base, startByte, math.max(startByte + 1, endByte))))
      if (n == 0) return splits
      from = until
    }
    splits
  }

  override def createRecordReader(split: InputSplit,
      context: TaskAttemptContext): RecordReader[IntWritable, IntArrayWritable] =
    new WebGraphRecordReader
}

object WebGraphInputFormat {
  val BASENAME_PROPERTY = "graft.webgraph.basename"
  val SPLITS_PROPERTY = "graft.webgraph.splits"
  val DEFAULT_SPLITS = 100

  def setBasename(conf: Configuration, basename: String): Unit =
    conf.set(BASENAME_PROPERTY, basename)
  def setBasename(job: Job, basename: String): Unit =
    setBasename(job.getConfiguration, basename)
  def getBasename(context: JobContext): String =
    context.getConfiguration.get(BASENAME_PROPERTY, "")

  def setNumberOfSplits(conf: Configuration, splits: Int): Unit =
    conf.setInt(SPLITS_PROPERTY, splits)
  def setNumberOfSplits(job: Job, splits: Int): Unit =
    setNumberOfSplits(job.getConfiguration, splits)
  def getNumberOfSplits(context: JobContext): Int =
    context.getConfiguration.getInt(SPLITS_PROPERTY, DEFAULT_SPLITS)
}

/** Record reader: one sequential [[graft.bv.BvGraph.Walk]] over the split's
  * node range, Writables reused per record (standard Hadoop contract —
  * callers copy if they retain, exactly as with the reference's reader).
  * Per node it allocates only the value's exact-size `int[]`. */
class WebGraphRecordReader extends RecordReader[IntWritable, IntArrayWritable] {
  private val key = new IntWritable()
  private val values = new IntArrayWritable()
  private var walk: graft.bv.BvGraph#Walk = _
  private var graph: graft.bv.BvGraph = _
  private var total = 0
  private var done = 0

  override def initialize(inputSplit: InputSplit,
      context: TaskAttemptContext): Unit = {
    val split = inputSplit.asInstanceOf[NodeIteratorInputSplit]
    val basename = WebGraphInputFormat.getBasename(context)
    val numSplits = WebGraphInputFormat.getNumberOfSplits(context)
    graph = BvGraphCache.acquire(basename)
    // re-derive the range length from conf, like the reference
    // (WebGraphInputFormat.java:42-44): from + ceil(n/splits)
    val splitSize = math.ceil(graph.n.toDouble / numSplits.toDouble).toInt
    val from = split.getFrom
    val until = math.min(from + splitSize, graph.n)
    total = math.max(1, until - from)
    walk = graph.walk(from, until)
  }

  override def nextKeyValue(): Boolean =
    if (walk.hasNext) {
      walk.next()
      key.set(walk.node)
      values.set(walk.ints())
      done += 1
      true
    } else false

  override def getCurrentKey: IntWritable = key
  override def getCurrentValue: IntArrayWritable = values
  override def getProgress: Float = done.toFloat / total.toFloat
  override def close(): Unit = if (graph != null) { graph.release(); graph = null }
}

/** `ArrayWritable` of ints with the reference's accessor surface
  * (io/IntArrayWritable.java:6-40), backed by a plain `int[]` the way
  * `ArrayWritable` holds its array: `set(int[])` keeps the array and
  * `values`/`getValues` return it, with no boxing either way. The wire
  * form is `ArrayWritable`'s — an int count, then the ints — and the
  * `Writable` views (`get()`, `set(Writable[])`, `toStrings`, `toArray`)
  * box and unbox on demand. */
class IntArrayWritable() extends ArrayWritable(classOf[IntWritable]) {
  private var ids: Array[Int] = Array.emptyIntArray

  def this(values: Array[IntWritable]) = { this(); set(values.map(identity[Writable])) }

  // (Java's covariant-array override of get() is not expressible in
  // Scala; the int accessors below are the reference surface users call)
  def getValues: Array[Int] = ids

  def values: Array[Int] = ids

  def set(vals: Array[Int]): Unit = ids = vals

  override def set(vals: Array[Writable]): Unit =
    ids = vals.map(_.asInstanceOf[IntWritable].get())

  override def get(): Array[Writable] = ids.map(v => new IntWritable(v): Writable)

  override def toArray: AnyRef = ids.map(new IntWritable(_))

  override def toStrings: Array[String] = ids.map(_.toString)

  override def toString: String =
    s"ArrayWritable [valueClass=$getValueClass, values=${ids.mkString("[", ", ", "]")}]"

  override def write(out: DataOutput): Unit = {
    out.writeInt(ids.length)
    var i = 0
    while (i < ids.length) { out.writeInt(ids(i)); i += 1 }
  }

  override def readFields(in: DataInput): Unit = {
    val vals = new Array[Int](in.readInt())
    var i = 0
    while (i < vals.length) { vals(i) = in.readInt(); i += 1 }
    ids = vals
  }
}

/** Split descriptor: node-range start + byte length + block hosts,
  * Writable-serialized driver→task (io/NodeIteratorInputSplit.java:11-50).
  * It carries only `from`: the reader recomputes the range end from conf,
  * preserving the reference's exact split law. */
class NodeIteratorInputSplit(private var from: Int, private var length: Long,
    private var hosts: Array[String])
    extends InputSplit with Writable {
  def this() = this(0, 0L, Array.empty)

  def getFrom: Int = from

  override def write(out: DataOutput): Unit = {
    out.writeInt(from)
    out.writeLong(length)
    out.writeInt(hosts.length)
    hosts.foreach(h => Text.writeString(out, h))
  }

  override def readFields(in: DataInput): Unit = {
    from = in.readInt()
    length = in.readLong()
    hosts = Array.fill(in.readInt())(Text.readString(in))
  }

  @throws[IOException]
  override def getLength: Long = length
  @throws[IOException]
  override def getLocations: Array[String] = hosts
}
