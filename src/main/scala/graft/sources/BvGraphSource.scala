package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FsConstants, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

import graft.bv.{BitInput, BvGraph, BvProperties, SeekableBytes}

/** DataSource V2 connector for BVGraph-compressed graphs:
  * `spark.read.format("bvgraph").option("basename", prefix)` yields rows
  * `(id INT, successors ARRAY<INT>)` — the Spark-native re-expression of the
  * reference's Hadoop InputFormat
  * (/root/reference/src/main/java/de/l3s/mapreduce/webgraph/io/WebGraphInputFormat.java:16-25).
  *
  * Scale design (SURVEY.md §2.1 S1-S4, §4.3):
  *  - One planner for every layout ([[BvShards.layout]]): an unsharded
  *    graph is a one-shard manifest. Each shard's node range becomes
  *    **byte-balanced** partitions cut on its offsets index (equal
  *    compressed bytes, not equal node counts), so skewed graphs don't
  *    produce straggler tasks. By default a shard of up to 64 MiB is one
  *    partition and a larger one gets one per ~32 MiB; the `splits` option
  *    cuts every scanned shard into that many parts.
  *  - `preferredLocations` from the `.graph` files' located statuses —
  *    HDFS locality exactly like the reference's `NodeIteratorInputSplit`.
  *  - Per-executor JVM cache of the decoded offsets index (the reference
  *    re-reads `.offsets` per task — SURVEY.md §2.1 "Per-task graph reload"
  *    note; we load once per executor and share across tasks).
  *  - `SupportsPushDownRequiredColumns`: a scan that doesn't need
  *    `successors` never decodes adjacency data at all — ids are synthesized
  *    from the range (zero graph I/O).
  *  - `SupportsReportStatistics`: `nodes`/`arcs` from `.properties` feed
  *    Catalyst's join planning (broadcast decisions).
  */
class BvGraphTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bvgraph"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // long-id graphs surface BIGINT columns. Reads auto-detect from the
    // manifest (schema is a property of the graph on disk, like parquet
    // footer inference); a FRESH big write has no manifest yet, so the
    // writer opts in with .option("idwidth", "long") — the input schema
    // then validates against the LONG table schema instead of INT.
    val basename = options.get("basename")
    if ("long".equalsIgnoreCase(options.getOrDefault("idwidth", "")) ||
        (basename != null && BvShards.readManifest(basename).exists(_.big)))
      BvGraphTable.LONG_SCHEMA
    else BvGraphTable.SCHEMA
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val basename = properties.get("basename")
    require(basename != null, "bvgraph source requires .option(\"basename\", ...)")
    val splits = Option(properties.get("splits")).map(_.toInt)
    // fresh big writes have no manifest to infer from — the idwidth
    // option forces the LONG schema so the input validates wide
    val forceLong = "long".equalsIgnoreCase(
      String.valueOf(properties.getOrDefault("idwidth", "")))
    new BvGraphTable(basename, splits, forceLong)
  }

  override def supportsExternalMetadata(): Boolean = false
}

object BvGraphTable {
  /** `outdegree` is derivable from `successors` but exists as a first-class
    * column because an outdegree-only scan has a dedicated fast path: the
    * reference's random-access D3 read (HdfsBVGraph.java:69-91) — position
    * at offsets(x), decode one γ value, never touch successor data. */
  val SCHEMA: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("successors", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("outdegree", IntegerType, nullable = false)))
  /** >2^31-global-id ("big") graphs: same columns, BIGINT ids. Outdegree
    * stays INT — one node's successor list is a single array, so its
    * length is Int-bounded even in big mode. */
  val LONG_SCHEMA: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("successors", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("outdegree", IntegerType, nullable = false)))
  /** Default bytes of compressed graph per input partition. */
  val TARGET_SPLIT_BYTES: Long = 32L * 1024 * 1024
}

class BvGraphTable(basename: String, splits: Option[Int],
    forceLong: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  // schema is decided by what's on disk at PLANNING time (manifest
  // idwidth) — absent/unsharded graphs are classic INT graphs unless the
  // idwidth=long option forces wide (fresh big writes)
  private lazy val big: Boolean =
    forceLong || BvShards.readManifest(basename).exists(_.big)
  override def name(): String = s"bvgraph(`$basename`)"
  override def schema(): StructType =
    if (big) BvGraphTable.LONG_SCHEMA else BvGraphTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BvGraphScanBuilder(basename, splits, big)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new BvWriteBuilder(basename, info)
}

class BvGraphScanBuilder(basename: String, splits: Option[Int],
    big: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var required: StructType =
    if (big) BvGraphTable.LONG_SCHEMA else BvGraphTable.SCHEMA
  // Long sentinels: "no bound" must not clamp away manifest shards whose
  // global id ranges sit past 2^31 (the Long-id escape hatch)
  private var lo: Long = Long.MinValue // inclusive id lower bound
  private var hi: Long = Long.MaxValue // exclusive id upper bound
  private var accepted: Array[Filter] = Array.empty
  private var pushedAggs: Option[Seq[BvGraphScan.PushedAgg]] = None
  private var limit: Option[Int] = None

  /** LIMIT k plans a k-node prefix scan: the offsets index makes "first k
    * rows" a planning-time range truncation — one partition, zero decode
    * I/O past the k-th record — instead of launching a full-range scan
    * that the LocalLimit then abandons. Spark only offers the limit when
    * no post-scan filter remains, that is when [[pushFilters]] consumed
    * every filter. The scan's rows are then exactly the nodes of the
    * clamped id ranges, so truncating their walk after k nodes returns k
    * rows that all pass the query's filters. Spark still applies its own
    * GlobalLimit above (isPartiallyPushed default), which is a no-op on
    * the truncated output. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-answerable aggregates never scan: COUNT(*) is the size of
    * the id-clamped node ranges, SUM(outdegree) is `arcs` from the
    * properties/manifest, MIN/MAX(id) are the clamped ranges' bounds.
    * Only pushed when no grouping and every aggregate in the query is
    * answerable. Spark offers aggregates only when no post-scan filter
    * remains, so every filter of the query was an exact id range that
    * [[pushFilters]] consumed: the clamped ranges hold exactly the rows
    * the aggregates see. SUM(outdegree) additionally requires an
    * unclamped scan, because `arcs` is a whole-graph stat. At 100 TB,
    * `SELECT count(*) FROM graph WHERE id < x` is O(1) instead of a
    * decode. */
  private def resolve(agg: Aggregation): Option[Seq[BvGraphScan.PushedAgg]] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val unfiltered = lo == Long.MinValue && hi == Long.MaxValue
    val resolved = agg.aggregateExpressions().map {
      case _: CountStar => Some(BvGraphScan.CountStar)
      case s: Sum if !s.isDistinct => s.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("outdegree"))
          && unfiltered => Some(BvGraphScan.SumOutdegree)
        case _ => None
      }
      case m: Min => m.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("id")) =>
          Some(BvGraphScan.MinId)
        case _ => None
      }
      case m: Max => m.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("id")) =>
          Some(BvGraphScan.MaxId)
        case _ => None
      }
      case _ => None
    }
    if (resolved.forall(_.isDefined)) Some(resolved.map(_.get).toSeq) else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    resolve(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    resolve(agg) match {
      case some @ Some(_) => pushedAggs = some; true
      case None => false
    }
  }

  /** Predicates on `id` clamp the scanned node ranges at planning time
    * (offsets make any id range directly addressable — zero I/O for
    * skipped nodes). The contract is exact pushdown: a filter whose id
    * range [[BvGraphScan.idBounds]] marks exact (`>`, `>=`, `<`, `<=`,
    * `=` on `id` with an integral literal) is consumed, because the
    * clamped scan returns exactly the rows that pass it; it is not
    * returned, so Spark plans no `Filter` above the scan. Every other
    * filter is returned as a residual for Spark to evaluate on the rows.
    * An `id IN (...)` residual still narrows the scan to its [min, max]
    * envelope. `pushedFilters` reports every filter that clamped the
    * scan, consumed or not. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val bounded = filters.map(f => f -> BvGraphScan.idBounds(f))
    bounded.flatMap(_._2).foreach { b => lo = math.max(lo, b.lo); hi = math.min(hi, b.hi) }
    accepted = bounded.collect { case (f, Some(_)) => f }
    bounded.collect { case (f, b) if !b.exists(_.exact) => f } // the residuals
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new BvGraphScan(basename, splits, required, lo, hi, pushedAggs, big, limit)
}

class BvGraphScan(basename: String, splits: Option[Int], required: StructType,
    planLo: Long = Long.MinValue, planHi: Long = Long.MaxValue,
    pushedAggs: Option[Seq[BvGraphScan.PushedAgg]] = None,
    big: Boolean = false, limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  // Runtime filtering (the DSv2 analogue of dynamic partition pruning):
  // when this scan sits under a join whose other side is selective, Spark
  // hands us the join-key values AT RUNTIME via filter(); we tighten the
  // id bounds and planInputPartitions() drops/narrows node ranges before
  // any task launches. Partial pruning is sound — the join re-evaluates
  // its condition — so collapsing an IN-set to its [min, max] envelope
  // never loses rows, it only bounds how much we skip. At 100 TB this
  // turns "scan the whole graph to join 1000 ids" into a seek.
  @volatile private var rtLo: Long = Long.MinValue
  @volatile private var rtHi: Long = Long.MaxValue
  private def idLo: Long = math.max(planLo, rtLo)
  private def idHi: Long = math.min(planHi, rtHi)

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    // an unsupported runtime filter leaves the scan unpruned (safe)
    filters.flatMap(BvGraphScan.idBounds).foreach { b =>
      rtLo = math.max(rtLo, b.lo); rtHi = math.min(rtHi, b.hi)
    }

  override def readSchema(): StructType = pushedAggs match {
    case Some(aggs) => StructType(aggs.zipWithIndex.map { case (a, i) =>
      // COUNT(*) of an empty range is 0; SUM/MIN/MAX over zero rows is NULL
      StructField(s"agg_$i", LongType, nullable = a != BvGraphScan.CountStar)
    })
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"BvGraphScan(basename=$basename, columns=${required.fieldNames.mkString(",")}" +
      (if (idLo > Long.MinValue || idHi < Long.MaxValue) s", id in [$idLo,$idHi)" else "") +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      pushedAggs.map(a => s", PushedAggregates: ${a.mkString(",")}").getOrElse("") + ")"

  /** The ACTUAL materialized global id ranges after pushed-filter clamping.
    * Sharded graphs are not required to tile [0, nodes) — leading and
    * inter-shard gaps are legal unless the write used the `nodes` pad
    * option — so row-count/min/max questions must be answered from the
    * shard ranges, never from a dense [0, nodes) assumption (a graph whose
    * ids start at 1000 would otherwise report COUNT(*) = nodes and
    * MIN(id) = 0, silently diverging from the unpushed scan). */
  private def clampedRanges(): Seq[(Long, Long)] =
    manifest.shards.map(sh => (math.max(sh.from, idLo), math.min(sh.until, idHi)))
      .filter { case (f, u) => f < u }

  // Every layout plans from one layout version ([[BvShards.layout]]),
  // taken once per scan: a sharded graph's manifest, or an unsharded graph
  // as one shard. Both planInputPartitions calls of a query see the same
  // shards and hosts. The per-executor graph cache is separate.
  private lazy val planned: BvShards.ManifestVersion = BvShards.layout(basename)
  private def manifest: BvShards.Manifest = planned.manifest

  override def estimateStatistics(): Statistics = new Statistics {
    private val n = manifest.shards.map(s => s.until - s.from).sum
    private val m = manifest.arcs
    override def sizeInBytes(): util.OptionalLong =
      // decompressed relational size: 4 B id + ~4 B per successor
      util.OptionalLong.of(4L * n + 4L * m)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(n)
  }

  /** Byte-balanced node-range cuts over [scanFrom, scanUntil): walk the
    * offsets index, cut when the running byte span exceeds the per-split
    * target (the reference slices the *node* space uniformly —
    * WebGraphInputFormat.java:100 — which straggles on skew). */
  private def byteBalancedCuts(g: BvGraph, scanFrom: Int, scanUntil: Int,
      numSplits: Int): Seq[(Int, Int)] = {
    val totalBits = g.offsets(scanUntil) - g.offsets(scanFrom)
    val targetBits = math.max(1L, totalBits / math.max(1, numSplits))
    val cuts = scala.collection.mutable.ArrayBuffer(scanFrom)
    var x = scanFrom
    while (x < scanUntil && cuts.length < numSplits) {
      val startBit = g.offsets(cuts.last)
      // binary-search the first node whose offset passes startBit+targetBits
      var lo = x + 1; var hi = scanUntil
      val limit = startBit + targetBits
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (g.offsets(mid) < limit) lo = mid + 1 else hi = mid
      }
      if (lo < scanUntil) cuts += lo
      x = lo
    }
    cuts += scanUntil
    (0 until cuts.length - 1).map(i => (cuts(i), cuts(i + 1)))
  }

  /** One planner for every layout: each shard's id-clamped,
    * limit-truncated node range becomes byte-balanced partitions.
    *
    *  - `splits` = k (and no pushed limit) cuts every scanned shard into k
    *    parts on its offsets index. An unsharded graph is one shard, so
    *    there k is the whole scan's partition count.
    *  - Otherwise a shard whose recorded bytes are at most twice
    *    [[BvGraphTable.TARGET_SPLIT_BYTES]] is one partition and costs no
    *    I/O; a larger one is cut into ceil(clamped bytes / target) parts,
    *    so no single task scans an oversized shard alone. A pushed limit
    *    never shreds its k-node prefix into the caller's split count.
    *
    * Planning I/O is the layout's ([[BvShards.layout]]). A sharded graph
    * costs one `getFileStatus` of `.shards` per lookup, and its shard
    * directory is listed once per manifest version with one batched
    * `listLocatedStatus`, never as a per-shard `getFileStatus` loop (10k
    * shards would mean 10k serial NameNode RPCs before the first task
    * launches). An unsharded graph costs its cached `.properties` status
    * and one `listLocatedStatus` of its `.graph`. Every Hadoop call goes
    * through [[HadoopConf.fs]]. Cached hosts may be stale after a block
    * move; they are only a locality hint. */
  override def planInputPartitions(): Array[InputPartition] = {
    pushedAggs.foreach { aggs =>
      // metadata-only answer from the ACTUAL shard id ranges (see
      // clampedRanges — dense [0, nodes) is not assumed)
      val ranges = clampedRanges()
      val count = ranges.map { case (f, u) => u - f }.sum
      val values: Array[java.lang.Long] = aggs.map {
        case BvGraphScan.CountStar => java.lang.Long.valueOf(count)
        case _ if count == 0L => null // SUM/MIN/MAX over zero rows
        case BvGraphScan.SumOutdegree => java.lang.Long.valueOf(manifest.arcs)
        case BvGraphScan.MinId => java.lang.Long.valueOf(ranges.map(_._1).min)
        case BvGraphScan.MaxId => java.lang.Long.valueOf(ranges.map(_._2).max - 1)
      }.toArray
      return Array(BvAggResultPartition(values))
    }
    val pv = planned
    // a pushed limit keeps the byte rule: see the scaladoc
    val perShard = if (limit.isDefined) None else splits
    // pushed LIMIT: truncate the clamped shard walk after `limit` nodes
    // (one row per node) — a prefix scan, usually a single partition
    var remaining: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)
    manifest.shards.flatMap { sh =>
      val gf = math.max(sh.from, idLo)
      val gu0 = math.min(sh.until, idHi)
      // saturating: gf + Long.MaxValue must not wrap when no limit is set
      val gu = if (remaining >= gu0 - gf) gu0 else gf + math.max(0L, remaining)
      if (gf < gu) remaining -= (gu - gf)
      if (gf >= gu) Nil
      else {
        // int-schema ceiling (classic graphs only): a scanned shard's
        // global ids must fit the INT id column. Long-id manifests
        // surface BIGINT columns instead.
        require(big || gu - 1 <= Int.MaxValue.toLong,
          s"shard [${sh.from},${sh.until}) holds ids beyond Int.MaxValue " +
            "but the manifest lacks idwidth=long; rewrite through the " +
            "sink with a BIGINT id schema (see SCALE.md Ceilings)")
        val localFrom = (gf - sh.from).toInt
        val localUntil = (gu - sh.from).toInt
        val graphBytes =
          if (sh.bytes >= 0) sh.bytes // recorded at commit — no I/O
          else pv.status(sh.base).map(_.getLen).getOrElse(0L)
        if (perShard.isEmpty && graphBytes <= 2 * BvGraphTable.TARGET_SPLIT_BYTES)
          Seq(BvInputPartition(sh.base, localFrom, localUntil,
            sh.from, pv.hosts(sh.base, 0L, Long.MaxValue)): InputPartition)
        else {
          val g = BvGraphCache.get(sh.base)
          val parts = perShard.getOrElse(math.max(1, math.ceil(
            ((g.offsets(localUntil) - g.offsets(localFrom)) / 8.0) /
              BvGraphTable.TARGET_SPLIT_BYTES).toInt))
          byteBalancedCuts(g, localFrom, localUntil, parts).map { case (a, b) =>
            BvInputPartition(sh.base, a, b, sh.from,
              pv.hosts(sh.base, g.offsets(a) >>> 3, (g.offsets(b) >>> 3) + 1)): InputPartition
          }
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (pushedAggs.isDefined) new BvAggReaderFactory
    else new BvGraphReaderFactory(required.fieldNames, big)

  /** Per-task decode counters, surfaced in the Spark UI / listener bus as
    * SQL metrics on the scan node — the observability a production source
    * needs (decode volume per task exposes skewed splits directly). */
  override def supportedCustomMetrics(): Array[
      org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new BvNodesDecodedMetric, new BvArcsDecodedMetric)
}

/** One concrete class per metric: the SQL status listener re-instantiates
  * the metric REFLECTIVELY by class name with a zero-arg constructor to
  * aggregate task values — a parameterized `BvSumMetric(name, desc)`
  * compiles and even renders at first, but every listener update fails
  * with "did not have a zero-argument constructor" and the UI metric
  * silently stays empty. */
class BvNodesDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bvNodesDecoded"
  override def description(): String = "BV nodes decoded"
}

class BvArcsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bvArcsDecoded"
  override def description(): String = "BV arcs decoded"
}

case class BvTaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

object BvGraphScan {
  import org.apache.spark.sql.sources._

  /** An integral filter literal as Long; None for any other type. */
  private def num(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case _ => None
  }

  /** Every row a filter admits has an id in [lo, hi). When `exact`, every
    * row in [lo, hi) also passes the filter, so the clamped scan answers
    * it alone. `Long.MinValue`/`Long.MaxValue` mean "no bound". */
  private[sources] final case class IdBounds(lo: Long, hi: Long, exact: Boolean)

  /** x + 1, saturating at `Long.MaxValue`. No node has id `Long.MaxValue`
    * (a shard's exclusive end is a Long), so [x, Long.MaxValue) holds every
    * id from x up. */
  private def after(x: Long): Long = if (x == Long.MaxValue) x else x + 1

  /** The id range one filter admits, for planning (`pushFilters`) and
    * runtime pruning (`filter`) alike; None for a filter that bounds no id,
    * or whose literal is not an Int, Long or Short. A comparison is exact;
    * an `IN` set is its [min, max] envelope, which is not. */
  private[sources] def idBounds(f: Filter): Option[IdBounds] = f match {
    case GreaterThan("id", v) => num(v).map(x => IdBounds(after(x), Long.MaxValue, exact = true))
    case GreaterThanOrEqual("id", v) => num(v).map(x => IdBounds(x, Long.MaxValue, exact = true))
    case LessThan("id", v) => num(v).map(x => IdBounds(Long.MinValue, x, exact = true))
    case LessThanOrEqual("id", v) => num(v).map(x => IdBounds(Long.MinValue, after(x), exact = true))
    case EqualTo("id", v) => num(v).map(x => IdBounds(x, after(x), exact = true))
    case In("id", vs) if vs.nonEmpty =>
      val ids = vs.flatMap(num(_))
      if (ids.length < vs.length) None
      else Some(IdBounds(ids.min, after(ids.max), exact = false))
    case _ => None
  }

  sealed trait PushedAgg
  case object CountStar extends PushedAgg { override def toString = "COUNT(*)" }
  case object SumOutdegree extends PushedAgg { override def toString = "SUM(outdegree)" }
  case object MinId extends PushedAgg { override def toString = "MIN(id)" }
  case object MaxId extends PushedAgg { override def toString = "MAX(id)" }
}

/** Single synthetic partition carrying metadata-derived aggregate values
  * (null = SQL NULL for empty-range SUM/MIN/MAX). */
case class BvAggResultPartition(values: Array[java.lang.Long])
    extends InputPartition

class BvAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vs = partition.asInstanceOf[BvAggResultPartition].values
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(vs.length)
        var i = 0
        while (i < vs.length) {
          if (vs(i) == null) row.setNullAt(i) else row.update(i, vs(i).longValue())
          i += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** Serialized driver→executor split descriptor (mirrors the reference's
  * NodeIteratorInputSplit, io/NodeIteratorInputSplit.java:11-50).
  * `basename` points at the (shard) graph; local node range
  * [from, until); global id = local id + idOffset (0 for unsharded).
  * `idOffset` is Long so sharded manifests can address a global id space
  * past 2^31 (per-shard LOCAL ids stay int — the codec ceiling); planning
  * guarantees every scanned partition's global ids fit the INT column. */
case class BvInputPartition(basename: String, from: Int, until: Int,
    idOffset: Long, hosts: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts

  /** Write local node `x`'s global id into `row(i)`: BIGINT when `big`,
    * else INT (planning checked that the partition's ids fit). */
  def putId(row: GenericInternalRow, i: Int, x: Int, big: Boolean): Unit =
    if (big) row.update(i, x + idOffset) else row.update(i, (x + idOffset).toInt)
}

/** `fields` is the pruned read schema in output order; `big` (the
  * manifest's `idwidth=long`) only picks BIGINT or INT for the id and
  * successor columns. Reader selection:
  *  - `successors` required → full sequential decode (D1/D2);
  *  - only `outdegree` (+`id`) → random-access outdegree walk (D3): one γ
  *    per node via the offsets index, successor data never decoded;
  *  - only `id` / nothing → ids synthesized from the range, zero graph I/O.
  */
class BvGraphReaderFactory(fields: Array[String], big: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BvInputPartition]
    if (fields.contains("successors")) new BvGraphPartitionReader(p, fields, big)
    else if (fields.contains("outdegree")) new BvOutdegreeReader(p, fields, big)
    else new BvIdOnlyReader(p, fields.length, big)
  }
}

/** Pruned scan: ids synthesized from the range (the scan collapses to a
  * counter). */
class BvIdOnlyReader(p: BvInputPartition, nFields: Int, big: Boolean = false)
    extends PartitionReader[InternalRow] {
  private var curr = p.from - 1
  private val row = new GenericInternalRow(nFields)
  override def next(): Boolean = { curr += 1; curr < p.until }
  override def get(): InternalRow = {
    if (nFields > 0) p.putId(row, 0, curr, big)
    row
  }
  override def close(): Unit = ()
}

/** Degree-only scan: per node, seek offsets(x) and decode a single
  * outdegree value (the reference's D3 fast path). */
class BvOutdegreeReader(p: BvInputPartition, fields: Array[String],
    big: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val graph = BvGraphCache.acquire(p.basename)
  private val in = graph.newBitInput()
  private val idIdx = fields.indexOf("id")
  private val outIdx = fields.indexOf("outdegree")
  private var curr = p.from - 1
  private val row = new GenericInternalRow(fields.length)

  private var nodes = 0L

  override def next(): Boolean = { curr += 1; curr < p.until }
  override def get(): InternalRow = {
    if (idIdx >= 0) p.putId(row, idIdx, curr, big)
    row.update(outIdx, graph.outdegree(curr, in))
    nodes += 1
    row
  }
  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(BvTaskMetric("bvNodesDecoded", nodes), BvTaskMetric("bvArcsDecoded", 0L))
  override def close(): Unit = graph.release()
}

/** Full scan: one sequential [[graft.bv.BvGraph.Walk]] of the split's node
  * range through the one decode kernel. Each row's successors are written
  * from the walk's reused buffer straight into the row's array: BIGINT as
  * decoded, or INT through [[graft.bv.BvGraph.intId]], which throws on a
  * value outside Int range. Per node nothing is allocated but the row's
  * array and its boxed values. */
class BvGraphPartitionReader(p: BvInputPartition, fields: Array[String],
    big: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val graph = BvGraphCache.acquire(p.basename)
  private val walk = graph.walk(p.from, p.until)
  private val idIdx = fields.indexOf("id")
  private val succIdx = fields.indexOf("successors")
  private val outIdx = fields.indexOf("outdegree")
  private val row = new GenericInternalRow(fields.length)

  private var nodes = 0L
  private var arcs = 0L

  override def next(): Boolean = {
    if (!walk.hasNext) return false
    walk.next()
    nodes += 1
    arcs += walk.outdegree
    true
  }

  override def get(): InternalRow = {
    val x = walk.node
    val d = walk.outdegree
    if (idIdx >= 0) p.putId(row, idIdx, x, big)
    if (succIdx >= 0) row.update(succIdx,
      if (big) UnsafeArrayData.fromPrimitiveArray(walk.successors, Platform.LONG_ARRAY_OFFSET, d, 8)
      else {
        val succ = walk.successors
        val a = UnsafeArrayData.createFreshArray(d, 4)
        var i = 0
        while (i < d) { a.setInt(i, BvGraph.intId(x, succ(i))); i += 1 }
        a
      })
    if (outIdx >= 0) row.update(outIdx, d)
    row
  }

  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(BvTaskMetric("bvNodesDecoded", nodes), BvTaskMetric("bvArcsDecoded", arcs))

  override def close(): Unit = graph.release()
}

/** The one Hadoop `Configuration` graft.sources builds from defaults:
  * JVM-wide, loaded at first use and read-only by convention. A fresh
  * `new Configuration()` re-parses `core-default.xml` and probes the
  * classpath for `core-site.xml` (about 6 ms each), which used to be paid
  * several times per read and once per executor cache lookup. Code that
  * must change a setting copies it first with `new Configuration(shared)`,
  * which clones the loaded properties without re-parsing. */
object HadoopConf {
  val shared: Configuration = {
    val c = new Configuration()
    c.size() // load the default resources now, so copies never re-parse
    c
  }

  /** One JVM-wide fork-free `file:` filesystem, built here rather than
    * through `FileSystem.get`, so Hadoop's FileSystem cache never holds
    * it. */
  private lazy val localFs: FileSystem = {
    val fs = new graft.hadoop.LocalFileSystem
    fs.initialize(FsConstants.LOCAL_FS_URI, shared)
    fs
  }

  /** The filesystem every `bvgraph` read and write of `p` goes through:
    * [[localFs]] for `file:` paths (a scheme-less path takes the default
    * filesystem's scheme), so no created file forks `chmod` and no status
    * or listing forks `ls`; `p.getFileSystem(shared)` for every other
    * scheme. */
  def fs(p: Path): FileSystem = {
    val scheme = Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(shared).getScheme)
    if (scheme == FsConstants.LOCAL_FS_URI.getScheme) localFs else p.getFileSystem(shared)
  }
}

/** Positioned-read adapter over Hadoop `FSDataInputStream` — the Spark-side
  * equivalent of the reference's HdfsRepositionableStream
  * (io/HdfsRepositionableStream.java:9-24). `read(position, ...)` is
  * thread-safe, so one open stream serves all readers in the executor. */
class HadoopBytes(path: Path) extends SeekableBytes {
  private val fs = HadoopConf.fs(path)
  private val len = fs.getFileStatus(path).getLen
  private val in = fs.open(path)
  def length: Long = len
  override def toString: String = path.toString
  def readAt(pos: Long, buf: Array[Byte], off: Int, n: Int): Int =
    if (pos >= len) -1 else in.read(pos, buf, off, n)
  override def close(): Unit = in.close()
}

/** Executor-wide cache: one decoded `BvGraph` (properties + offsets index)
  * per basename per JVM, shared by all tasks — fixes the reference's
  * per-task `.offsets` reload (SURVEY.md §2.1 notes). Entries invalidate
  * when the `.properties` mtime changes (graph rewritten in place) and
  * the cache is LRU-bounded so scans over many shards/graphs can't pin
  * unbounded offsets indexes in executor memory. A warm lookup costs one
  * `getFileStatus` of `.properties` and no `Configuration` construction
  * (it reads through [[HadoopConf.fs]]) — it runs for every executor
  * task and every `WebGraphInputFormat.getSplits`.
  *
  * Lifetime: entries are reference-counted (see [[graft.bv.BvGraph]]).
  * The cache holds one reference; [[acquire]] pins one more for an active
  * reader, so eviction under shard churn merely drops the cache's
  * reference — file handles close only when the last reader releases. A
  * pin never races an eviction: it is a compare-and-set that fails once
  * the count has reached zero, and a lookup whose pin fails looks up
  * again and finds a fresh entry.
  *
  * Cold opens run outside the map's lock: the map only hands out an
  * [[Entry]], and the first lookup of that entry opens the graph under the
  * entry's own lock. Tasks opening different shards open them in
  * parallel; tasks opening the same shard wait for one open. */
object BvGraphCache {
  /** Cold constructions (shard opens) in this JVM — instrumentation for
    * the "a pruned id-range scan opens ONLY the covering shards" gate
    * (SURVEY §4.3 item 4): planning prunes shards from the manifest
    * without touching them, so the count of fresh BvGraph constructions
    * IS the count of shards whose .graph/.offsets handles were opened.
    * Read as a before/after delta (local mode shares one JVM; on a
    * cluster each executor counts its own). */
  val coldOpens = new java.util.concurrent.atomic.AtomicLong()

  /** The graph of `basename` as of `mtime`, opened at most once. */
  private final class Entry(basename: String, val mtime: Long) {
    @volatile private var graph: BvGraph = _
    private var dropped = false

    def get(): BvGraph = {
      val g = graph
      if (g != null) g else open()
    }

    private def open(): BvGraph = synchronized {
      if (graph == null) {
        val propsPath = new Path(basename + ".properties")
        val in = HadoopConf.fs(propsPath).open(propsPath)
        val props = try BvProperties.parse(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.ISO_8859_1)) finally in.close()
        val g = new BvGraph(props,
          new HadoopBytes(new Path(basename + ".graph")),
          new HadoopBytes(new Path(basename + ".offsets")))
        coldOpens.incrementAndGet(): Unit
        if (dropped) g.release() // left the map while opening
        graph = g
      }
      graph
    }

    /** Drop the cache's reference: the entry left the map (LRU eviction,
      * or the graph was rewritten in place). */
    def drop(): Unit = synchronized {
      dropped = true
      if (graph != null) try graph.release() catch { case _: Exception => }
    }
  }

  private val MAX_ENTRIES = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Entry](32, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean = {
        val evict = size() > MAX_ENTRIES
        if (evict) e.getValue.drop()
        evict
      }
    })

  private def lookup(basename: String, pin: Boolean): BvGraph = {
    val propsPath = new Path(basename + ".properties")
    val mtime = HadoopConf.fs(propsPath).getFileStatus(propsPath).getModificationTime
    var graph: BvGraph = null
    while (graph == null) {
      val entry = cache.compute(basename, (_, cached) =>
        if (cached != null && cached.mtime == mtime) cached
        else {
          if (cached != null) cached.drop() // stale: graph rewritten in place
          new Entry(basename, mtime)
        })
      val g = entry.get()
      if (!pin || g.tryAcquire()) graph = g
    }
    graph
  }

  /** Pin-and-get for partition readers: the returned graph's handles stay
    * open across LRU eviction until the caller's `release()`. */
  def acquire(basename: String): BvGraph = lookup(basename, pin = true)

  /** Unpinned get for DRIVER-side planning, which only touches in-memory
    * state (properties + the decoded offsets index) — safe even if the
    * entry is later evicted and its byte sources closed. Executor-side
    * readers that decode bits MUST use [[acquire]] instead. */
  def get(basename: String): BvGraph = lookup(basename, pin = false)
}
