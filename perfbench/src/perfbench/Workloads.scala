package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.IntWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.bv.{BvEncoder, BvGraph, BvProperties}
import graft.hadoop.{IntArrayWritable, WebGraphInputFormat}
import graft.sources.BvShards

/** A named report value: `n` is the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

/** Times the measured call of one op; in a traced window that call is
  * also the op's span. Checks of the output stay outside it. */
final class Clock(tr: Option[Trace], op: String) {
  var ms: Double = Double.NaN
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try tr.fold(body)(_.op(Main.kind(op), op)(body))
    finally ms = (System.nanoTime() - t0) / 1e6
  }
}

/** One closed-loop workload. The harness calls [[setup]] several times
  * (each call builds the fixture from scratch; the last one stays), warms
  * up with [[warmupPasses]] passes over [[ops]], then cycles through them.
  * `run` times its call into the engine with the clock and returns whether
  * the output checked out. */
trait Workload {
  def ops: Seq[String]
  def setup(rep: Int): Unit
  /** Passes over `ops` before measuring; their time counts in `setup_s`. */
  def warmupPasses: Int
  /** Called at the start of every window, so each window sees the same
    * inputs whatever ran before it. */
  def startWindow(): Unit = ()
  def run(op: String, clock: Clock): Boolean
  /** Once-per-run check after the measured window. */
  def finalCheck(): Boolean = true
  /** Workload-specific end-to-end values, from the window's samples. */
  def report(w: Window): Seq[Metric]
  /** Shard triple whose codec cost the traced run measures. */
  def codecShard: String
  /** Workload-specific per-layer values of the traced run. */
  def layers(tr: Trace): Seq[Metric]
  def close(): Unit = ()
}

/** One timed op: its milliseconds and whether its output checked out. */
final case class Sample(op: String, ms: Double, ok: Boolean)

/** Timed samples of one measured window. */
final class Window(val samples: Seq[Sample], val wallS: Double) {
  def of(op: String): Seq[Double] = samples.filter(s => s.op == op && s.ok).map(_.ms)
  def median(op: String): Double = Stats.median(of(op))
  def count(op: String): Int = of(op).size
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Shards {
  def manifest(base: String): BvShards.Manifest =
    BvShards.readManifest(base).getOrElse(sys.error(s"no shard manifest at $base"))

  def graphBytes(base: String): Long =
    manifest(base).shards.map(s => new java.io.File(s.base + ".graph").length).sum

  def delete(base: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    val dir = new java.io.File(base).getParentFile
    val name = new java.io.File(base).getName
    Option(dir.listFiles).foreach(_.filter(_.getName.startsWith(name)).foreach(rm))
  }

  /** Write `df` through the sink as `shards` shards covering `nodes` ids. */
  def write(df: DataFrame, base: String, shards: Int, nodes: Int): Unit =
    df.write.format("bvgraph").option("basename", base)
      .option("shards", shards).option("nodes", nodes).mode("overwrite").save()
}

/** Scans of a DataFrame's rows, folded on the executors into
  * (rows, arcs, checksum) without materialising anything on the driver.
  * The fold runs under its own SQL execution id, so the query listeners
  * see it like any other action. */
object Scans {
  final case class Sum(arcs: Long, arcSum: Long, degSum: Long)

  private def exec[T](df: DataFrame, name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(df.queryExecution, Some(name))(body)

  /** `(id, successors)` rows → arc count and arc checksum. */
  def successors(df: DataFrame, name: String): Sum = exec(df, name) {
    df.queryExecution.toRdd.mapPartitions { rows =>
      var arcs = 0L
      var h = 0L
      var d = 0L
      rows.foreach { r =>
        val x = r.getInt(0)
        val s = r.getArray(1)
        val m = s.numElements()
        arcs += m
        d += WebGen.degTerm(x, m)
        var i = 0
        while (i < m) { h += WebGen.arcTerm(x, s.getInt(i)); i += 1 }
      }
      Iterator(Sum(arcs, h, d))
    }.collect().foldLeft(Sum(0, 0, 0))((a, b) => Sum(a.arcs + b.arcs, a.arcSum + b.arcSum, a.degSum + b.degSum))
  }

  /** `(id, outdegree)` rows → arc count and degree checksum. */
  def degrees(df: DataFrame, name: String): Sum = exec(df, name) {
    df.queryExecution.toRdd.mapPartitions { rows =>
      var arcs = 0L
      var d = 0L
      rows.foreach { r =>
        val deg = r.getInt(1)
        arcs += deg
        d += WebGen.degTerm(r.getInt(0), deg)
      }
      Iterator(Sum(arcs, 0L, d))
    }.collect().foldLeft(Sum(0, 0, 0))((a, b) => Sum(a.arcs + b.arcs, 0L, a.degSum + b.degSum))
  }

  def matches(s: Sum, e: WebGen.Stats): Boolean =
    s.arcs == e.arcs && s.arcSum == e.arcSum && s.degSum == e.degSum
}

/** Generator graph shared by the scan and ingest workloads. */
abstract class GraphWorkload(spark: SparkSession, seed: Long, runDir: String) extends Workload {
  val spec: WebGen.Spec = WebGen.Spec(seed, 500000)
  val shards = 8
  protected var blocks: Array[WebGen.Stats] = Array.empty
  protected var total: WebGen.Stats = WebGen.Zero

  protected def generateStats(): Unit = {
    blocks = WebGen.blockStats(spark, spec)
    total = blocks.foldLeft(WebGen.Zero)(_ + _)
  }

  protected def read(base: String): DataFrame =
    spark.read.format("bvgraph").option("basename", base).load()

  protected def fullScanOk(base: String): Boolean =
    Scans.matches(Scans.successors(read(base).select("id", "successors"), "perfbench.full"), total)

  protected def shard0(base: String): String = Shards.manifest(base).shards.head.base
}

/** `scan`: repeated reads of one compressed graph through the DSv2 source
  * and the InputFormat, plus degree-only scans and pushed 0.1% slices. */
final class ScanWorkload(spark: SparkSession, seed: Long, runDir: String)
    extends GraphWorkload(spark, seed, runDir) {
  val ops: Seq[String] =
    Seq("dsv2_full", "slice", "hadoop_full", "slice", "degree_scan", "slice")
  val warmupPasses = 2
  private var base: String = _
  private var rng: java.util.SplittableRandom = _ // picks the slices' blocks
  private val coldMs = new scala.collection.mutable.ArrayBuffer[Double]
  private val sliceArcs = new scala.collection.mutable.ArrayBuffer[Long] // arcs each slice returned

  def setup(rep: Int): Unit = {
    generateStats()
    val b = s"$runDir/scan/g$rep"
    Shards.write(WebGen.frame(spark, spec), b, shards, spec.nodes)
    val cold = new Clock(None, "cold_scan")
    require(cold(fullScanOk(b)), "cold scan after the write does not match the generator")
    coldMs += cold.ms
    if (base != null) Shards.delete(base)
    base = b
  }

  override def startWindow(): Unit =
    rng = new java.util.SplittableRandom(WebGen.mix64(seed ^ 0x5CA9L))

  private def hadoopScan(): Scans.Sum = {
    val sc = spark.sparkContext
    val parts = Shards.manifest(base).shards.map { s =>
      val conf = new Configuration(sc.hadoopConfiguration)
      WebGraphInputFormat.setBasename(conf, s.base)
      WebGraphInputFormat.setNumberOfSplits(conf, 2)
      val from = s.from.toInt
      sc.newAPIHadoopRDD(conf, classOf[WebGraphInputFormat], classOf[IntWritable],
        classOf[IntArrayWritable]).mapPartitions { it =>
        var arcs = 0L
        var h = 0L
        var d = 0L
        it.foreach { case (k, v) =>
          val x = from + k.get
          val succ = v.getValues
          arcs += succ.length
          d += WebGen.degTerm(x, succ.length)
          var i = 0
          while (i < succ.length) { h += WebGen.arcTerm(x, succ(i)); i += 1 }
        }
        Iterator(Scans.Sum(arcs, h, d))
      }
    }
    sc.union(parts).collect().foldLeft(Scans.Sum(0, 0, 0))((a, b) =>
      Scans.Sum(a.arcs + b.arcs, a.arcSum + b.arcSum, a.degSum + b.degSum))
  }

  def run(op: String, clock: Clock): Boolean = op match {
    case "dsv2_full" =>
      Scans.matches(clock(Scans.successors(read(base).select("id", "successors"), "perfbench.dsv2_full")), total)
    case "hadoop_full" =>
      Scans.matches(clock(hadoopScan()), total)
    case "degree_scan" =>
      val s = clock(Scans.degrees(read(base).select("id", "outdegree"), "perfbench.degree_scan"))
      s.arcs == total.arcs && s.degSum == total.degSum
    case "slice" =>
      val b = rng.nextInt(spec.blocks)
      val lo = b * WebGen.Block
      val s = clock(Scans.successors(read(base)
        .filter(col("id") >= lo && col("id") < lo + WebGen.Block)
        .select("id", "successors"), "perfbench.slice"))
      sliceArcs += s.arcs
      Scans.matches(s, blocks(b))
  }

  def report(w: Window): Seq[Metric] = Seq(
    Metric("scan_arcs_per_s", total.arcs / (w.median("dsv2_full") / 1e3), "arcs/s", w.count("dsv2_full")),
    Metric("hadoop_arcs_per_s", total.arcs / (w.median("hadoop_full") / 1e3), "arcs/s", w.count("hadoop_full")),
    Metric("degree_scan_ms_p50", w.median("degree_scan"), "ms", w.count("degree_scan")),
    Metric("slice_ms_p50", Stats.quantile(w.of("slice"), 0.5), "ms", w.count("slice")),
    Metric("slice_ms_p90", Stats.quantile(w.of("slice"), 0.9), "ms", w.count("slice")),
    Metric("graph_arcs", total.arcs.toDouble, "arcs"),
    Metric("graph_nodes", spec.nodes.toDouble, "nodes"))

  def codecShard: String = shard0(base)

  def layers(tr: Trace): Seq[Metric] = {
    val job = Job.getInstance(new Configuration(spark.sparkContext.hadoopConfiguration))
    WebGraphInputFormat.setBasename(job, shard0(base))
    WebGraphInputFormat.setNumberOfSplits(job, 2)
    val splitMs = (0 until 5).map { _ =>
      tr.op("graft.hadoop", "hadoop.getSplits") {
        val t0 = System.nanoTime()
        new WebGraphInputFormat().getSplits(job)
        (System.nanoTime() - t0) / 1e6
      }
    }
    def byKind(name: String): Seq[OpAgg] =
      tr.ops.filter(_.name == name).map(s => tr.opAgg(s.op))
    def taskStats(prefix: String, name: String): Seq[Metric] = {
      val a = byKind(name)
      val t = a.flatMap(_.taskMs)
      Seq(Metric(s"$prefix.tasks_per_op", a.map(_.tasks.toDouble).sum / math.max(1, a.size), "count", a.size),
        Metric(s"$prefix.task_ms_p50", Stats.median(t), "ms", t.size),
        Metric(s"$prefix.task_ms_max", if (t.isEmpty) Double.NaN else t.max, "ms", t.size))
    }
    val slices = byKind("slice")
    val sliceDecoded = slices.map(_.arcsDecoded).sum.toDouble
    val sliceReturned = sliceArcs.takeRight(slices.size).sum.toDouble
    val full = byKind("dsv2_full")
    taskStats("sources.scan", "dsv2_full") ++ taskStats("hadoop", "hadoop_full") ++ Seq(
      Metric("sources.arcs_decoded_per_full_scan",
        full.map(_.arcsDecoded).sum.toDouble / math.max(1, full.size), "arcs", full.size),
      Metric("sources.nodes_decoded_per_full_scan",
        full.map(_.nodesDecoded).sum.toDouble / math.max(1, full.size), "nodes", full.size),
      Metric("sources.slice_decode_waste", sliceDecoded / sliceReturned, "ratio", slices.size),
      Metric("sources.slice_arcs_decoded", sliceDecoded, "arcs", slices.size),
      Metric("sources.slice_arcs_returned", sliceReturned, "arcs", slices.size),
      Metric("sources.slice_plan_ms", Stats.median(slices.map(_.planMs)), "ms", slices.size),
      Metric("sources.cold_scan_s", Stats.median(coldMs.toSeq) / 1e3, "s", coldMs.size),
      Metric("hadoop.getsplits_ms", Stats.median(splitMs), "ms", splitMs.size))
  }

  override def close(): Unit = if (base != null) Shards.delete(base)
}

/** `ingest`: repeated writes of one cached adjacency through the sink. */
final class IngestWorkload(spark: SparkSession, seed: Long, runDir: String)
    extends GraphWorkload(spark, seed, runDir) {
  val ops: Seq[String] = Seq("write")
  val warmupPasses = 3
  private var adj: DataFrame = _
  private var last: String = _
  private var writes = 0
  private var graphBytes = 0L

  def setup(rep: Int): Unit = {
    generateStats()
    if (adj != null) adj.unpersist(blocking = true)
    adj = WebGen.frame(spark, spec).persist(StorageLevel.MEMORY_ONLY)
    require(adj.count() == spec.nodes, "cached adjacency lost rows")
  }

  def run(op: String, clock: Clock): Boolean = {
    val b = s"$runDir/ingest/w$writes"
    writes += 1
    clock(Shards.write(adj, b, shards, spec.nodes))
    val m = Shards.manifest(b)
    graphBytes = Shards.graphBytes(b)
    if (last != null) Shards.delete(last)
    last = b
    m.arcs == total.arcs && m.nodes == spec.nodes && m.shards.size == shards
  }

  override def finalCheck(): Boolean = fullScanOk(last)

  def report(w: Window): Seq[Metric] = Seq(
    Metric("write_arcs_per_s", total.arcs / (w.median("write") / 1e3), "arcs/s", w.count("write")),
    Metric("bits_per_arc", graphBytes * 8.0 / total.arcs, "bits"),
    Metric("graph_arcs", total.arcs.toDouble, "arcs"))

  def codecShard: String = shard0(last)

  def layers(tr: Trace): Seq[Metric] = {
    val spans = tr.ops.filter(_.name == "write")
    val a = spans.map(s => tr.opAgg(s.op))
    val t = a.flatMap(_.taskMs)
    // commit: the driver's shard commit after the write's last job ends
    val commitMs = spans.flatMap { s =>
      val jobs = tr.all.filter(j => j.parent == s.id && j.kind == "spark.job")
      if (jobs.isEmpty) None else Some(s.end - jobs.map(_.end).max)
    }
    Seq(
      Metric("sources.write_task_ms_p50", Stats.median(t), "ms", t.size),
      Metric("sources.write_task_ms_max", if (t.isEmpty) Double.NaN else t.max, "ms", t.size),
      Metric("sources.write_shuffle_bytes", a.map(_.shuffleBytes.toDouble).sum / math.max(1, a.size), "bytes", a.size),
      Metric("sources.write_commit_ms", Stats.median(commitMs), "ms", commitMs.size),
      Metric("sources.bytes_written", graphBytes.toDouble, "bytes"))
  }

  override def close(): Unit = {
    if (last != null) Shards.delete(last)
    if (adj != null) adj.unpersist(blocking = true)
  }
}

/** `query_mix`: a fixed list of registered queries over the bundled
  * tables, in a seeded order, with a full cache reset before each. */
final class QueryMixWorkload(spark: SparkSession, seed: Long, runDir: String,
    dataDir: String, expected: Map[String, String]) extends Workload {
  private val queries = graft.SparkEntry.queries
  val ops: Seq[String] = {
    val r = new scala.util.Random(seed)
    r.shuffle(QueryMix.all)
  }
  /** One cold pass: the queries' first run is the expensive one. */
  val warmupPasses = 1

  /** A fresh temp dir per repetition, so nothing the queries cache under
    * it survives; the queries read the tables directly. */
  def setup(rep: Int): Unit = {
    val tmp = new java.io.File(s"$runDir/qtmp$rep")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
  }

  def run(op: String, clock: Clock): Boolean = {
    graft.Caches.hardSweep(spark)
    val (df, rows) = clock {
      val df = queries(op)(spark, dataDir)
      (df, df.collect())
    }
    expected.get(op).contains(Canon.hash(df.schema, rows))
  }

  def report(w: Window): Seq[Metric] = {
    def sum(qs: Seq[String]): Double = qs.map(w.median).sum / 1e3
    Metric("mix_pass_s", sum(QueryMix.all), "s", w.samples.size) +:
      QueryMix.families.map { case (f, qs) => Metric(s"mix_${f}_s", sum(qs), "s", qs.map(w.count).sum) } ++:
      QueryMix.all.map(q => Metric(s"q.$q.s", w.median(q) / 1e3, "s", w.count(q)))
  }

  def codecShard: String =
    Shards.manifest(graft.queries.GraphQueries.bvFixture(spark, dataDir))
      .shards.maxBy(s => new java.io.File(s.base + ".graph").length).base

  def layers(tr: Trace): Seq[Metric] = {
    val perQuery = QueryMix.all.flatMap { q =>
      val a = tr.ops.filter(_.name == q).map(s => tr.opAgg(s.op))
      val n = math.max(1, a.size)
      Seq(Metric(s"q.$q.jobs", a.map(_.jobs.toDouble).sum / n, "count", a.size),
        Metric(s"q.$q.plan_ms", a.map(_.planMs).sum / n, "ms", a.size),
        Metric(s"q.$q.shuffle_bytes", a.map(_.shuffleBytes.toDouble).sum / n, "bytes", a.size))
    }
    val floor = (0 until 2).map { _ =>
      graft.Caches.hardSweep(spark)
      tr.op("graft.streaming", "streaming.harness_floor") {
        val t0 = System.nanoTime()
        graft.streaming.StreamingOps.harnessFloor(spark, dataDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    perQuery :+ Metric("streaming.harness_floor_s", Stats.median(floor), "s", floor.size)
  }
}

object QueryMix {
  val families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("graph_cc", "graph_coreness_fixpoint"),
    "stream" -> Seq("stream_session_window"),
    "table" -> Seq("q5_region_volume", "join_smj"))
  val all: Seq[String] = families.flatMap(_._2)
}

/** Order- and engine-independent digest of a query result: columns sorted
  * by name, floating values rounded to 9 decimals, rows sorted. */
object Canon {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double if !d.isNaN && !d.isInfinite =>
      BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${value(k)}:${value(x)}" }.sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  def readHashes(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  /** Hashes of the query_mix results that `graft.Verify` dumped under
    * `dir` (one parquet directory per query), written to `out`. */
  def writeHashes(dir: String, out: String): Unit = {
    val spark = Main.session(s"$dir/hash_run")
    val lines = QueryMix.all.sorted.map { q =>
      val df = spark.read.parquet(s"$dir/$q")
      s"$q\t${hash(df.schema, df.collect())}\n"
    }
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), lines.mkString)
  }
}

/** Single-thread codec costs on one shard triple. */
object Codec {
  def layers(shard: String, tr: Trace): Seq[Metric] = {
    val loads = (0 until 5).map { _ =>
      tr.op("graft.bv", "bv.load") {
        val t0 = System.nanoTime()
        val g = BvGraph.load(shard)
        val ms = (System.nanoTime() - t0) / 1e6
        g.release()
        ms
      }
    }
    val g = BvGraph.load(shard)
    val lists = try g.nodeIterator(0, g.n).map(_._2).toArray finally g.release()
    val arcs = lists.map(_.length.toLong).sum
    val props = BvProperties.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(shard + ".properties")),
      java.nio.charset.StandardCharsets.ISO_8859_1))
    // untimed repetitions first, so the timed ones run compiled code
    def repeat(name: String)(body: => Unit): (Double, Int) = tr.op("graft.bv", name) {
      val w0 = System.nanoTime()
      while (System.nanoTime() - w0 < 300e6) body
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 300e6) { body; reps += 1 }
      ((System.nanoTime() - t0).toDouble / reps, reps)
    }
    val gg = BvGraph.load(shard)
    val (decNs, decReps) = try repeat("bv.decode") {
      val it = gg.nodeIterator(0, gg.n)
      while (it.hasNext) it.next()
    } finally gg.release()
    val (encNs, encReps) = repeat("bv.encode") {
      val enc = new BvEncoder(props.copy(nodes = 0, arcs = 0L))
      val st = new enc.Stream(java.io.OutputStream.nullOutputStream())
      lists.foreach(l => st.append(l))
      st.finish()
    }
    val bytes = new java.io.File(shard + ".graph").length
    Seq(Metric("bv.offsets_load_ms", Stats.median(loads), "ms", loads.size),
      Metric("bv.decode_ns_per_arc", decNs / arcs, "ns", decReps),
      Metric("bv.encode_ns_per_arc", encNs / arcs, "ns", encReps),
      Metric("bv.bits_per_arc", bytes * 8.0 / arcs, "bits"),
      Metric("bv.shard_arcs", arcs.toDouble, "arcs"))
  }
}
