package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one JVM, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload scan|ingest|query_mix --seed N --seconds S
  *   --trace 0|1 --run-dir DIR --data-dir DIR --hashes FILE [--spans FILE]
  * perfbench.Main --mix-queries                  (the query_mix list)
  * perfbench.Main --hash-results DIR --out FILE   (hashes of graft.Verify's dump)
  * }}}
  *
  * A run: start the session; set the fixture up [[SetupReps]] times and
  * keep the last; warm up with the workload's `warmupPasses` passes over
  * its op list; then cycle through the op list for `--seconds` (and at
  * least one full pass), timing every op and checking its output. With
  * `--trace 1` a second, traced window of the same length follows, plus
  * the per-layer probes. `setup_s` is session start + the median fixture
  * set-up + the warm-up, everything a run does before it measures.
  * Report lines go to stdout; the last line is the JSON result.
  */
object Main {
  val SetupReps = 3
  val Cores = 4

  private def arg(a: Array[String], k: String): Option[String] = {
    val i = a.indexOf(k)
    if (i >= 0 && i + 1 < a.length) Some(a(i + 1)) else None
  }

  def session(runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark_local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Closed loop over `wl.ops` until `seconds` passed and `passes` full
    * passes ran. Failed ops (wrong output or an exception) count. */
  def window(wl: Workload, seconds: Double, passes: Int, tr: Option[Trace]): Window = {
    val samples = new scala.collection.mutable.ArrayBuffer[Sample]
    wl.startWindow()
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - t0 < seconds * 1e9 || i < passes * wl.ops.size) {
      val op = wl.ops(i % wl.ops.size)
      i += 1
      val clock = new Clock(tr, op)
      val ok = try wl.run(op, clock) catch { case e: Exception =>
        System.err.println(s"[perfbench] $op failed: $e")
        false
      }
      if (!ok) System.err.println(s"[perfbench] $op: output check failed")
      samples += Sample(op, clock.ms, ok)
    }
    new Window(samples.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Layer that an op calls into, for span kinds and self-time shares. */
  def kind(op: String): String = op match {
    case "hadoop_full" => "graft.hadoop"
    case "dsv2_full" | "slice" | "degree_scan" | "write" => "graft.sources"
    case q if q.startsWith("stream_") => "graft.streaming"
    case _ => "graft.queries"
  }

  /** Sum over the op list of each op's median: the time of one pass. */
  def passS(wl: Workload, w: Window): Double = wl.ops.map(w.median).sum / 1e3

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def line(m: Metric): String =
    f"  ${m.name}%-40s ${if (m.value.isNaN) "n/a" else f"${m.value}%.6g"}%14s ${m.unit}%-8s n=${m.n}"

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--mix-queries")) { println(QueryMix.all.mkString(",")); return }
    arg(argv, "--hash-results").foreach { dir =>
      Canon.writeHashes(dir, arg(argv, "--out").getOrElse(sys.error("--out missing")))
      return
    }
    val workload = arg(argv, "--workload").getOrElse(sys.error("--workload missing"))
    val seed = arg(argv, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(argv, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(argv, "--trace").contains("1")
    val runDir = arg(argv, "--run-dir").getOrElse(sys.error("--run-dir missing"))
    val dataDir = arg(argv, "--data-dir").getOrElse(sys.error("--data-dir missing"))
    val expected = arg(argv, "--hashes").map(Canon.readHashes).getOrElse(Map.empty)

    val box = Box.start()
    val t0 = System.nanoTime()
    val spark = session(runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = workload match {
      case "scan" => new ScanWorkload(spark, seed, runDir)
      case "ingest" => new IngestWorkload(spark, seed, runDir)
      case "query_mix" => new QueryMixWorkload(spark, seed, runDir, dataDir, expected)
      case other => sys.error(s"unknown workload $other")
    }
    val fixtureS = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t) / 1e9
    }
    val warm = window(wl, 0, wl.warmupPasses, None)
    val w = window(wl, seconds, 1, None)
    val traced = if (!trace) None else {
      val tr = new Trace(spark)
      tr.register()
      val tw2 = window(wl, seconds, 1, Some(tr))
      val layers = Codec.layers(wl.codecShard, tr) ++ wl.layers(tr)
      tr.close()
      Some((tr, tw2, layers))
    }
    val finalOk = try wl.finalCheck() catch { case e: Exception =>
      System.err.println(s"[perfbench] final check failed: $e"); false }
    wl.close()
    spark.stop()

    val all = warm.samples ++ w.samples ++ traced.toSeq.flatMap(_._2.samples)
    val attempted = all.size + 1
    val failed = all.count(!_.ok) + (if (finalOk) 0 else 1)
    val pass = passS(wl, w)
    val rssMb = Box.peakRssMb()
    val endToEnd = Seq(
      Metric("setup_s", sessionS + Stats.median(fixtureS) + warm.wallS, "s", fixtureS.size),
      Metric("pass_s", pass, "s", w.samples.size))
    val (load1, steal) = box.finish()

    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} cores=$Cores")
    println(s"[perfbench] end-to-end (untraced window, ${w.samples.size} ops in ${f"${w.wallS}%.1f"} s):")
    (endToEnd ++ wl.report(w) ++ Seq(
      Metric("error_rate", failed.toDouble / attempted, "fraction", attempted),
      Metric("peak_rss_mb", rssMb, "MB"),
      Metric("session_s", sessionS, "s"),
      Metric("fixture_s", Stats.median(fixtureS), "s", fixtureS.size),
      Metric("warmup_s", warm.wallS, "s", warm.samples.size))).foreach(m => println(line(m)))
    wl.ops.distinct.foreach { op =>
      println(line(Metric(s"op.$op.ms_p50", w.median(op), "ms", w.count(op))))
    }
    println(f"[perfbench] box: load1 start=${load1._1}%.2f end=${load1._2}%.2f steal_share=$steal%.4f")

    val perLayer = traced.map { case (tr, tw2, layers) =>
      val tracedPass = passS(wl, tw2)
      val generic = Report.generic(tr, tw2, wl, tracedPass, pass) :+
        Metric("jvm.peak_rss_mb", rssMb, "MB")
      println(s"[perfbench] per-layer (traced window, ${tw2.samples.size} ops):")
      (generic ++ layers).foreach(m => println(line(m)))
      Report.selfTimes(tr).foreach(println)
      arg(argv, "--spans").foreach { p =>
        tr.write(p)
        println(s"[perfbench] spans written to $p")
      }
      generic ++ layers
    }

    val metrics = if (trace) perLayer.get.filter(m => Report.PerLayer.contains(m.name)) else endToEnd
    val body = metrics.map(m => s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""")
      .mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }
}

/** Host readings that explain an unsteady run: 1-minute load average at
  * start and end, and the hypervisor-steal share of CPU time in between. */
final class Box(load0: Double, stat0: (Long, Long)) {
  def finish(): ((Double, Double), Double) = {
    val (steal1, total1) = Box.stat()
    val dt = (total1 - stat0._2).toDouble
    ((load0, Box.load1()), if (dt > 0) (steal1 - stat0._1) / dt else 0.0)
  }
}

object Box {
  def start(): Box = new Box(load1(), stat())
  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def stat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }
}

/** Per-layer values every workload has, and the self-time table. */
object Report {
  /** The per-layer metrics of the JSON result (BENCHMARK.json `per_layer`). */
  val PerLayer: Seq[String] = Seq(
    "bv.decode_ns_per_arc", "bv.encode_ns_per_arc", "bv.offsets_load_ms", "bv.bits_per_arc",
    "sources.arcs_decoded_per_pass", "spark.plan_ms_per_pass", "spark.jobs_per_pass",
    "spark.tasks_per_pass", "spark.task_ms_p50", "spark.task_ms_max",
    "spark.shuffle_bytes_per_pass", "spark.spill_bytes_per_pass", "spark.gc_ms_per_pass",
    "spark.busy_share", "driver.self_share", "trace.pass_s", "trace.overhead_s",
    "jvm.peak_rss_mb")

  def generic(tr: Trace, w: Window, wl: Workload, tracedPass: Double, untracedPass: Double): Seq[Metric] = {
    val ops = tr.ops.filter(s => wl.ops.contains(s.name))
    val aggs = ops.map(s => tr.opAgg(s.op))
    val passes = ops.size.toDouble / wl.ops.size
    def perPass(f: OpAgg => Double): Double = aggs.map(f).sum / passes
    val taskMs = aggs.flatMap(_.taskMs)
    val opMs = ops.map(_.ms).sum
    val selves = tr.selfTimes.filter { case (s, _) => s.id == s.op && wl.ops.contains(s.name) }
    val n = ops.size
    Seq(
      Metric("sources.arcs_decoded_per_pass", perPass(_.arcsDecoded.toDouble), "arcs", n),
      Metric("spark.plan_ms_per_pass", perPass(_.planMs), "ms", n),
      Metric("spark.jobs_per_pass", perPass(_.jobs.toDouble), "count", n),
      Metric("spark.tasks_per_pass", perPass(_.tasks.toDouble), "count", n),
      Metric("spark.task_ms_p50", Stats.median(taskMs), "ms", taskMs.size),
      Metric("spark.task_ms_max", if (taskMs.isEmpty) Double.NaN else taskMs.max, "ms", taskMs.size),
      Metric("spark.shuffle_bytes_per_pass", perPass(_.shuffleBytes.toDouble), "bytes", n),
      Metric("spark.spill_bytes_per_pass", perPass(_.spillBytes.toDouble), "bytes", n),
      Metric("spark.gc_ms_per_pass", perPass(_.gcMs.toDouble), "ms", n),
      Metric("spark.busy_share", aggs.map(_.taskMsSum).sum / (opMs * Main.Cores), "fraction", taskMs.size),
      Metric("spark.task_ms_total", aggs.map(_.taskMsSum).sum, "ms", taskMs.size),
      Metric("trace.op_ms_total", opMs, "ms", n),
      Metric("driver.self_share", selves.map(_._2).sum / opMs, "fraction", n),
      Metric("trace.pass_s", tracedPass, "s", w.samples.size),
      Metric("trace.overhead_s", tracedPass - untracedPass, "s", w.samples.size))
  }

  /** Self time per span kind: op spans are charged to the layer they call,
    * job spans to Spark scheduling, stage spans to the tasks they run. */
  def selfTimes(tr: Trace): Seq[String] = {
    val rows = tr.selfTimes.filter(_._1.kind != "workload").groupBy { case (s, _) =>
      s.kind match {
        case "spark.job" => "spark (job scheduling, between stages)"
        case "spark.stage" => "spark stages (executor tasks)"
        case k => s"$k (driver side of the op)"
      }
    }.map { case (k, xs) => (k, xs.map(_._2).sum / 1e3, xs.size) }.toSeq.sortBy(-_._2)
    val total = rows.map(_._2).sum
    "[perfbench] self time by layer:" +: rows.map { case (k, s, n) =>
      f"  $k%-44s $s%10.3f s  ${100 * s / total}%5.1f%%  spans=$n"
    }
  }
}
