package graft

/** Driver-run benchmark: every declared query at SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout. The noop sink executes the COMPLETE physical plan
  * (count() would let Catalyst elide sorts/projections).
  *
  * Each query runs SPARK_GRAFT_RUNS times (default 3) with a FULL cache
  * reset before every run ([[Caches.hardSweep]]): per-query numbers are
  * order-independent medians, not whatever the session accumulated —
  * round 3 measured 3–66x regressions on unchanged queries purely from
  * leaked caches, and single-run totals on this box swing ±50% on GC
  * spikes. The GraphX/shuffle-stage-heavy family (graph_*, layout_zorder)
  * is the variance hot spot — round 5's driver run charged graph_pagerank
  * 10.2 s where the same unchanged code measured 2.9–3.9 s in two other
  * runs on the same box — so those queries get SPARK_GRAFT_RUNS_NOISY
  * samples (default 3 since r11 — the clean/spread resampling below
  * already adds samples exactly where a run was noisy, and the blanket
  * 5-sample rule stacked on it drove the round-10 record to 5516 s of
  * timed samples and BOTH driver bench invocations into rc=124
  * timeouts) and every query's per-run times plus the box's
  * /proc/loadavg at each run start go into the BENCH.md record.
  * Per-query sampling is wall-capped (SPARK_GRAFT_QUERY_WALL, default
  * 45 s): once a query's accumulated timed wall passes the cap with ≥2
  * samples taken, sampling stops and the query lands in
  * `queries_wall_capped` — a record that exists with 2 samples on the
  * heavy tail beats a perfect record the driver never sees.
  *
  * Since round 8 the record does not just EXPOSE contention, it ACTS on
  * it: a run whose steal+iowait share exceeded 2% or whose entry load
  * exceeded cpus/4 is resampled (at most nRuns extra attempts), the
  * median prefers clean samples, and any query whose reported median
  * still rests on contended runs is listed in `queries_contended` —
  * round 7's acceptance metric read 1.92 s/query off a contended driver
  * record where the same code measures 1.24 on a quiet box, and the
  * record should self-correct rather than self-incriminate. Reported:
  * median per query (and the max across runs in `queries_max`),
  * total = sum of medians. */
object Bench {
  /** 1-minute load average at call time; -1 where /proc is unavailable. */
  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal, steal+iowait, total) jiffies from /proc/stat's aggregate cpu
    * line. Loadavg is 1-min smoothed and misses short bursts of hypervisor
    * steal or disk stalls entirely — a 15 s stall at "load 1.7" reads as
    * a code regression without this. The REPORTED share keeps iowait (a
    * disk stall is visible either way), but the clean/contended CRITERION
    * uses pure hypervisor steal: a shuffle-heavy query generates its OWN
    * iowait spilling to /tmp, and a criterion that includes it flags the
    * query's honest cost as contention (the first full run under the
    * combined criterion flagged 10 shuffle-heavy graph queries on an
    * otherwise idle box). Foreign CPU hogs still trip the load test. */
  private def cpuStat(): (Long, Long, Long) =
    try {
      val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val steal = if (f.length > 7) f(7) else 0L
      val iowait = if (f.length > 4) f(4) else 0L
      (steal, steal + iowait, f.sum)
    } catch { case _: Exception => (0L, 0L, 0L) }

  /** Deterministic CPU probe — an ABSOLUTE box-speed yardstick embedded
    * in the record: 400M single-thread mix64 steps (or the same work
    * split across `threads`). Two records' medians are comparable only
    * when their probes agree: this round the same code on the same box
    * measured 261 s one session and 315 s the next with hypervisor steal
    * at ~0.1% and clean loads — invisible to BOTH contention criteria.
    * A frequency/neighbor drift that slows the box slows this loop by
    * the same factor, so the record now self-documents it. */
  private def cpuProbe(threads: Int): Double = {
    val iters = 400000000L
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var h = 0x9E3779B97F4A7C15L + t
        var i = 0L
        // distribute the remainder so total work is EXACTLY iters for
        // any thread count — the probe is an absolute yardstick
        val n = iters / threads + (if (t < iters % threads) 1L else 0L)
        while (i < n) { h ^= h >>> 27; h *= 0x94D049BB133111EBL; h ^= h >>> 31; i += 1 }
        sink.addAndGet(h): Unit // defeat dead-code elimination
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Memory-BANDWIDTH probe — the register probe's blind spot, measured:
    * round 8's records read cpu_probe 0.91 vs 0.89 (2%) while the totals
    * read 345 vs 299 s (15%) with hypervisor steal ≈ 0.1%; the missing
    * 13% was bandwidth/LLC pressure from neighbors, which is the FIRST
    * resource a shuffle-heavy Spark job feels and the one no /proc
    * counter exposes. 64 streaming passes over a 256 MB long array
    * (16 GB of DRAM traffic — 8× any current LLC, so caches can't serve
    * it), total work fixed for any thread count; threads start at
    * staggered offsets 8 MB apart so concurrent streams hit DISTINCT
    * cache lines and genuinely contend on the memory controller. Fill
    * pass is untimed. Two records' medians are comparable only when BOTH
    * probes agree.
    *
    * The first timed call in a fresh JVM used to read ≈ 2.3× the end
    * probe on boxes whose cpu and end probes were quiet (rounds 9 AND
    * 10, same ratio) — isolated to measurement artifacts, not
    * contention: the summing loop's first invocation runs
    * interpreted/C1 (a bare-java repro pays 1.5× on call 1 vs call 2 on
    * the SAME array), and a fresh 256 MB allocation in a just-started
    * heap lands on colder page backing than one in the grown end-of-run
    * heap. Three fixes, all in-probe so records stay comparable: the
    * array is allocated and first-touched ONCE and shared by every
    * probe call; an untimed 4-pass warmup compiles the exact timed loop
    * before any t0; and the reported number is the MIN of two
    * back-to-back measurements (a transient artifact inflates one
    * sample; real bandwidth contention inflates both and still
    * surfaces). */
  private def memProbe(threads: Int): Double = {
    memProbeTimed(threads, passes = 4) // untimed JIT warmup (~1 GB)
    math.min(memProbeTimed(threads, passes = 64),
      memProbeTimed(threads, passes = 64))
  }

  private val probeWords = 32 * 1024 * 1024 // 256 MB
  private lazy val probeArr: Array[Long] = {
    val a = new Array[Long](probeWords)
    var i = 0
    while (i < probeWords) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

  private def memProbeTimed(threads: Int, passes: Int): Double = {
    val words = probeWords
    val arr = probeArr
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var s = 0L
        // distribute the remainder so total traffic is EXACTLY
        // passes*words reads for any thread count (absolute yardstick)
        val nPass = passes / threads + (if (t < passes % threads) 1 else 0)
        var p = 0
        while (p < nPass) {
          var j = (t.toLong * words / math.max(1, threads)).toInt
          var c = 0
          while (c < words) {
            s += arr(j); j += 1; if (j == words) j = 0; c += 1
          }
          p += 1
        }
        sink.addAndGet(s): Unit
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.cpus
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // r11 measurement fix (documented in OPTIMIZATION_r11.md): the noisy
    // family's blanket 5-sample rule predates the clean/spread resampling
    // machinery (r8/r9), which already ADDS samples exactly where the
    // box was noisy — with both active the round-10 record collected up
    // to 15 samples per graph query (5516 s of timed samples; the
    // driver's two bench invocations both hit rc=124 and produced NO
    // record at all). Base samples drop to `runs` with resampling
    // unchanged; a quiet box yields the same tight medians.
    val runsNoisy = math.max(runs,
      sys.env.getOrElse("SPARK_GRAFT_RUNS_NOISY", "3").toInt)
    def isNoisy(name: String): Boolean =
      name.startsWith("graph_") || name == "layout_zorder"
    val spark = Graft.session(conf = Map(
      // streaming determinism: the state store's background maintenance
      // (snapshot compaction) fires on a wall-clock timer and lands
      // inside whichever query is unlucky — push it past any single
      // query's runtime so per-batch commit cost is the ONLY state-store
      // cost a stream_* row pays; 2 retained batches (the minimum that
      // keeps recovery sound) cuts the per-commit file churn that
      // dominated the stream family's 2x swings on unchanged code
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
      "spark.sql.streaming.minBatchesToRetain" -> "2"))
    // untimed warmup: JIT + codegen + parquet reader init so the first
    // timed query doesn't absorb JVM start-up costs
    SparkEntry.queries("scalar_funcs")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    def fmt(v: Double): String = f"$v%.3f"
    val benchLoadStart = load1()
    // absolute box-speed yardstick (see [[cpuProbe]]): one JIT-warm pass,
    // then single-thread and all-core readings; single-thread again at
    // the end so in-bench drift is visible too
    cpuProbe(1): Unit
    val probe1Start = cpuProbe(1)
    val probeAll = cpuProbe(cpus)
    val memProbe1Start = memProbe(1)
    val memProbeAll = memProbe(cpus)
    // contention thresholds (the round-7 lesson: the driver's record read
    // 1.92 s/query where a quiet box reproduces 1.24 — its own load/steal
    // columns showed load to 19.7 and steal to 25.6% on exactly the slow
    // rows). A run is CONTENDED when hypervisor-steal+iowait exceeded 2%
    // of CPU jiffies during it or the box entered it at load > cpus/4;
    // contended runs are RESAMPLED (bounded: at most nRuns extra) and the
    // median prefers clean samples. Queries whose reported median still
    // includes contended runs are listed in `queries_contended` so the
    // record adjudicates itself.
    val stealMax = sys.env.getOrElse("SPARK_GRAFT_STEAL_MAX", "2.0").toDouble
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX",
      (cpus / 4.0).toString).toDouble
    val spreadMax = sys.env.getOrElse("SPARK_GRAFT_SPREAD_MAX", "2.0").toDouble
    val wallCap = sys.env.getOrElse("SPARK_GRAFT_QUERY_WALL", "45").toDouble
    // a failed query reports -1 (never its partial elapsed time, which
    // would read as a speedup) and is excluded from the total
    // SPARK_GRAFT_ONLY: comma-separated name filter for LOCAL iteration
    // (the driver never sets it — the headline record is always full).
    // The active filter is echoed into the record and unknown names fail
    // fast: a typo'd value must not masquerade as a full headline run.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names no registered query: ${unknown.toSeq.sorted
          .mkString(", ")}")
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val nRuns = if (isNoisy(name)) runsNoisy else runs
      // sample = (seconds, entry load1, pure-steal %, steal+iowait %)
      def sampleOnce(): Option[(Double, Double, Double, Double)] = {
        Caches.hardSweep(spark) // order-independent: no inherited caches
        val ld = load1()
        val c0 = cpuStat()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          val c1 = cpuStat()
          val tot = math.max(1L, c1._3 - c0._3)
          val steal = 100.0 * (c1._1 - c0._1) / tot
          val stealIo = 100.0 * (c1._2 - c0._2) / tot
          Some((dt, ld, steal, stealIo))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      }
      def clean(sm: (Double, Double, Double, Double)): Boolean =
        sm._3 <= stealMax && (sm._2 < 0 || sm._2 <= loadMax)
      // SPREAD criterion (the round-8 lesson: graph_assortativity ran
      // 2.3–17.1 s inside ONE record with steal 0 and load 5 — the
      // steal/load tests are blind to memory-bandwidth/LLC contention,
      // so a query's own run-to-run spread is the adjudicator of last
      // resort). Two uses: (a) a query whose runs span > spreadMax
      // triggers bounded resampling REGARDLESS of steal/load and is
      // flagged in `queries_spread`; (b) the median is taken over the
      // TIGHT set — samples within spreadMax× of the fastest — whenever
      // a quorum of them exists. Min-anchoring is sound here and only
      // here: every run starts from a hard cache sweep, so a sample can
      // be falsely SLOW (neighbor stole bandwidth) but never falsely
      // fast — slow outliers are box noise by construction.
      def tight(xs: Seq[(Double, Double, Double, Double)]) = {
        if (xs.isEmpty) xs
        else { val mn = xs.map(_._1).min; xs.filter(_._1 <= mn * spreadMax) }
      }
      // r11 WALL CAP (measurement fix, documented in OPTIMIZATION_r11.md):
      // sampling of one query stops once its accumulated timed wall
      // exceeds SPARK_GRAFT_QUERY_WALL seconds and at least 2 samples
      // exist — the round-10 record spent 550 s sampling ONE query
      // (graph_coreness_fixpoint, 13 samples) and the driver's bench
      // invocations timed out with NO record. Long-running queries are
      // proportionally the least scheduling-noisy, so 2–3 samples carry
      // the same information 5+ do on a sub-second query; the cap is
      // env-parameterised and a capped query is listed in
      // `queries_wall_capped` so the record adjudicates itself.
      def wallOf(xs: Seq[(Double, Double, Double, Double)]): Double =
        xs.map(_._1).sum
      var samples = Seq.empty[(Double, Double, Double, Double)]
      var base = 0
      while (base < nRuns &&
          (samples.size < 2 || wallOf(samples) < wallCap)) {
        base += 1
        samples = samples ++ sampleOnce()
      }
      // bounded resample: keep sampling while the clean-AND-tight count
      // is short of nRuns, up to 2*nRuns extra attempts total, never
      // past the wall cap
      var extra = 0
      while ((samples.count(clean) < nRuns ||
          tight(samples.filter(clean)).size < nRuns) && extra < 2 * nRuns &&
          wallOf(samples) < wallCap) {
        extra += 1
        samples = samples ++ sampleOnce()
      }
      val wallCapped = samples.nonEmpty && wallOf(samples) >= wallCap
      val preferred = { val c = samples.filter(clean)
        if (c.size >= (nRuns + 1) / 2) c else samples }
      val contended = samples.nonEmpty && preferred.exists(!clean(_))
      val tightSet = { val t = tight(preferred)
        if (t.size >= (nRuns + 1) / 2) t else preferred }
      val spreadFlagged = samples.nonEmpty && {
        val ts = samples.map(_._1); ts.max > ts.min * spreadMax
      }
      val times = samples.map(_._1)
      val loads = samples.map(_._2)
      val steals = samples.map(_._4) // reported share keeps iowait
      if (times.isEmpty)
        (name, -1.0, -1.0, times, loads, steals, false, false, -1.0, 0, false)
      else {
        val med = { val st = tightSet.map(_._1).sorted; st(st.length / 2) }
        // the tight-set median can under-report genuinely BIMODAL query
        // cost (sporadic spill/GC inherent to the query, not the box) by
        // dropping every clean-but-slow sample — so the record also
        // carries the median over ALL clean samples and the per-query
        // count of clean samples the tight filter discarded; a query
        // where the two medians disagree is bimodal-or-contended and the
        // reader adjudicates with queries_runs (ADVICE r9)
        val medAll = { val st = preferred.map(_._1).sorted; st(st.length / 2) }
        val dropped = preferred.size - tightSet.size
        (name, med, times.max, times, loads, steals, contended,
          spreadFlagged, medAll, dropped, wallCapped)
      }
    }
    val qs = results.map { case (k, med, _, _, _, _, _, _, _, _, _) =>
      "\"" + k + "\":" + fmt(med) }
      .mkString("{", ",", "}")
    val qsMax = results.map { case (k, _, mx, _, _, _, _, _, _, _, _) =>
      "\"" + k + "\":" + fmt(mx) }
      .mkString("{", ",", "}")
    val qsRuns = results.map { case (k, _, _, ts, _, _, _, _, _, _, _) =>
      "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val qsLoad = results.map { case (k, _, _, _, lds, _, _, _, _, _, _) =>
      "\"" + k + "\":" + lds.map(l => f"$l%.2f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val qsSteal = results.map { case (k, _, _, _, _, sts, _, _, _, _, _) =>
      "\"" + k + "\":" + sts.map(s => f"$s%.1f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val qsContended = results.collect { case (k, _, _, _, _, _, true, _, _, _, _) =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    val qsSpread = results.collect { case (k, _, _, _, _, _, _, true, _, _, _) =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    val qsWallCapped = results.collect {
      case (k, _, _, _, _, _, _, _, _, _, true) =>
        "\"" + k + "\"" }.mkString("[", ",", "]")
    // medians over ALL clean samples (no tight filter) — only for queries
    // where it differs from the tight median; plus the per-query count of
    // clean samples the tight filter dropped (bimodality stays visible)
    val qsMedAll = results.collect {
      case (k, med, _, _, _, _, _, _, medAll, _, _)
        if medAll >= 0 && math.abs(medAll - med) > 0.0005 =>
        "\"" + k + "\":" + fmt(medAll) }.mkString("{", ",", "}")
    val qsDropped = results.collect {
      case (k, _, _, _, _, _, _, _, _, dropped, _) if dropped > 0 =>
        "\"" + k + "\":" + dropped }.mkString("{", ",", "}")
    val onlyJson = only.map(_.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")).getOrElse("null")
    val failed = results.collect {
      case (k, med, _, _, _, _, _, _, _, _, _) if med < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    // streaming HARNESS FLOOR: the replay machinery's own cost (source
    // collect, checkpoint init, 4 micro-batch commits, memory sink) with
    // ZERO real rows — only the sentinel schedule runs. Recorded as its
    // own column so a stream_* row's query cost and harness cost are
    // separable: the 18 stream rows are ~25% of every record and their
    // round-8 swings (5.7/9.3/11.0 s on unchanged code) were harness
    // scheduling, not operator cost. Median of `runs` samples, same
    // cache discipline as the queries.
    val benchesStreams = only.forall(_.exists(_.startsWith("stream_")))
    val harnessFloor = if (!benchesStreams) -1.0 else {
      val ts = (1 to runs).map { _ =>
        Caches.hardSweep(spark)
        val t0 = System.nanoTime()
        graft.streaming.StreamingOps.harnessFloor(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.length / 2)
    }
    // stdout gets the SHORT line (medians only): the round-4 harness
    // truncated the long line mid-JSON and recovered nothing. The full
    // record (incl. per-query maxes) goes to a repo file so the numbers
    // stay auditable regardless of the driver's capture window.
    val probe1End = cpuProbe(1)
    val memProbe1End = memProbe(1)
    val probeJson = f""""cpu_probe_1t":$probe1Start%.2f,""" +
      f""""cpu_probe_1t_end":$probe1End%.2f,"cpu_probe_all":$probeAll%.2f,""" +
      f""""mem_probe_1t":$memProbe1Start%.2f,""" +
      f""""mem_probe_1t_end":$memProbe1End%.2f,"mem_probe_all":$memProbeAll%.2f,""" +
      f""""stream_harness_floor":$harnessFloor%.2f"""
    val shortLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""queries_contended":$qsContended,"queries_spread":$qsSpread,""" +
        s""""queries_wall_capped":$qsWallCapped,""" +
        s""""only":$onlyJson,$probeJson,""" +
        s""""runs":$runs,"errors":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$probeJson,""" +
        s""""queries_max":$qsMax,"queries_runs":$qsRuns,"queries_load":$qsLoad,""" +
        s""""queries_steal_pct":$qsSteal,"queries_contended":$qsContended,""" +
        s""""queries_spread":$qsSpread,""" +
        s""""queries_median_all_clean":$qsMedAll,"queries_tight_dropped":$qsDropped,""" +
        s""""queries_wall_capped":$qsWallCapped,""" +
        s""""only":$onlyJson,""" +
        f""""steal_max":$stealMax%.1f,"load_max":$loadMax%.1f,""" +
        f""""spread_max":$spreadMax%.1f,"query_wall_cap":$wallCap%.1f,""" +
        s""""runs":$runs,"runs_noisy":$runsNoisy,""" +
        f""""load_start":$benchLoadStart%.2f,"load_end":${load1()}%.2f,""" +
        s""""errors":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(shortLine)
    // a SPARK_GRAFT_ONLY iteration run must never clobber the committed
    // HEADLINE record (this session's A/B experiments overwrote BENCH.md
    // with a 6-query record and a commit carried it) — partial records go
    // to a sidecar unless SPARK_GRAFT_BENCH_OUT says otherwise
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_partial.md" else "BENCH.md")
    try {
      val partialBanner = only.map(names =>
        s"**PARTIAL record — SPARK_GRAFT_ONLY=${names.toSeq.sorted.mkString(",")} " +
          "(local iteration, NOT the headline record).**\n\n").getOrElse("")
      val md = s"# BENCH\n\n$partialBanner" +
        s"Full bench record (medians of $runs runs — " +
        s"$runsNoisy for the noisy graph family — with hard cache sweeps; " +
        "`queries_max` = worst run, `queries_runs` = every per-run time, " +
        "`queries_load` = 1-min /proc/loadavg at each run's start, " +
        "`queries_steal_pct` = hypervisor-steal + iowait share of total " +
        "CPU jiffies during each run — loadavg is 1-min smoothed and " +
        "misses short stalls entirely, steal share is the direct contention " +
        f"reading. Runs with PURE hypervisor steal > $stealMax%.1f%% or " +
        f"entry load > $loadMax%.1f are RESAMPLED (bounded) and medians " +
        "prefer clean samples — the criterion excludes iowait because " +
        "shuffle-heavy queries generate their own spill iowait, but the " +
        "reported `queries_steal_pct` keeps it so disk stalls stay " +
        "visible; `queries_contended` lists queries whose reported median " +
        "still rests on contended runs — those numbers are lower bounds on " +
        "the box, not the code). SPREAD criterion: a query whose own runs " +
        f"span > $spreadMax%.1fx triggers bounded resampling REGARDLESS of " +
        "steal/load and lands in `queries_spread`; each median is taken " +
        "over the samples within that factor of the query's fastest run " +
        "when a quorum exists — sound because every run starts from a hard " +
        "cache sweep, so a sample can be falsely slow (neighbor stole " +
        "bandwidth) but never falsely fast. The min-anchored tight set " +
        "cannot distinguish box noise from genuinely BIMODAL query cost " +
        "(sporadic spill/GC inherent to the query), so " +
        "`queries_median_all_clean` carries the median over ALL clean " +
        "samples wherever it differs from the tight median, and " +
        "`queries_tight_dropped` counts the clean samples the tight " +
        "filter discarded per query — a persistent gap between the two " +
        "medians across records is the query's own bimodality, not the " +
        f"box. Per-query sampling stops once its timed wall passes " +
        f"$wallCap%.0f s with ≥2 samples (`queries_wall_capped` lists " +
        "the queries that hit the cap) — long queries are " +
        "proportionally the least scheduling-noisy and a record that " +
        "exists beats one the driver's timeout discards. " +
        "`cpu_probe_*` is the absolute " +
        "box-speed yardstick — 400M deterministic mix64 steps, " +
        "single-thread at start/end and split across all cores; " +
        "`mem_probe_*` is its memory-BANDWIDTH companion — 16 GB streamed " +
        "over a 256 MB array — because round 8 measured the SAME code at " +
        "261 s and 315 s across sessions with steal at 0.1%, clean loads " +
        "AND matching cpu probes: the drift was bandwidth/LLC, the " +
        "resource a shuffle feels first. Two records' medians are " +
        "comparable only when BOTH probes agree. " +
        "`stream_harness_floor` is the streaming replay machinery's own " +
        "cost (sentinel-only schedule, zero real rows) so the 18 " +
        "stream_* rows separate into operator cost vs harness cost.\n\n" +
        s"```json\n$fullLine\n```\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
