package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture
import graft.streaming.StreamingOps.{Event, SessionOut}

/** Deterministic micro-batch tests (SURVEY.md §5.6): tumbling/sliding
  * windows aggregate correctly, the watermark drops late rows, and
  * sessionization closes sessions on gap timeouts. */
class StreamingSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("tumbling window with watermark drops late data") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOps.windowedAgg(in.toDF(), watermark = "10 minutes",
      width = "5 minutes")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      in.addData(Event(ts(0), 1, "click", 1.0), Event(ts(1), 2, "click", 2.0),
        Event(ts(6), 1, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far past the first windows…
      in.addData(Event(ts(40), 3, "click", 4.0))
      q.processAllAvailable()
      // …then this row is later than watermark (40-10=30): must be dropped
      in.addData(Event(ts(2), 9, "click", 99.0))
      q.processAllAvailable()
      in.addData(Event(ts(55), 3, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3)))
        .toSet
      assert(rows.contains(("2026-01-01 10:00:00.0", "click", 2L))) // late row NOT counted
      assert(rows.contains(("2026-01-01 10:05:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("windowed agg resumes from its checkpoint across restarts; file sink stays exactly-once") {
    // The recovery contract a 100 TB/day deployment actually relies on:
    // each .start() below is a NEW StreamingQuery that must restore
    // offsets, watermark, and window state from the checkpoint alone.
    // Three query incarnations each process one micro-batch; the file
    // sink's commit log must dedupe across restarts so every finalized
    // window lands EXACTLY once.
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val id = java.util.UUID.randomUUID().toString.take(8)
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_restart_ckpt_$id"
    val outDir = s"${sys.props("java.io.tmpdir")}/graft_restart_out_$id"
    val in = MemoryStream[Event]
    def startQuery() = StreamingOps.windowedAgg(in.toDF(),
        watermark = "10 minutes", width = "5 minutes")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = startQuery()
    try {
      in.addData(Event(ts(0), 1, "click", 1.0), Event(ts(1), 2, "click", 2.0),
        Event(ts(6), 1, "view", 3.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart 1: watermark is still behind the first windows, so nothing
    // may have been finalized yet; this batch advances it to 10:30 and the
    // RESTORED state for windows [10:00,10:05) and [10:05,10:10) flushes
    val q2 = startQuery()
    try {
      in.addData(Event(ts(40), 3, "click", 4.0))
      q2.processAllAvailable()
    } finally q2.stop()
    // restart 2: advances the watermark to 10:45, flushing [10:40,10:45)
    val q3 = startQuery()
    try {
      in.addData(Event(ts(55), 3, "click", 5.0))
      q3.processAllAvailable()
    } finally q3.stop()
    val rows = spark.read.parquet(outDir)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3)))
    // exactly-once: the three finalized windows, no duplicates from any
    // restart, the still-open [10:55,...) window not emitted
    assert(rows.length == 3, s"expected 3 finalized windows once each, got ${rows.toSeq}")
    assert(rows.toSet == Set(
      ("2026-01-01 10:00:00.0", "click", 2L),
      ("2026-01-01 10:05:00.0", "view", 1L),
      ("2026-01-01 10:40:00.0", "click", 1L)), rows.toSeq.toString)
  }

  test("harnessFloor drains the file-source schedule with empty data batches") {
    // the floor's `expand = _.limit(0)` leaves batch 1 with no rows. The
    // partitioned staging write emits no directory for it, so the harness
    // stages one schema-only part file (what Spark 4.1's empty
    // `write.parquet` emits) and the floor's batch 0 runs with 0 rows. The
    // floor must start, drain the sentinel batches and return an empty
    // result on the same micro-batch schedule as the stream queries it
    // prices, or Bench's stream_harness_floor measurement is off or wedges
    val batches = new java.util.concurrent.ConcurrentHashMap[String, Set[Long]]()
    val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val terminated = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        names.put(e.runId, e.name)
      // only an executed batch reports addBatch; idle progress does not
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch"))
          batches.merge(e.progress.name, Set(e.progress.batchId), _ ++ _)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.put(names.getOrDefault(e.runId, "?"))
    }
    spark.streams.addListener(listener)
    try {
      graft.Caches.hardSweep(spark)
      val floor = graft.streaming.StreamingOps.harnessFloor(spark, sf0001)
      assert(floor.count() == 0, "floor output must be empty by construction")
      graft.Caches.hardSweep(spark)
      graft.SparkEntry.queries("stream_session_window")(spark, sf0001).count()
      // a query's progress events precede its termination on the bus
      val sinks = Seq("stream_harness_floor_sink", "stream_session_window_sink")
      val done = Seq.fill(2)(terminated.poll(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(done.toSet == sinks.toSet, s"terminations seen: $done")
      val Seq(floorBatches, sessionBatches) = sinks.map(batches.getOrDefault(_, Set.empty).size)
      assert(floorBatches == sessionBatches,
        s"floor ran $floorBatches micro-batches, stream_session_window $sessionBatches")
      assert(floorBatches == 3, s"floor ran $floorBatches micro-batches")
    } finally spark.streams.removeListener(listener)
  }

  test("a replay leaves the cached file: FileSystem in place and reuses its compiled classes") {
    // withReplayConf swaps in fork-free file: I/O and shares the session's
    // executor classloader for one replay only: afterwards Hadoop's cache
    // still hands out the file: FileSystem it held before, and a second
    // run of the same query finds every generated class in Spark's
    // codegen cache
    def localFs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = localFs
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache",
      "fs.AbstractFileSystem.file.impl", "spark.sql.artifact.isolation.enabled")
    val conf = keys.map(spark.conf.getOption)
    def run(): Long = {
      graft.Caches.hardSweep(spark)
      val c0 = compiles
      graft.SparkEntry.queries("stream_session_window")(spark, sf0001).count()
      compiles - c0
    }
    run()
    val second = run()
    assert(second == 0, s"the second stream_session_window run compiled $second classes")
    assert(!localFs.isInstanceOf[graft.hadoop.LocalFileSystem])
    assert(localFs eq before, "the replay replaced the cached file: FileSystem")
    assert(keys.map(spark.conf.getOption) == conf, "the replay's overrides were not restored")
  }

  test("stream_session_window equals the batch session_window_agg row-for-row") {
    // the oracle-gated streaming query: its deterministic replay schedule
    // (midpoint batch split + sentinel watermark flush) must reproduce the
    // batch session_window result exactly — zero late-drops, full flush
    graft.Caches.hardSweep(spark)
    val streamed = graft.SparkEntry.queries("stream_session_window")(spark, sf0001)
      .collect().map(_.toString).sorted
    val batch = graft.SparkEntry.queries("session_window_agg")(spark, sf0001)
      .collect().map(_.toString).sorted
    assert(streamed.length == batch.length,
      s"session count differs: streaming ${streamed.length} vs batch ${batch.length}")
    assert(streamed.sameElements(batch), "streaming and batch sessions differ")
  }

  test("stream_time_window and stream_dedup equal their batch twins row-for-row") {
    graft.Caches.hardSweep(spark)
    val sw = graft.SparkEntry.queries("stream_time_window")(spark, sf0001)
      .collect().map(_.toString).sorted
    val bw = graft.SparkEntry.queries("time_window_agg")(spark, sf0001)
      .select("win_start", "event_type", "n", "value_cents")
      .collect().map(_.toString).sorted
    assert(sw.sameElements(bw), "streaming tumbling windows differ from batch")
    graft.Caches.hardSweep(spark)
    // dedup under exact redelivery = the distinct event set
    val sd = graft.SparkEntry.queries("stream_dedup")(spark, sf0001).collect()
    val events = graft.Tables.events(spark, sf0001).count()
    assert(sd.length == events,
      s"dedup kept ${sd.length} of $events events (redelivered copies must vanish)")
    assert(sd.map(_.getLong(0)).distinct.length == sd.length, "duplicate event_ids survived")
  }

  test("stream_topk equals the batch per-window rank over finalized windows") {
    graft.Caches.hardSweep(spark)
    val streamed = graft.SparkEntry.queries("stream_topk")(spark, sf0001)
      .collect().map(_.toString).sorted
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("win_start"))
      .orderBy(col("n").desc, col("event_type"))
    val batch = graft.Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      "streaming windowed top-k differs from the batch rank")
  }

  test("stream_agg_complete snapshot equals the batch per-type totals") {
    graft.Caches.hardSweep(spark)
    val streamed = graft.SparkEntry.queries("stream_agg_complete")(spark, sf0001)
      .collect().map(_.toString).sorted
    val batch = graft.Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("event_type")
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      "complete-mode snapshot differs from batch aggregation")
  }

  test("stream_foreachbatch_merge: the incremental snapshot fold equals the batch latest-per-user") {
    graft.Caches.hardSweep(spark)
    val streamed = graft.SparkEntry.queries("stream_foreachbatch_merge")(spark, sf0001)
      .collect().map(_.toString).sorted
    val batch = graft.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("v_cents"))
      .groupBy("user_id")
      .agg(max_by(
        struct(col("us"), col("event_type"), col("v_cents")),
        struct(col("us"), col("event_id"))).as("w"))
      .select(col("user_id"), col("w.us").as("last_ts_us"),
        col("w.event_type").as("last_type"),
        col("w.v_cents").as("last_value_cents"))
      .orderBy("user_id")
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      "foreachBatch incremental merge diverged from the full recompute")
  }

  test("stream_interval_join equals the batch click→view join row-for-row") {
    // the oracle-gated streaming self-join: the replayed click/view pairing
    // must reproduce the plain batch join over the same events exactly
    graft.Caches.hardSweep(spark)
    val streamed = graft.SparkEntry.queries("stream_interval_join")(spark, sf0001)
      .collect().map(_.toString).sorted
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        (floor(col("value") * 100)).cast("long").as("v_cents"),
        col("event_type"))
    val c = ev.filter(col("event_type") === "click").alias("c")
    val v = ev.filter(col("event_type") === "view").alias("v")
    val batch = c.join(v,
      col("c.user_id") === col("v.user_id") &&
        col("v.ts") >= col("c.ts") &&
        col("v.ts") <= col("c.ts") + expr("interval 24 hours"))
      .select(col("c.user_id").as("user_id"), col("c.us").as("click_us"),
        col("v.us").as("view_us"), col("v.v_cents").as("view_v_cents"))
      .collect().map(_.toString).sorted
    assert(streamed.length == batch.length,
      s"pair count differs: streaming ${streamed.length} vs batch ${batch.length}")
    assert(streamed.sameElements(batch), "streaming and batch join pairs differ")
    assert(streamed.nonEmpty)
  }

  test("stream_interval_join_outer emits null-extended clicks the batch LEFT JOIN has") {
    // the hard part of streaming outer joins: unmatched clicks may only
    // emit once the watermark proves no view can still arrive, so the
    // replay's widened sentinel must flush every null row — compare
    // against the plain batch LEFT JOIN (nulls surfaced as -1)
    graft.Caches.hardSweep(spark)
    val streamed = graft.SparkEntry.queries("stream_interval_join_outer")(spark, sf0001)
      .collect().map(_.toString).sorted
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"),
        (floor(col("value") * 100)).cast("long").as("v_cents"),
        col("event_type"))
    val c = ev.filter(col("event_type") === "click").alias("c")
    val v = ev.filter(col("event_type") === "view").alias("v")
    val batch = c.join(v,
      col("c.user_id") === col("v.user_id") &&
        col("v.ts") >= col("c.ts") &&
        col("v.ts") <= col("c.ts") + expr("interval 24 hours"), "leftOuter")
      .select(col("c.event_id").as("click_id"), col("c.user_id").as("user_id"),
        col("c.us").as("click_us"),
        coalesce(col("v.us"), lit(-1L)).as("view_us"),
        coalesce(col("v.v_cents"), lit(-1L)).as("view_v_cents"))
      .collect().map(_.toString).sorted
    assert(streamed.length == batch.length,
      s"row count differs: streaming ${streamed.length} vs batch ${batch.length}")
    assert(streamed.sameElements(batch), "streaming and batch outer joins differ")
    // the outer join must contain genuinely unmatched clicks, or this
    // test proves nothing about null emission
    assert(streamed.exists(_.contains(",-1,")), "fixture has no unmatched clicks")
  }

  test("sliding windows emit overlapping frames") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOps.windowedAgg(in.toDF(), watermark = "1 minute",
      width = "10 minutes", slide = Some("5 minutes"))
      .writeStream.format("memory").queryName("win_slide")
      .outputMode("append").start()
    try {
      in.addData(Event(ts(7), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(ts(59), 1, "click", 1.0)) // advance watermark, flush
      q.processAllAvailable()
      val starts = spark.table("win_slide")
        .collect().map(_.getTimestamp(0).toString).toSet
      // 10:07 falls in [10:00,10:10) and [10:05,10:15)
      assert(starts.contains("2026-01-01 10:00:00.0"))
      assert(starts.contains("2026-01-01 10:05:00.0"))
    } finally q.stop()
  }

  test("sessionization: gap splits sessions, timeout closes them") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOps.sessionize(in.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two bursts 30min apart -> two sessions; user 2: one burst
      in.addData(Event(ts(0), 1, "a", 1.0), Event(ts(5), 1, "a", 2.0),
        Event(ts(35), 1, "a", 3.0), Event(ts(36), 1, "a", 4.0),
        Event(ts(3), 2, "b", 9.0))
      q.processAllAvailable()
      // push watermark way out so all sessions time out and close
      in.addData(Event(Timestamp.valueOf("2026-01-01 12:00:00"), 99, "z", 0.0))
      q.processAllAvailable()
      in.addData(Event(Timestamp.valueOf("2026-01-01 14:00:00"), 99, "z", 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions").as[SessionOut].collect()
        .map(x => (x.user_id, x.start.toString, x.n_events, x.sum_value)).toSet
      assert(got.contains((1L, "2026-01-01 10:00:00.0", 2L, 3.0)))
      assert(got.contains((1L, "2026-01-01 10:35:00.0", 2L, 7.0)))
      assert(got.contains((2L, "2026-01-01 10:03:00.0", 1L, 9.0)))
    } finally q.stop()
  }

  test("windowedAgg: streaming result equals the batch result on real events") {
    // the value gate for the streaming operator: the SAME events through
    // the SAME windowedAgg code, once as a MemoryStream (flushed by a
    // far-future sentinel) and once as a plain batch DataFrame
    // (EliminateEventTimeWatermark makes the watermark a batch no-op),
    // must agree window-for-window.
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = graft.Tables.events(spark, sf0001)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val sentinel = Event(Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "___flush", 0.0)
    val in = MemoryStream[Event]
    val q = StreamingOps.windowedAgg(in.toDF(), watermark = "10 minutes",
      width = "1 hour")
      .writeStream.format("memory").queryName("win_equiv")
      .outputMode("append").start()
    val streamed =
      try {
        in.addData(evs)
        q.processAllAvailable()
        in.addData(sentinel) // advance the watermark past every real window
        q.processAllAvailable()
        spark.table("win_equiv").filter(col("event_type") =!= "___flush")
          .collect()
      } finally q.stop()
    val batch = StreamingOps.windowedAgg(evs.toDF(), watermark = "10 minutes",
      width = "1 hour").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getString(2))
    val sm = streamed.map(r => key(r) -> (r.getLong(3), r.getDouble(4))).toMap
    val bm = batch.map(r => key(r) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(sm.keySet == bm.keySet,
      s"window sets differ: ${(sm.keySet diff bm.keySet).take(3)} / ${(bm.keySet diff sm.keySet).take(3)}")
    sm.foreach { case (k, (n, sv)) =>
      assert(n == bm(k)._1, s"count mismatch at $k")
      // double sums may differ in the last ulp across aggregation orders
      assert(math.abs(sv - bm(k)._2) <= 1e-6 * math.max(1.0, math.abs(sv)),
        s"sum mismatch at $k: $sv vs ${bm(k)._2}")
    }
    assert(sm.nonEmpty)
  }

  test("sessionize: streaming sessions equal the batch gaps-and-islands sessions") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    val evs = graft.Tables.events(spark, sf0001)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val in = MemoryStream[Event]
    val q = StreamingOps.sessionize(in.toDS(), gapMs)
      .writeStream.format("memory").queryName("sess_equiv")
      .outputMode("append").start()
    val streamed =
      try {
        in.addData(evs)
        q.processAllAvailable()
        // two sentinel batches: the first advances the watermark, the
        // second lets every timed-out session flush in append mode
        in.addData(Event(Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "z", 0.0))
        q.processAllAvailable()
        in.addData(Event(Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "z", 0.0))
        q.processAllAvailable()
        spark.table("sess_equiv").as[SessionOut].collect()
          .filter(_.user_id >= 0)
      } finally q.stop()
    // batch twin: the sessionize_batch gaps-and-islands construction,
    // aggregated to the streaming operator's output shape
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = evs.toDF()
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > gapMs * 1000L, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("new_sess")).over(wcum))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .collect()
    def skey(u: Long, st: Timestamp, en: Timestamp, n: Long) =
      (u, st.getTime, en.getTime, n)
    val sm = streamed.map(x =>
      skey(x.user_id, x.start, x.end, x.n_events) -> x.sum_value).toMap
    val bm = batch.map(r => skey(r.getLong(0), r.getTimestamp(2),
      r.getTimestamp(3), r.getLong(4)) -> r.getDouble(5)).toMap
    assert(sm.keySet == bm.keySet,
      s"session sets differ: ${(sm.keySet diff bm.keySet).take(3)} / ${(bm.keySet diff sm.keySet).take(3)}")
    sm.foreach { case (k, v) =>
      assert(math.abs(v - bm(k)) <= 1e-6 * math.max(1.0, math.abs(v)),
        s"session sum mismatch at $k")
    }
    assert(sm.nonEmpty)
  }

  test("dedupStream keeps first arrivals, drops in-watermark re-deliveries") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingOps.dedupStream(in.toDF(), Seq("user_id", "event_type"),
      watermark = "30 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(Event(ts(0), 1, "click", 1.0), Event(ts(1), 1, "click", 2.0),
        Event(ts(2), 2, "view", 3.0))
      q.processAllAvailable()
      // same keys re-delivered in a later batch, still inside the window
      in.addData(Event(ts(5), 1, "click", 4.0), Event(ts(6), 2, "view", 5.0),
        Event(ts(7), 3, "click", 6.0))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .collect().map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
      // one row per key; the FIRST arrival's payload survives
      assert(got.toSet == Set((1L, "click", 1.0), (2L, "view", 3.0),
        (3L, "click", 6.0)), s"got ${got.mkString(",")}")
      // streaming key set == batch dropDuplicates key set
      val batchKeys = Seq(
        Event(ts(0), 1, "click", 1.0), Event(ts(1), 1, "click", 2.0),
        Event(ts(2), 2, "view", 3.0), Event(ts(5), 1, "click", 4.0),
        Event(ts(6), 2, "view", 5.0), Event(ts(7), 3, "click", 6.0))
        .toDF().dropDuplicates("user_id", "event_type")
        .collect().map(r => (r.getLong(1), r.getString(2))).toSet
      assert(got.map(x => (x._1, x._2)).toSet == batchKeys)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join on real events") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = graft.Tables.events(spark, sf0001)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val inL = MemoryStream[Event]
    val inR = MemoryStream[Event]
    // sf0.001 events span a month over 15 users — a day-scale horizon is
    // what actually pairs clicks with views in this data
    val q = StreamingOps.intervalJoin(inL.toDF(), inR.toDF(),
      watermark = "1 day", horizonSec = 86400L)
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    val streamed =
      try {
        inL.addData(evs); inR.addData(evs)
        q.processAllAvailable()
        // sentinel advances both watermarks so every in-horizon pair emits
        val flush = Event(Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "z", 0.0)
        inL.addData(flush); inR.addData(flush)
        q.processAllAvailable()
        spark.table("ivj").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getTimestamp(2).getTime)).toSet
      } finally q.stop()
    val batch = StreamingOps.intervalJoin(evs.toDF(), evs.toDF(),
      watermark = "1 day", horizonSec = 86400L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime)).toSet
    assert(streamed == batch,
      s"missing=${(batch diff streamed).take(3)} extra=${(streamed diff batch).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("stream-static join equals the batch join, stateless per micro-batch") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = graft.Tables.events(spark, sf0001)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
    val dim = graft.Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val in = MemoryStream[Event]
    val q = StreamingOps.streamStaticJoin(in.toDF(), dim)
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2),
        r.getString(4), String.valueOf(r.get(5)))
    val streamed =
      try {
        in.addData(evs)
        q.processAllAvailable() // stateless: no watermark flush needed
        spark.table("ssj").collect().map(keyOf).toSet
      } finally q.stop()
    val batch = StreamingOps.streamStaticJoin(evs.toDF(), dim)
      .collect().map(keyOf).toSet
    assert(streamed == batch,
      s"missing=${(batch diff streamed).take(3)} extra=${(streamed diff batch).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("batch parquet directory reads as a stream with the same operators") {
    implicit val s = spark
    import s.implicits._
    val src = StreamingOps.eventsStream(spark, sf0001)
    assert(src.isStreaming)
    // eventsStream already normalizes ts to TimestampType across vintages
    val q = StreamingOps.windowedAgg(src, watermark = "0 seconds", width = "1 hour")
      .writeStream.format("memory").queryName("file_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode withholds open windows; correctness here is "the file
      // source feeds the same windowed operator without schema surgery"
      assert(spark.table("file_stream").schema.fieldNames
        .sameElements(Array("win_start", "win_end", "event_type", "n", "sum_value")))
    } finally q.stop()
  }
}
