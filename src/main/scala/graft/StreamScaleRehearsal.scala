package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Rehearsal.timed

/** Streaming scale rehearsal (r8 verdict item 6): nothing exercised the
  * state store past sf0.1 — the 18 oracle-gated stream_* queries replay a
  * few thousand rows through the memory-source harness. This drives the
  * PRODUCTION ingest shape at 10M events: parquet files on disk read by
  * a bounded file source (`maxFilesPerTrigger`, `Trigger.AvailableNow` —
  * the exactly-once batch-backfill mode), RocksDB state store, real
  * multi-batch watermark advancement, measured rows/s and per-batch
  * state-commit cost from the query's own progress telemetry.
  *
  * Usage: StreamScaleRehearsal [events] (default 10M)
  *
  * Two stateful shapes, each CHECKED against its batch twin (exact
  * equality — the streaming result of a bounded backfill must equal the
  * batch query, not approximate it):
  *  - windowed aggregation (hour windows × 1024 user buckets, complete
  *    mode): bounded state (~windows × buckets), many per-batch commits;
  *  - dropDuplicates + global count over a corpus with planted
  *    at-least-once redeliveries: the state store holds EVERY seen
  *    event id (10M+ RocksDB keys) — the state-volume test the memory
  *    harness can't reach.
  *
  * Like the other rehearsals this deliberately does NOT use tmpfs
  * scratch: checkpoints and RocksDB working dirs go to real disk —
  * production state stores live on disk, and the honest cost includes
  * that I/O. */
object StreamScaleRehearsal {
  def main(args: Array[String]): Unit =
    Rehearsal.run(args, defaultSize = 10000000L, conf = Map(
      // state-heavy shuffles: state store partition count == shuffle
      // partitions, pinned at the FIRST batch; 2x cores balances commit
      // parallelism against per-batch file churn (each partition writes
      // a changelog/commit per batch)
      "spark.sql.shuffle.partitions" -> (Graft.cpus * 2).toString,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // changelog checkpointing: commit the per-batch DELTA, snapshot in
      // the background — the production setting for frequent commits (a
      // full RocksDB snapshot per partition per batch measured ~1.1 s
      // each here, dominating wall-clock 15:1 over the actual work)
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true"))(rehearse)

  private def rehearse(spark: SparkSession, nEvents: Long): Seq[(String, Any)] = {
    val work = java.nio.file.Files.createTempDirectory("graft_stream_scale")
      .toString

    // --- deterministic event corpus on disk: 64 parquet files so
    // maxFilesPerTrigger=8 yields 8 real micro-batches. Event times span
    // 10 days hourly -> 240 windows; planted redeliveries duplicate every
    // 16th event (at-least-once ingest, the dedup operator's reason to
    // exist). Content is pure integer arithmetic off the id — the batch
    // twin recomputes it identically.
    val srcDir = s"$work/events"
    val (_, tGen) = timed {
      val base = spark.range(0, nEvents).select(
        col("id").as("event_id"),
        pmod(col("id") * 2654435761L, lit(1024L)).as("bucket"),
        timestamp_seconds(lit(1577836800L) + pmod(col("id") * 37L,
          lit(864000L))).as("ts"),
        pmod(col("id") * 13L, lit(10000L)).as("v_cents"))
      val dups = base.filter(col("event_id") % 16 === 0)
      base.unionByName(dups).repartition(64)
        .write.mode("overwrite").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema

    def runStream(name: String, build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, outputMode: String)
        : (org.apache.spark.sql.DataFrame, Double, Long, Long, Long) = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8).parquet(srcDir)
      val q = build(src).writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$work/ckpt_$name")
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      val (_, t) = timed { q.awaitTermination() }
      val progress = q.recentProgress
      val batches = progress.length.toLong
      // a chained plan (dedup -> agg) reports one entry per stateful
      // operator: state volume = the largest, commit cost = the sum
      val stateRows = progress.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).foldLeft(0L)(math.max))
        .getOrElse(-1L)
      val commitMs = progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum
      (spark.table(name), t, batches, stateRows, commitMs)
    }

    // --- shape 1: watermarked hour-window x bucket aggregation, complete
    // mode (bounded state, repeated full-state commits per batch)
    val (aggOut, tAgg, aggBatches, aggStateRows, aggCommitMs) = runStream(
      "stream_scale_agg",
      src => src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("cents")),
      outputMode = "complete")
    val aggRows = aggOut.count()
    val batchAgg = spark.read.parquet(srcDir)
      .groupBy(window(col("ts"), "1 hour"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("cents"))
    val aggMismatch =
      aggOut.exceptAll(batchAgg).count() + batchAgg.exceptAll(aggOut).count()

    // --- shape 2: exactly-once dedup of the at-least-once corpus — the
    // state store carries one key per DISTINCT event id (nEvents keys in
    // RocksDB), then a global count in complete mode
    val (dedupOut, tDedup, dedupBatches, dedupStateRows, dedupCommitMs) =
      runStream("stream_scale_dedup",
        src => src.dropDuplicates("event_id")
          .groupBy().agg(count(lit(1)).as("n_distinct")),
        outputMode = "complete")
    val nDistinct = dedupOut.head().getLong(0)

    val totalIn = nEvents + nEvents / 16
    // best-effort cleanup: 10M-event corpus + RocksDB checkpoints on disk
    def rm(p: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(p.toPath)) {
        val k = p.listFiles(); if (k != null) k.foreach(rm)
      }
      p.delete(): Unit
    }
    rm(new java.io.File(work))
    Seq("events" -> nEvents, "ingested_rows" -> totalIn,
      "gen_sec" -> tGen,
      "agg_sec" -> tAgg, "agg_mrows_per_sec" -> totalIn / tAgg / 1e6,
      "agg_batches" -> aggBatches, "agg_state_rows" -> aggStateRows,
      "agg_commit_ms" -> aggCommitMs, "agg_out_rows" -> aggRows,
      "dedup_sec" -> tDedup,
      "dedup_mrows_per_sec" -> totalIn / tDedup / 1e6,
      "dedup_batches" -> dedupBatches, "dedup_state_rows" -> dedupStateRows,
      "dedup_commit_ms" -> dedupCommitMs,
      "checks" -> (aggMismatch == 0L && aggRows > 0L &&
        nDistinct == nEvents && aggBatches >= 8L && dedupBatches >= 8L &&
        dedupStateRows >= nEvents))
  }
}
