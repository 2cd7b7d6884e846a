package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

/** Profiling and plan-dump tool: run the named queries in ONE session
  * (Bench's config, and Bench's cold-cache discipline of a hard sweep
  * before every run) and print per-run wall seconds. Given a plan
  * directory, it also writes the last run's AQE-final formatted plan
  * (`isFinalPlan=true`) to `<planDir>/<query>_<suffix>.txt`, the layout
  * the optimization rounds commit under `plans/rNN/`. The dumped plan is
  * the plan of the timed run itself, not of a second execution.
  * Iteration tool only — the driver contract mains are Verify/Bench.
  *
  * Usage: Profile <sfDir> <query>[,query...] [runs] [planDir suffix]
  * (runs defaults to 2; -Dgraft.jobs=1 adds per-job timing)
  */
object Profile {
  // sub-plan probes for decomposition (not part of the query surface)
  private val extras: Map[String, (SparkSession, String) => DataFrame] =
    Map("_copurchase" -> ((s, d) => queries.GraphAlgos.coPurchaseEdges(s, d)),
      // architectural floor of one iteration round: lazy checkpoint
      // of a trivially-transformed 20k-row frame + 1-row agg action,
      // 20 rounds — isolates the per-barrier cost every iterative query
      // pays from any real operator work
      "_roundfloor" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        var df = s.range(20000).select(col("id").as("x"), col("id").as("h"))
        for (r <- 1 to 20) {
          val t0 = System.nanoTime()
          val ck = Caches.checkpoint(
            df.select(col("x"), (col("h") + r).as("h")), eager = false)
          val st = ck.agg(sum(col("h"))).head()
          require(!st.isNullAt(0))
          if (r > 1) Caches.release(df)
          df = ck
          println(f"[floor] round $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
        df
      }),
      // the streaming replay harness's own cost (see Bench's
      // stream_harness_floor) — profiled here so -Dgraft.jobs=1 can
      // decompose it into staging writes vs micro-batch commits
      "_streamfloor" -> ((s, d) =>
        graft.streaming.StreamingOps.harnessFloor(s, d)))

  /** Hard-sweep every cache, then build `name` (a declared query or one
    * of the probes above) and run it ONCE through its own
    * QueryExecution's `toRdd`, consuming every row driver-free. Returns
    * that execution, whose `executedPlan` is now the AQE-final plan, and
    * the seconds the build and run took (the sweep is not timed). */
  def runOnce(spark: SparkSession, sfDir: String, name: String)
      : (QueryExecution, Double) = {
    Caches.hardSweep(spark)
    val t0 = System.nanoTime()
    val qe = SparkEntry.queries.getOrElse(name, extras(name))(spark, sfDir)
      .queryExecution
    qe.toRdd.foreachPartition { it => while (it.hasNext) { it.next(); () } }
    (qe, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length != 4,
      "usage: Profile <sfDir> <query>[,query...] [runs] [planDir suffix]")
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val planOut = args.lift(3).map(dir => (dir, args(4)))
    val spark = Graft.session()
    // -Dgraft.jobs=1: per-JOB timing (id, wall ms, #stages, #tasks,
    // description) — decomposes barrier-bound iterative queries into
    // their actions/broadcast-collect jobs, which per-query wall time
    // cannot separate
    if (sys.props.get("graft.jobs").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(js.jobId, (System.nanoTime(), js.stageInfos.map(_.numTasks).sum,
              Option(js.properties).flatMap(p =>
                Option(p.getProperty("spark.job.description"))).getOrElse(""))): Unit
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = starts.remove(je.jobId)
            if (st != null) println(
              f"[job] id=${je.jobId}%4d ms=${(System.nanoTime() - st._1) / 1e6}%7.1f " +
                f"tasks=${st._2}%4d ${st._3.take(90)}")
          }
        })
    // warmup (JIT/codegen/parquet init), same as Bench
    runOnce(spark, sfDir, "scalar_funcs"): Unit
    planOut.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      (1 to runs).foreach { i =>
        val (qe, sec) = runOnce(spark, sfDir, name)
        println(f"[profile] $name run$i: $sec%.2f s")
        if (i == runs) planOut.foreach { case (dir, suffix) =>
          val file = Paths.get(dir, s"${name}_$suffix.txt")
          Files.writeString(file, qe.explainString(FormattedMode))
          println(s"[profile] wrote $file")
        }
      }
    }
    spark.stop()
  }
}
