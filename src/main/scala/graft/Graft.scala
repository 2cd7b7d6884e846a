package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing entry points: session construction with the engine's
  * extensions installed, and SQL-surface registration so every table and
  * graph is queryable from `spark.sql(...)`.
  */
object Graft {
  /** Local cores every run uses: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The one session builder: every main (Bench, Verify, Profile,
    * PlanAudit, the rehearsals) and the test suite start here, so they
    * all run the config users get. Base config: `local[cpus]`, shuffle
    * partitions = cpus, AQE with partition coalescing, UTC, the engine's
    * extensions (fnv64/vec_dot/...), nanosecond parquet timestamps read as
    * longs, no UI, and shuffle spill under [[Scratch]] (tmpfs when
    * available). `conf` entries override or extend the base; each caller
    * passes only the settings it has a documented reason for. Sets the
    * log level to WARN. */
  def session(cpus: Int = Graft.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    // by-name default: Scratch is only touched when not overridden
    val local = "spark.local.dir" ->
      conf.getOrElse("spark.local.dir", Scratch.dir("spark_local"))
    val spark = SparkSession.builder().config(base + local ++ conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every testdata table under its name as a temp view, so the
    * whole relational surface is available to plain SQL. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** Register a BVGraph (plain or sharded) as a temp view of
    * (id, successors, outdegree). */
  def registerGraph(spark: SparkSession, name: String, basename: String): DataFrame = {
    val df = spark.read.format("bvgraph").option("basename", basename).load()
    df.createOrReplaceTempView(name)
    df
  }
}
