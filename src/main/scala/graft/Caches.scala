package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Checkpoints
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** Query-owned storage lifetime for the declared query surface: the one
  * module that persists, checkpoints and frees.
  *
  * Iterative/multi-consumer queries must persist intermediates (a peel loop
  * that references its previous round twice would otherwise double its
  * lineage per round), but a query that persists and never unpersists
  * poisons every query that runs after it in the same session: storage
  * memory fills, later stages pay GC + spill, and at 100 TB the "cache"
  * becomes the OOM. The round-3 bench measured exactly that — 10 unchanged
  * queries regressed 3–66x purely from accumulated caches.
  *
  * The contract, per session:
  *  - [[pin]] persists a frame that several consumers read; its release
  *    joins the session's pin set.
  *  - [[checkpoint]] cuts a frame's lineage with a local checkpoint; the
  *    release of the checkpoint's RDD joins the pin set too.
  *  - [[release]] frees one checkpoint at once — the loop that drops
  *    generation i when generation i+1 lands. Releasing twice is a no-op.
  *  - [[defer]] registers any other release (GraphX graphs, frames
  *    persisted before the call).
  *  - [[sweep]] runs and clears the pin set. The query SURFACE sweeps
  *    before it builds the next query (SparkEntry.queries wraps every
  *    entry), so whatever a query registered lives exactly until its
  *    result has been consumed. Bench/Verify additionally [[hardSweep]]
  *    between queries so no query's measured cost depends on what ran
  *    before it.
  *
  * Why iterative loops checkpoint: a local checkpoint is the ONLY sound
  * lineage cut for DataFrame loops. persist()+count() cuts execution
  * lineage but leaves the full LOGICAL plan for the analyzer to
  * re-canonicalize every round (the round-3/4 kcore trap: 121 s of
  * driver-side planning at sf0.1). A lazy checkpoint (`eager = false`)
  * materializes on the caller's first action, so a loop can fuse
  * "materialize this generation" and "read its convergence aggregate" into
  * one job; its RDD is marked persisted at once, so releasing it works
  * whether or not an action ever ran.
  *
  * Why every checkpoint's statistics are clamped
  * ([[org.apache.spark.sql.graftbridge.Checkpoints.clampStats]]): the
  * checkpoint copies the child plan's estimated sizeInBytes into its
  * `LogicalRDD`, and in a loop that joins the previous generation the
  * estimate multiplies round over round — digit counts double per round
  * until the driver melts in BigInteger multiplication inside stats
  * estimation (hit live by the 50M coreness fixpoint at ~round 20+).
  * Capping at 10^18 changes no real plan decision (real sizes are far
  * below; the cap is ~defaultSizeInBytes) and bounds every future round's
  * stats math.
  */
object Caches {
  private val reg =
    new java.util.concurrent.ConcurrentHashMap[SparkContext, ArrayBuffer[() => Unit]]()

  private def buf(sc: SparkContext): ArrayBuffer[() => Unit] =
    reg.computeIfAbsent(sc, _ => ArrayBuffer.empty[() => Unit])

  /** Persist `df` and register its release with the session's pin set.
    * The release runs at the next [[sweep]] — i.e. after the query's
    * result has been consumed, when the cache has served its purpose. */
  def pin(df: DataFrame): DataFrame = {
    df.persist()
    defer(df.sparkSession)(df.unpersist(blocking = false))
    df
  }

  /** Local checkpoint of `df` with clamped statistics, its RDD released at
    * the next [[sweep]] unless [[release]]d earlier. The pin set keeps only
    * the RDD id, so a generation the loop already dropped costs the sweep
    * no RPC. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val out = Checkpoints.clampStats(df.localCheckpoint(eager))
    val sc = df.sparkSession.sparkContext
    val id = rddOf(out).id
    defer(df.sparkSession)(
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    out
  }

  /** Free the checkpoint behind `df` (a frame [[checkpoint]] returned) now.
    * A second release does nothing; any other frame throws, so a release
    * aimed at a projection of the checkpoint cannot leak it silently. */
  def release(df: DataFrame): Unit = {
    val rdd = rddOf(df)
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
  }

  private def rddOf(df: DataFrame) = Checkpoints.rdd(df).getOrElse(
    throw new IllegalArgumentException(
      s"not a Caches.checkpoint frame: ${df.queryExecution.analyzed.nodeName}"))

  /** Register an arbitrary cleanup with the session's pin set (GraphX
    * graphs, frames persisted before the call). */
  def defer(s: SparkSession)(f: => Unit): Unit = {
    val b = buf(s.sparkContext)
    b.synchronized { b += (() => f) }
  }

  /** Release every pinned cache of this session (idempotent; failures in
    * individual releases are swallowed — an already-stopped session must
    * not mask the remaining releases). */
  def sweep(s: SparkSession): Unit = {
    val b = buf(s.sparkContext)
    val thunks = b.synchronized { val t = b.toList; b.clear(); t }
    thunks.foreach(t => try t() catch { case _: Exception => () })
  }

  /** Full session cache reset: [[sweep]] + drop the cross-query minhash
    * pair memo + clear the SQL cache + unpersist any stray RDDs (GraphX
    * internals cache aggressively and not every generation is reachable
    * from user code). Bench runs this between queries so per-query times
    * are order-independent. */
  def hardSweep(s: SparkSession): Unit = {
    sweep(s)
    queries.DedupQueries.clearPairsCache()
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
