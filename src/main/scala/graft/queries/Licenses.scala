package graft.queries

import scala.util.DynamicVariable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one scale-adaptive policy of the graph family. Every operator that
  * picks a broadcast, a shuffle or a single-task kernel by input size
  * reads its row or arc limit here; no other code holds one.
  *
  * Why the broadcast licenses exist: an iterative loop joins an
  * edge-sized frame against node-sized state every round, and AQE
  * converts such a join to broadcast only AFTER both children's shuffle
  * writes ran — so every round paid an edge-sized exchange for a
  * node-sized build side. One count on a frame the caller already
  * materialized licenses an explicit broadcast of the node-sized side for
  * the whole loop; the message aggregate then partial-aggregates map-side
  * and the per-round shuffle drops to one node-sized exchange.
  * Crawl-scale inputs exceed the license and keep the shuffled plans.
  *
  * Why the kernel license exists: below it the whole graph fits one
  * executor task, so an exact single-task algorithm beats any
  * distributed iteration — the broadcast rule one level up (when the
  * data fits a hash table stop shuffling; when the GRAPH fits a task stop
  * iterating). The 50M-node rehearsal graph (~500M arcs) exceeds it and
  * keeps the distributed paths honest at scale.
  *
  * The limits are fixed: no env var, conf or argument sets them. The one
  * override, [[withLimits]], is for tests that prove both sides of each
  * license give the same rows. It is read on the driver, in the thread
  * that builds the query. */
object Licenses {

  /** @param broadcastArcs node-sized frames broadcast into joins with an
    *   edge frame of at most this many rows (≤ ~32 MB of plain longs).
    *   Read by relaxRounds, pageRankLoop, boruvkaForest, graph_ppr and
    *   graph_topo_layers.
    * @param frontierRows corenessFixpoint broadcasts its changed set,
    *   frontier and recomputed H-index rows, and fuses two sub-rounds,
    *   while their EXACT size bounds stay at or below this many ids.
    * @param sketchRows KMV sketch frames broadcast at or below this many
    *   rows: each carries a k-long array (~150 B/row, so ~150 MB), which is
    *   why this row license is below the plain-long one.
    * @param imageRows pointerDoubling broadcasts its restricted build side
    *   once the pointer image is at or below this many rows
    *   (~2.4 MB of (bi, bp, bm)).
    * @param kernelArcs the single-task kernels (corenessExactSmall,
    *   louvainLadderKernel) run at or below this many arcs. Measured at
    *   the top of the license, the whole task JVM completes in 1024 MB of
    *   heap for the coreness peel and 1792 MB for the ladder, of which
    *   Spark itself needs 512 MB (SCALE.md "Graph kernels"). */
  final case class Limits(broadcastArcs: Long, frontierRows: Long,
      sketchRows: Long, imageRows: Long, kernelArcs: Long)

  val Default: Limits = Limits(broadcastArcs = 4_000_000L,
    frontierRows = 4_000_000L, sketchRows = 1_000_000L,
    imageRows = 100_000L, kernelArcs = 32_000_000L)

  private val current = new DynamicVariable[Limits](Default)

  /** Test-only: run `body` with `limits` in place of [[Default]]. */
  private[graft] def withLimits[T](limits: Limits)(body: => T): T =
    current.withValue(limits)(body)

  /** The limits in force: [[Default]] outside a [[withLimits]] scope. */
  def limits: Limits = current.value

  /** `broadcast` when `licensed`, else identity. */
  def broadcastIf(licensed: Boolean): DataFrame => DataFrame =
    if (licensed) broadcast(_) else identity

  /** Counts `sized` once (one job) and returns `broadcast` when it has at
    * most `limit` rows, else identity. */
  def broadcastWithin(sized: DataFrame, limit: Long): DataFrame => DataFrame =
    broadcastIf(sized.count() <= limit)
}
