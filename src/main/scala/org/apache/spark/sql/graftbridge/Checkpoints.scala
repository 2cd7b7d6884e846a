package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Statistics hygiene for ITERATIVE localCheckpoint loops.
  *
  * `Dataset.localCheckpoint` carries the child plan's estimated
  * `Statistics` into the resulting `LogicalRDD` (`originStats`) so the
  * optimizer keeps size information across the lineage cut. For a loop
  * that checkpoints every round this compounds: round i+1's plan JOINS
  * round i's checkpoint (sometimes twice), size-only estimation
  * MULTIPLIES children's `sizeInBytes`, and the checkpoint inherits the
  * product — so the BigInt's digit count roughly DOUBLES per round.
  * Past ~20 rounds the driver spends minutes per stats call inside
  * Karatsuba/Toom-Cook multiplication (observed live: the 50M-node
  * coreness fixpoint wedged the driver's main thread in
  * `SizeInBytesOnlyStatsPlanVisitor` → `BigInteger.multiplyToomCook3`
  * with the box otherwise idle — a pure driver-side planning melt that
  * no amount of executors fixes).
  *
  * [[clampStats]] rebuilds the just-checkpointed `LogicalRDD` with
  * `sizeInBytes`/`rowCount` capped at 10^18 (≈ the session's
  * `defaultSizeInBytes` scale). Every REAL size estimate is far below
  * the cap, so plan choices are untouched — only the pathological
  * products clamp, and with every generation's inputs ≤ 10^18 the next
  * round's products stay ≤ ~10^72: trivial BigInt math forever, any
  * round count.
  *
  * [[rdd]] hands [[graft.Caches]] the RDD a local checkpoint persisted:
  * the `LogicalRDD`'s own, so no diff of the persistent-RDD set is
  * needed to find it. */
object Checkpoints {
  private val Cap = BigInt(10).pow(18)

  def clampStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session =
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val st = lr.stats
        val clamped = Statistics(
          sizeInBytes = st.sizeInBytes.min(Cap),
          rowCount = st.rowCount.map(_.min(Cap)))
        Dataset.ofRows(session,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            session, Some(clamped), None))
      case _ => df
    }

  /** The locally checkpointed RDD behind a checkpoint frame; None for any
    * frame whose analyzed plan is not exactly such a `LogicalRDD`. */
  def rdd(df: DataFrame): Option[RDD[_]] = df.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.rdd.checkpointData.exists(
        _.isInstanceOf[LocalRDDCheckpointData[_]]) => Some(lr.rdd)
    case _ => None
  }
}
