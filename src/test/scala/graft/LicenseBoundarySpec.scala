package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Licenses

/** Both sides of every scale-adaptive license give the same rows, and the
  * license really switches the plan. Each licensed query runs at sf0.001
  * once at [[Licenses.Default]] and once with every limit at 0, both with
  * Spark's own broadcast thresholds at -1 so AQE cannot broadcast on its
  * own: every `BroadcastExchange` seen is then one a license asked for.
  * Plans are the executed plans of every action the query ran (license
  * counts, checkpoints, the final collect), caught by a
  * QueryExecutionListener. */
class LicenseBoundarySpec extends AnyFunSuite {
  import SparkSessionFixture._

  private val zero = Licenses.Limits(broadcastArcs = 0, frontierRows = 0,
    sketchRows = 0, imageRows = 0, kernelArcs = 0)
  private val autoBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold")

  /** Sorted result rows and the executed plans of `query` under `limits`. */
  private def run(query: String, limits: Licenses.Limits)
      : (Seq[String], Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Caches.hardSweep(spark)
    val saved = autoBroadcast.map(k => k -> spark.conf.getOption(k))
    autoBroadcast.foreach(spark.conf.set(_, "-1"))
    spark.listenerManager.register(listener)
    try {
      val rows = Licenses.withLimits(limits) {
        SparkEntry.queries(query)(spark, sf0001).collect()
      }
      ListenerBusDrain(spark.sparkContext)
      (rows.map(_.toString).toSeq.sorted, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      Caches.hardSweep(spark)
    }
  }

  private def broadcasts(plans: Seq[String]): Int =
    plans.map("BroadcastExchange".r.findAllMatchIn(_).size).sum

  /** The single-task kernel shape: MapPartitions over Coalesce 1. */
  private def kernel(plans: Seq[String]): Boolean = plans.exists { p =>
    val mp = p.indexOf("MapPartitions")
    mp >= 0 && p.indexOf("Coalesce 1", mp) > mp
  }

  private def sameRows(q: String, a: Seq[String], b: Seq[String]): Unit = {
    assert(a.nonEmpty, s"$q returned no rows")
    assert(a == b, s"$q: rows differ across the license, " +
      s"first difference ${a.zip(b).find { case (x, y) => x != y }}, " +
      s"sizes ${a.size} vs ${b.size}")
  }

  // graph_scc's dense-index build broadcasts its bucket bases
  // unconditionally; every other broadcast here is a license's
  private val broadcastLicensed = Seq("graph_sssp", "graph_pagerank",
    "graph_msf", "graph_scc", "graph_ppr", "graph_topo_layers",
    "graph_hyperball")

  broadcastLicensed.foreach { q =>
    test(s"$q: same rows with and without its broadcast license") {
      val (rowsOn, plansOn) = run(q, Licenses.Default)
      val (rowsOff, plansOff) = run(q, zero)
      sameRows(q, rowsOn, rowsOff)
      assert(broadcasts(plansOn) > broadcasts(plansOff),
        s"$q: the license added no broadcast " +
          s"(${broadcasts(plansOn)} vs ${broadcasts(plansOff)})")
      if (q != "graph_scc") assert(broadcasts(plansOff) == 0,
        s"$q broadcast with every limit at 0")
    }
  }

  test("graph_louvain_ladder: louvainLadderKernel == distributed ladder, row for row") {
    val (rowsKernel, plansKernel) = run("graph_louvain_ladder", Licenses.Default)
    val (rowsLadder, plansLadder) = run("graph_louvain_ladder", zero)
    sameRows("graph_louvain_ladder", rowsKernel, rowsLadder)
    assert(rowsKernel.size == 5, rowsKernel)
    assert(kernel(plansKernel), "the kernel did not run below its license")
    assert(!kernel(plansLadder), "the kernel ran with its license at 0")
  }

  test("graph_coreness_fixpoint: kernel == broadcast fixpoint == shuffled fixpoint") {
    val (rowsKernel, plansKernel) = run("graph_coreness_fixpoint", Licenses.Default)
    val (rowsBcast, plansBcast) = run("graph_coreness_fixpoint",
      Licenses.Default.copy(kernelArcs = 0))
    val (rowsShuffled, plansShuffled) = run("graph_coreness_fixpoint", zero)
    sameRows("graph_coreness_fixpoint", rowsKernel, rowsBcast)
    sameRows("graph_coreness_fixpoint", rowsKernel, rowsShuffled)
    assert(kernel(plansKernel), "the kernel did not run below its license")
    assert(!kernel(plansBcast) && !kernel(plansShuffled),
      "the kernel ran with its license at 0")
    assert(broadcasts(plansBcast) > 0,
      "corenessFixpoint took no broadcast round below its frontier license")
    assert(broadcasts(plansShuffled) == 0,
      "corenessFixpoint broadcast with its frontier license at 0")
  }
}
