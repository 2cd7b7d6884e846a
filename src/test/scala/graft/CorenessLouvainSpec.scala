package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.GraphAlgos

/** Production-mode iteration for the round-8 graph decompositions
  * (r8 verdict items 4+5), gated at sf0.001 — the same checks the scale
  * rehearsal runs at 50M:
  *  - hIndexRoundHist (hub-safe bounded histogram) is result-identical
  *    to hIndexRoundSort, per node, per round;
  *  - corenessFixpoint converges with a monotone h-sequence and lands on
  *    the EXACT core numbers (checked against a driver-side peel — sound
  *    at this SF, the graph is a few thousand nodes);
  *  - the Louvain ladder louvainSweep → coarsen → louvainSweep keeps
  *    exact-integer modularity non-decreasing, and coarsening leaves
  *    modularity INVARIANT (Q of the coarse graph under the second
  *    sweep's labels == Q of the original graph under composed labels).
  */
class CorenessLouvainSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private lazy val sym = {
    val e = GraphAlgos.coPurchaseEdges(spark, sf0001).cache()
    e.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      .cache()
  }
  private lazy val (hmax, maxDeg) = {
    val deg = sym.groupBy("x").agg(count(lit(1)).as("deg"))
    val r = deg.agg(sum(col("deg")), max(col("deg"))).head()
    (math.sqrt(r.getLong(0).toDouble).toLong, r.getLong(1))
  }

  test("histogram h-index round == sort h-index round, node for node") {
    var h = sym.groupBy(col("x")).agg(count(lit(1)).as("h"))
    for (round <- 1 to 3) {
      val hs = GraphAlgos.hIndexRoundSort(sym, h)
      val hh = GraphAlgos.hIndexRoundHist(sym, h, hmax)
      val diff = hs.withColumnRenamed("h", "a")
        .join(hh.withColumnRenamed("h", "b"), Seq("x"), "full")
        .filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
        .count()
      assert(diff == 0, s"round $round: $diff nodes differ between forms")
      h = hs.localCheckpoint(true)
    }
  }

  test("histogram round's plan: partial-agg histogram feeds the window, no degree-sized sort input") {
    val h0 = sym.groupBy(col("x")).agg(count(lit(1)).as("h"))
    val plan = GraphAlgos.hIndexRoundHist(sym, h0, hmax)
      .queryExecution.executedPlan.toString
    // the (x, hvc) count must partial-aggregate BEFORE the window's sort:
    // two HashAggregates for the histogram + the window on top of them
    assert(plan.contains("Window"), plan.take(500))
    val winIdx = plan.indexOf("Window")
    val below = plan.substring(winIdx)
    assert(below.contains("HashAggregate") || below.contains("SortAggregate"),
      "the window must consume the aggregated histogram, not raw neighbor rows")
    assert("partial_count|partial_sum".r.findFirstIn(plan).isDefined,
      "histogram count must have a map-side partial phase (hub fan-in collapse)")
  }

  test("corenessFixpoint converges monotonically to the exact core numbers") {
    val (h, hIds, rounds, converged) = GraphAlgos.corenessFixpoint(
      spark, sym, hmax, maxDeg, maxRounds = 100, checkMonotone = true)
    assert(converged, s"no fixpoint after $rounds rounds")
    assert(rounds >= 1)
    // driver-side exact peel (Matula–Beck): repeatedly remove the
    // minimum-degree node; its degree at removal is its core number
    val adjPairs = sym.select("x", "y").collect()
      .map(r => (r.getAs[Number]("x").longValue, r.getAs[Number]("y").longValue))
    val adj = adjPairs.groupBy(_._1).map { case (k, vs) =>
      (k, scala.collection.mutable.Set(vs.map(_._2): _*)) }
    val deg = scala.collection.mutable.Map(adj.map { case (k, v) => (k, v.size) }.toSeq: _*)
    val core = scala.collection.mutable.Map.empty[Long, Int]
    val remaining = scala.collection.mutable.Set(deg.keys.toSeq: _*)
    var k = 0
    while (remaining.nonEmpty) {
      val u = remaining.minBy(deg)
      k = math.max(k, deg(u))
      core(u) = k
      remaining -= u
      adj(u).foreach { v =>
        if (remaining.contains(v)) { deg(v) -= 1; adj(v) -= u }
      }
    }
    val got = h.collect().map(r =>
      (r.getAs[Number]("x").longValue, r.getAs[Long]("h"))).toMap
    GraphAlgos.freeRdds(spark, hIds)
    assert(got.keySet == core.keySet)
    val bad = got.filter { case (n, hv) => hv != core(n).toLong }
    assert(bad.isEmpty,
      s"${bad.size} nodes disagree with the exact peel, e.g. ${bad.take(3)}")
    // the single-task kernel (the scale-adaptive small-graph path the
    // declared query takes below the arc license) must agree with both
    val kern = GraphAlgos.corenessExactSmall(spark, sym).collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("h"))).toMap
    assert(kern.keySet == core.keySet)
    val badK = kern.filter { case (n, hv) => hv != core(n).toLong }
    assert(badK.isEmpty,
      s"${badK.size} kernel nodes disagree with the exact peel, " +
        s"e.g. ${badK.take(3)}")
  }

  test("checkpoint stats stay clamped across many self-joining rounds (driver-melt regression)") {
    // localCheckpoint inherits the child plan's estimated sizeInBytes;
    // a loop that joins its own previous generation MULTIPLIES the
    // estimate per round — digits double until the driver wedges in
    // BigInteger math inside stats estimation (hit live at 50M, round
    // ~20+). The clamp in checkpointWithIds bounds every generation.
    import spark.implicits._
    val cap = BigInt(10).pow(18)
    var (df, ids0) = GraphAlgos.checkpointWithIds(
      Seq(1L, 2L, 3L).toDF("x"))
    // generations are freed at the END here: this test's subject is the
    // STATS clamp (the per-round-free discipline over real data is what
    // the fixpoint test above exercises), and 60 trivial generations are
    // a few KB of blocks
    val all = scala.collection.mutable.Set.empty[Int] ++= ids0
    val t0 = System.nanoTime()
    for (_ <- 1 to 60) {
      val (nd, nids) = GraphAlgos.checkpointWithIds(
        df.join(df.withColumnRenamed("x", "y"), expr("x = y"))
          .join(df.withColumnRenamed("x", "z"), expr("x = z"))
          .select(col("x")))
      df = nd; all ++= nids
      assert(df.queryExecution.analyzed.stats.sizeInBytes <= cap,
        "checkpointed stats exceed the clamp")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(df.count() == 3)
    GraphAlgos.freeRdds(spark, all.toSet)
    // unclamped, round ~25+ alone takes minutes of driver-side BigInt
    // math; the whole loop must stay planning-cheap (generous bound for
    // a loaded CI box)
    assert(sec < 120, f"60 self-joining rounds took $sec%.0f s — stats blowup?")
  }

  test("louvain ladder: modularity non-decreasing and coarsening-invariant (exact integers)") {
    // The ladder runs the GUARDED sweep (louvainSweepMonotone): the raw
    // synchronous sweep's q1 >= q0 is NOT a theorem (see the path
    // counterexample test below), but max(q0, q1) selection makes it one.
    val we = GraphAlgos.weightedCoPurchase(spark, sf0001)
      .localCheckpoint(true)
    val (lbl1, ids1, qSingle, qSweep1, m2a, nComm1) =
      GraphAlgos.louvainSweepMonotone(spark, we)
    // the fused community count must equal the labels' own distinct count
    assert(nComm1 == lbl1.select(col("comm")).distinct().count(),
      "modularityScaledN's folded community count drifted from the labels")
    assert(qSweep1 >= qSingle,
      s"guarded sweep 1 decreased modularity: $qSweep1 < $qSingle")
    // on this community-structured fixture the guard must be a no-op:
    // the sweep genuinely improves Q (a strict > would make the whole
    // ladder trivially singleton-only and the test vacuous)
    assert(qSweep1 > qSingle,
      s"sweep made no move on the co-purchase fixture ($qSweep1 == $qSingle)")
    val coarse = GraphAlgos.coarsen(we, lbl1).localCheckpoint(true)
    // coarsening preserves total strength exactly
    val (qCoarseSingle, m2c) = GraphAlgos.modularityScaled(coarse,
      coarse.select(col("u").as("x")).unionByName(coarse.select(col("v").as("x")))
        .distinct().select(col("x"), col("x").as("comm")))
    assert(m2c == m2a, s"coarsening changed total strength: $m2c != $m2a")
    // singleton labels on the coarse graph == sweep-1 labels on the
    // original (each super-node IS a community): Q must carry over exactly
    assert(qCoarseSingle == qSweep1,
      s"coarsening is not modularity-invariant: $qCoarseSingle != $qSweep1")
    val (lbl2, ids2, qc2, qSweep2, _, _) =
      GraphAlgos.louvainSweepMonotone(spark, coarse)
    assert(qc2 == qCoarseSingle,
      s"monotone sweep's own singleton pricing disagrees: $qc2 != $qCoarseSingle")
    assert(qSweep2 >= qSweep1,
      s"sweep 2 decreased modularity: $qSweep2 < $qSweep1")
    // composed labels on the ORIGINAL graph reproduce the coarse Q exactly
    val composed = lbl1.select(col("x"), col("comm").as("c1"))
      .join(lbl2.select(col("x").as("c1"), col("comm")), "c1")
      .select(col("x"), col("comm"))
    val (qComposed, _) = GraphAlgos.modularityScaled(we, composed)
    assert(qComposed == qSweep2,
      s"composed labels lose modularity invariance: $qComposed != $qSweep2")
    GraphAlgos.freeRdds(spark, ids1 ++ ids2)
  }

  test("louvain synchronous-move counterexample: raw sweep regresses, guarded sweep does not") {
    // The w=1 path 1–2–3: every candidate score is 2m·w − du·dv = 2 > 0,
    // node 2 tie-breaks to the smaller neighbor — the SIMULTANEOUS moves
    // yield partition {2},{1,3} with Q·(2m)² = −8, strictly below the
    // singletons' −6. This pins the raw sweep's known non-monotonicity
    // (its scaladoc caveat) and proves the guard restores the theorem.
    import spark.implicits._
    val we = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("u", "v", "w")
      .localCheckpoint(true)
    val singles = we.select(col("u").as("x")).unionByName(
      we.select(col("v").as("x"))).distinct()
      .select(col("x"), col("x").as("comm"))
    val (q0, m2) = GraphAlgos.modularityScaled(we, singles)
    assert(m2 == 4L && q0 == -6L, s"fixture arithmetic drifted: m2=$m2 q0=$q0")
    val (rawLbl, rawIds) = GraphAlgos.louvainSweep(spark, we)
    val (qRaw, _) = GraphAlgos.modularityScaled(we, rawLbl)
    assert(qRaw == -8L,
      s"raw synchronous sweep no longer regresses on the path ($qRaw) — " +
        "update the counterexample if the tie-break rule changed")
    GraphAlgos.freeRdds(spark, rawIds)
    val (gLbl, gIds, gq0, gq1, _, gn) =
      GraphAlgos.louvainSweepMonotone(spark, we)
    assert(gn == 3L, s"fallback community count must be the node count: $gn")
    assert(gq0 == -6L && gq1 == -6L,
      s"guarded sweep must fall back to singletons here: q0=$gq0 q1=$gq1")
    val kept = gLbl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kept == Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"guarded sweep returned non-singleton labels: $kept")
    GraphAlgos.freeRdds(spark, gIds)
  }

  test("modularityScaled fails loudly past the 2m BIGINT bound") {
    // the sweep guards bound 2m·maxW and maxDeg² but not 2m itself; the
    // pricing function must not silently wrap m2*aIn (ADVICE r9)
    import spark.implicits._
    val we = Seq((1L, 2L, 2000000000L)).toDF("u", "v", "w")
    val singles = Seq((1L, 1L), (2L, 2L)).toDF("x", "comm")
    val e = intercept[IllegalArgumentException] {
      GraphAlgos.modularityScaled(we, singles)
    }
    assert(e.getMessage.contains("overflows BIGINT"), e.getMessage)
    // the single-task ladder prices the same input in its task: it must
    // fail closed with the same guard, not return wrapped integers
    val k = intercept[Exception] {
      GraphAlgos.louvainLadderKernel(spark, we).collect()
    }
    assert(Iterator.iterate(k: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("overflows BIGINT")), k.toString)
  }
}
