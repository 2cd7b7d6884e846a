package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Iterative graph analytics over testdata-derived graphs — the algorithms
  * a user of the reference would run through its GraphX handoff
  * (/root/reference/README.md:37-48), expressed DataFrame-first so every
  * result stays DuckDB-checkable.
  *
  * Two graphs are used:
  *  - the customer→order bipartite graph (same node space as graph_cc:
  *    orders shifted by 1e6 so id ranges are provably disjoint);
  *  - the part co-purchase graph: parts appearing in the same order are
  *    connected. Construction is a self-join WITHIN an order — groups are
  *    bounded by order size (≤7 lineitems), so the pair explosion is
  *    ≤21 rows per order: a scale-safe co-occurrence build, one shuffle
  *    on the order key.
  *
  * Scale notes: PageRank/BFS are inherently iterative — each iteration is
  * one join-shuffle on the edge partitioning (at 100 TB you would
  * co-partition edges and ranks once and reuse the partitioning; AQE
  * handles skewed hubs). Triangle counting orients edges by (degree, id)
  * — the standard compact-forward trick that bounds wedge fan-out by the
  * SMALLER endpoint degree, keeping hub wedges from exploding the join.
  */
object GraphAlgos {
  type Q = (SparkSession, String) => DataFrame

  private val OFF = 1000000L

  /** Fail-fast guard for BIGINT-packed composite keys (msf's pk, mis's
    * prio, random_walk's argmin key): packing total-orders its fields ONLY
    * while each stays under its shift width — out-of-range inputs would
    * silently mis-sort the argmin (wrong result, right cardinality: the
    * worst failure mode), so every packing call-site pays one node-sized
    * agg over its (already checkpointed/pinned) frame to check the actual
    * id space and aborts loudly with the widening instruction. bv_big
    * makes >2³¹ id spaces reachable, so "the test data fits" is not an
    * invariant any of these can assume. */
  private[graft] def requirePackedIds(what: String, df: DataFrame,
      bounds: (String, Long)*): Unit = {
    val aggs = bounds.map { case (c, _) => max(col(c).cast("long")) }
    val mx = df.agg(aggs.head, aggs.tail: _*).head()
    bounds.zipWithIndex.foreach { case ((c, b), i) =>
      val v = if (mx.isNullAt(i)) 0L else mx.getLong(i)
      require(v < b, s"$what packed key out of range: max($c)=$v >= $b — " +
        "widen the pack shift widths for this id space")
    }
  }

  /** Per-edge TRIANGLE SUPPORT over a distinct undirected edge set
    * `(u, v)` with u < v: for every input edge, the number of triangles
    * containing it — which is exactly `|N(u) ∩ N(v)|` over the symmetric
    * adjacency. Shared by graph_truss (the peel predicate) and
    * graph_jaccard_neighbors (whose numerator IS the support).
    *
    * The pass is the compact-forward orientation (graph_triangles' trick):
    * orient every edge from its (degree, id)-smaller endpoint, build
    * out-neighbor arrays ONCE (one shuffle, arrays bounded by the ~√m
    * oriented out-degree cap), find each triangle exactly once at its base
    * oriented edge as an in-row sorted-array intersection, then explode to
    * the 3 canonical edges and partial-aggregate a COUNT per edge — rows,
    * never adjacency arrays, cross the support shuffle. Compare the naive
    * jaccard formulation that joined FULL neighbor arrays onto every edge:
    * that ships Σ_v deg² array cells; this ships 3·|triangles| rows plus
    * the orientation-capped arrays — the plan that survives hubs at 100 TB. */
  private[graft] def triangleSupport(edges: DataFrame,
      degOpt: Option[DataFrame] = None): DataFrame = {
    // deg feeds both orientation joins (and often the caller's output —
    // jaccard passes its pinned copy in); dir feeds the adjacency build
    // AND both probe sides of the triangle join; adj is probed twice.
    // Pin all three or every consumer replays the upstream shuffles —
    // unpinned, this pass re-ran the degree aggregation 4x and the
    // orientation joins 3x (measured 7.0 s vs 3.4 s at sf0.1).
    val deg = degOpt.getOrElse(graft.Caches.pin(
      edges.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("dg"))))
    val dir = graft.Caches.pin(edges
      .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t")))
    val adj = graft.Caches.pin(dir.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs")))
    // inner join on t: an oriented edge whose head has no out-edges
    // bases no triangle, so dropping it here loses nothing — the
    // final left join below restores support-0 edges.
    val tri = dir
      .join(adj.select(col("s"), col("nbrs").as("na")), Seq("s"))
      .join(adj.select(col("s").as("t"), col("nbrs").as("nb")), Seq("t"))
      .select(col("s"), col("t"),
        explode(array_intersect(col("na"), col("nb"))).as("w"))
    val triEdges = tri.select(explode(array(
        struct(col("s").as("p"), col("t").as("q")),
        struct(least(col("s"), col("w")).as("p"),
          greatest(col("s"), col("w")).as("q")),
        struct(least(col("t"), col("w")).as("p"),
          greatest(col("t"), col("w")).as("q")))).as("ed"))
      .select(least(col("ed.p"), col("ed.q")).as("u"),
        greatest(col("ed.p"), col("ed.q")).as("v"))
    edges.join(
      triEdges.groupBy("u", "v").agg(count(lit(1)).as("sup")),
      Seq("u", "v"), "left")
      .na.fill(0L, Seq("sup"))
  }

  /** `rounds` synchronous min-plus relaxation rounds from `srcId` over a
    * weighted edge frame `(a, b, w)` — the shared Bellman–Ford/BFS kernel
    * behind graph_sssp (data-derived weights), graph_diameter_sweep's two
    * unit-weight sweeps, and the 10M-node scale rehearsal's cross-check
    * against GraphX Pregel. Per round: one edge-partitioned join + one
    * partial-aggregated min, eagerly checkpointed (kcore hygiene) so the
    * plan stays flat at any round count; the previous generation's RDDs
    * are freed as the next materializes. Returns `(x, dist)` for nodes
    * reached within `rounds` hops. */
  private[graft] def relaxRounds(s: SparkSession, e: DataFrame, srcId: Long,
      rounds: Int): DataFrame = {
    var dist: DataFrame = s.range(1)
      .select(lit(srcId).as("x"), lit(0L).as("dist"))
    // FRONTIER rule: round r only relaxes out of nodes IMPROVED in round
    // r−1 — exact for synchronous min-plus (a shortest ≤r-hop path
    // improves its hop-k node at round k, which fronts it for round
    // k+1), and the 10M-node rehearsal pins the output row-for-row
    // against GraphX Pregel. The win is the message volume: on a
    // small-diameter graph the last rounds' frontiers are a sliver of
    // the reached set, so the edge join probes thousands of rows
    // instead of re-relaxing every reached node against all m edges.
    var frontier: DataFrame = dist
    // the frontier is node-sized (≤ one row per reached node ≤ arcs)
    val b = Licenses.broadcastWithin(e, Licenses.limits.broadcastArcs)
    for (_ <- 1 to rounds) {
      val msgs = e.join(b(frontier.withColumnRenamed("x", "a")), "a")
        .select(col("b").as("x"), (col("dist") + col("w")).as("dist"))
      // FUSED round state (optimization round 10): the merge aggregate
      // carries the previous distance alongside the new minimum —
      // min(dist) over the tagged union is the new distance, and
      // min(dist) over the OLD rows alone is the previous one — so ONE
      // checkpointed frame yields both the distance table and the
      // improved flag. The old shape paid a second eager checkpoint plus
      // a dist-vs-dist re-join per round for exactly this information
      // (1 materialization job + 1 join × rounds, gone). dist/frontier
      // are lazy projections over the same materialized RDD; results
      // are bit-identical (same min-union aggregate, same filter law).
      //
      // LAZY checkpoints (optimization round 11): relaxRounds reads NO
      // per-round scalar — fixed rounds, no convergence test — so the
      // eager materialization job each round paid was pure barrier. All
      // `rounds` generations are lazy LogicalRDD leaves (flat plans,
      // same hygiene) materialized together by the CALLER's terminal
      // action: one driver action for the whole pyramid instead of one
      // per round. Every generation stays pinned until the deferred
      // sweep (frames are node-sized; freeing mid-chain would kill a
      // truncated lineage before its first compute).
      val ck = graft.Caches.checkpoint(
        dist.select(col("x"), col("dist"), lit(true).as("old"))
          .unionByName(msgs.select(col("x"), col("dist"),
            lit(false).as("old")))
          .groupBy(col("x"))
          .agg(min(col("dist")).as("dist"),
            min(when(col("old"), col("dist"))).as("pd"))
          .select(col("x"), col("dist"),
            (col("pd").isNull || col("dist") < col("pd")).as("imp")),
        eager = false)
      dist = ck.select(col("x"), col("dist"))
      frontier = ck.filter(col("imp")).select(col("x"), col("dist"))
    }
    dist
  }

  /** PageRank loop body, iteration count and checkpoint policy exposed so
    * PlanQualitySpec can prove the hygiene matters: at N=10 the
    * uncheckpointed loop's logical plan re-embeds the pinned e/nodes/outdeg
    * trees every iteration (linear plan growth — and the moment anyone
    * makes the refresh reference `pr` twice it turns exponential, exactly
    * kcore round 3), while the checkpointed loop stays flat at a LogicalRDD
    * leaf regardless of N. The declared query runs iters=3 WITH checkpoints:
    * each iteration's frame is node-sized, so the eager materialization is
    * three cheap jobs, and the previous generation's RDD is freed as soon
    * as the next lands — peak storage is the pins + two node-sized frames. */
  private[graft] def pageRank(s: SparkSession, d: String, iters: Int,
      checkpointEachIter: Boolean): DataFrame = {
    val e = graft.Caches.pin(orders(s, d)
      .select(col("o_custkey").cast("long").as("src"),
        (col("o_orderkey").cast("long") + OFF).as("dst")))
    val nodes = graft.Caches.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val outdeg = graft.Caches.pin(
      e.groupBy("src").agg(count(lit(1)).as("odeg")))
    pageRankLoop(e, nodes, outdeg, iters, checkpointEachIter)
  }

  /** The iteration itself, over caller-pinned (src,dst) / (id) / (src,odeg)
    * frames — shared by the orders-graph `graph_pagerank` and the
    * BV-source `bv_pagerank` so both run the IDENTICAL loop (checkpoint
    * hygiene included) over different graph sources. */
  private[graft] def pageRankLoop(e: DataFrame, nodes: DataFrame,
      outdeg: DataFrame, iters: Int, checkpointEachIter: Boolean): DataFrame = {
    var pr = nodes.select(col("id"), lit(1.0).as("pr"))
    // pr/outdeg are node-sized ([[Licenses]]). LAZY checkpoints: the loop
    // reads no per-iteration scalar, so the whole chain materializes
    // under the caller's terminal action (generations stay pinned until
    // the deferred sweep — frames are node-sized).
    val b = Licenses.broadcastWithin(e, Licenses.limits.broadcastArcs)
    for (_ <- 1 to iters) {
      val contribs = e.join(b(pr.withColumnRenamed("id", "src")), "src")
        .join(b(outdeg), "src")
        .select(col("dst").as("id"), (col("pr") / col("odeg")).as("c"))
      val sums = contribs.groupBy("id").agg(sum(col("c")).as("csum"))
      val next = nodes.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("csum"), lit(0.0))).as("pr"))
      pr = if (checkpointEachIter) graft.Caches.checkpoint(next, eager = false)
        else next
    }
    pr.select(col("id"),
      floor(col("pr") * lit(1000000000.0)).cast("long").as("pr_e9"))
      .orderBy("id")
  }

  /** SCC via POINTER DOUBLING on a deterministic functional graph over the
    * part node set (each node has exactly one out-edge f(i) = (i²+1) mod n
    * on the dense node index — a rho-shaped graph whose SCCs are its
    * cycles plus tail singletons). Pointer doubling is the canonical
    * O(log n)-round primitive behind distributed list ranking / SCC /
    * forest compression: each round the state (p, m) = (f^(2^k)(i),
    * min f^(0..2^k-1)(i)) composes with itself via ONE self-join, so
    * K = ceil(log2 n) rounds reach every horizon ≥ n — 15 rounds cover a
    * 30k-node graph, 40 rounds a trillion-node one. Each round is eagerly
    * checkpointed (kcore hygiene: flat logical plan, previous
    * generation freed as the next lands). A node is on a cycle iff it
    * survives in the image of f^(2^K); its SCC id is the cycle's min
    * label, already carried in m. The dense index itself is built with the
    * two-phase bucketed cumsum (per-bucket counts → metadata-sized bucket
    * window → per-bucket row_number), never a global-window rank. The
    * oracle replays the SAME 16 doublings as chained materialized CTEs
    * (2^16 ≥ n at every test SF, and extra rounds past cycle coverage are
    * idempotent). */
  /** The pointer-doubling loop itself, shared with the scale rehearsal:
    * state (i, p, m) with p = f^(2^k)(i), m = min f^(0..2^k-1)(i),
    * composed with itself for ceil(log2 n) rounds, eagerly
    * checkpointed per round.
    *
    * SKEW: doubling funnels every pointer onto the (tiny) cycle set, so
    * the self-join key's distinct count collapses round over round —
    * joined naively, the final rounds hash-exchange the FULL state onto
    * a handful of partitions (measured: the last round alone cost 7 s at
    * 2M nodes, and dominates entirely at 10M). AQE cannot save this plan
    * on its own: a semi-restricted build flows into the main join with
    * its partitioning requirement already satisfied, so no query-stage
    * boundary materializes where AQE could observe the build had
    * collapsed to cycle size (verified on the executed plan — the skewed
    * exchange survives).
    *
    * Fix, exploiting that image(f^2m) ⊆ image(f^m) (the image only ever
    * shrinks): while the EXPECTED image (~2n/2^r for rho-shaped f) is
    * still large, run the plain join — keys are spread, no skew. Once it
    * crosses the broadcast threshold, count the real image ONCE per
    * round until it confirms small (robust to f that defies the decay
    * estimate — for a permutation the image never shrinks and the plain
    * join stays correct and skew-free), then switch sticky to: restrict
    * the build to the broadcast image and broadcast the restricted build
    * into the main join. From that round on the state is never
    * exchanged — each tail round is a narrow map-side hash join +
    * checkpoint. Returns the final state, a checkpoint the caller may
    * [[graft.Caches.release]] early. */
  private[graft] def pointerDoubling(st0: DataFrame, n: Long): DataFrame = {
    val k = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, n - 1))) // ceil(log2 n), so 2^K >= n
    val bcRows = Licenses.limits.imageRows
    var st = st0
    var imgSmall = false
    for (r <- 1 to k) {
      // expected image before round r is image(f^(2^(r-1))) ~ 2n/2^(r-1)
      val expectedSmall = (n >> math.min(62, r - 1)) <= bcRows / 2
      if (!imgSmall && expectedSmall)
        imgSmall = st.select(col("p")).distinct().count() <= bcRows
      val b0 = st.select(col("i").as("bi"), col("p").as("bp"),
        col("m").as("bm"))
      val nxt = if (imgSmall) {
        val img = st.select(col("p").as("bi")).distinct()
        val b = b0.join(broadcast(img), Seq("bi"), "left_semi")
        st.join(broadcast(b), col("p") === col("bi"))
          .select(col("i"), col("bp").as("p"),
            least(col("m"), col("bm")).as("m"))
      } else {
        st.join(b0, col("p") === col("bi"))
          .select(col("i"), col("bp").as("p"),
            least(col("m"), col("bm")).as("m"))
      }
      val ck = graft.Caches.checkpoint(nxt)
      if (r > 1) graft.Caches.release(st)
      st = ck
    }
    st
  }

  private[graft] def sccFunctional(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pk = lineitem(s, d)
      .select(col("l_partkey").cast("long").as("pk")).distinct()
    val bk = pk.withColumn("bkt", floor(col("pk") / 4096L).cast("long"))
    val wB = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bk.groupBy("bkt").agg(count(lit(1)).as("c"))
      .withColumn("base", coalesce(sum(col("c")).over(wB), lit(0L)))
      .select("bkt", "base")
    val wIn = Window.partitionBy("bkt").orderBy("pk")
    val idx = graft.Caches.checkpoint(
      bk.join(broadcast(bases), "bkt")
        .withColumn("i", (col("base") + row_number().over(wIn) - 1)
          .cast("long"))
        .select("pk", "i"))
    val n = idx.count() // bounded driver scalar: node count sets K
    val st0 = idx.select(col("i"),
      ((col("i") * col("i") + 1L) % lit(n)).as("p"), col("i").as("m"))
    val st = pointerDoubling(st0, n)
    val onCyc = st.select(col("p").as("i")).distinct()
      .withColumn("oc", lit(1L))
    val res = st.join(onCyc, Seq("i"), "left")
      .select(col("i"),
        coalesce(col("oc"), lit(0L)).as("on_cycle"),
        when(col("oc").isNotNull, col("m")).otherwise(col("i")).as("scc_i"))
    res.join(idx, Seq("i"))
      .join(idx.select(col("i").as("scc_i"), col("pk").as("scc_node")),
        Seq("scc_i"))
      .select(col("pk").as("node"), col("on_cycle"), col("scc_node"))
      .orderBy("node")
  }

  /** Distinct undirected co-purchase edges (u < v) over parts: group each
    * order's part set — bounded by order size (≤13 lineitems/order in
    * this testdata ⇒ ≤78 intra-order pairs; the per-group pair cost is
    * quadratic in ORDER size, never in table size) — generate the pairs
    * with array lambdas (narrow, codegen-adjacent), and dedup across
    * orders. One grouping shuffle + one distinct shuffle — no fact-table
    * self-join. */
  def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.groupBy(col("ok")).agg(array_sort(collect_set(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("u"), y.as("v")))))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .distinct()
  }

  /** Weighted co-purchase edges (u < v, weight = number of orders
    * containing the pair) — the weighted-graph input for graph_msf. Same
    * per-order set expansion as [[coPurchaseEdges]], aggregated instead
    * of deduped. */
  private[graft] def weightedCoPurchase(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.groupBy(col("ok")).agg(array_sort(collect_set(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("u"), y.as("v")))))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
  }

  /** The Borůvka loop behind graph_msf, shared with the scale rehearsal.
    * `we` must be a (u, v, pk) frame — undirected edges u < v with pk a
    * BIGINT packing of the (weight, u, v) total order (packing width is
    * the caller's knowledge of its id/weight ranges) — already
    * checkpointed. Per round: per-component argmin over incident cross
    * edges, mutual min-pairs broken to the smaller id (the only cycles,
    * by the distinct-key Borůvka argument), pointer-doubling relabel to
    * the selection-forest roots (early exit at the fixpoint —
    * result-identical to running all `doublings`). Returns the chosen
    * edges (round, pk) and the final component labels (id, comp); the
    * checkpoints backing both stay until the next [[graft.Caches.sweep]].
    */
  private[graft] def boruvkaForest(we: DataFrame, rounds: Int,
      doublings: Int): (DataFrame, DataFrame) = {
    // comp/ptr/sel are node-sized wherever they join ([[Licenses]])
    val b = Licenses.broadcastWithin(we, Licenses.limits.broadcastArcs)
    var comp = we.select(explode(array(col("u"), col("v"))).as("id"))
      .distinct().select(col("id"), col("id").as("comp"))
    var chosen = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val ec = we
        .join(b(comp.select(col("id").as("u"), col("comp").as("cu"))), "u")
        .join(b(comp.select(col("id").as("v"), col("comp").as("cv"))), "v")
        .filter(col("cu") =!= col("cv"))
      val inc = ec.select(col("cu").as("c"), col("cv").as("o"), col("pk"))
        .unionByName(ec.select(col("cv").as("c"), col("cu").as("o"), col("pk")))
      // chosen's lineage roots here until the sweep
      val sel = graft.Caches.checkpoint(inc.groupBy(col("c"))
        .agg(min_by(col("o"), col("pk")).as("p"), min(col("pk")).as("mk")))
      chosen ::= sel.select(lit(r.toLong).as("round"), col("mk").as("pk"))
        .distinct()
      val brk = sel.select(col("c"), col("p"))
        .join(b(sel.select(col("c").as("p"), col("p").as("pp"))), "p")
        .select(col("c"),
          when(col("pp") === col("c"), least(col("c"), col("p")))
            .otherwise(col("p")).as("p"))
      val isolated = comp.select(col("comp").as("c")).distinct()
        .join(b(sel.select(col("c"))), Seq("c"), "left_anti")
        .select(col("c"), col("c").as("p"))
      var ptrCk = graft.Caches.checkpoint(brk.unionByName(isolated))
      var ptr = ptrCk
      var changed = true
      var k = 0
      while (k < doublings && changed) {
        // LAZY checkpoint + one action (optimization round 11): the
        // changed test rides the materializing aggregate instead of a
        // separate limit(1).count() job — halves the per-doubling
        // barrier count, result-identical (same ≠ predicate)
        val nxt = graft.Caches.checkpoint(
          ptr.join(b(ptr.select(col("c").as("p"), col("p").as("p2"))), "p")
            .select(col("c"), col("p").as("old"), col("p2").as("p")),
          eager = false)
        val chg = nxt.agg(
          sum(when(col("p") =!= col("old"), 1L).otherwise(0L))).head()
        changed = !chg.isNullAt(0) && chg.getLong(0) > 0
        graft.Caches.release(ptrCk)
        ptrCk = nxt
        ptr = nxt.select(col("c"), col("p"))
        k += 1
      }
      val nextComp = graft.Caches.checkpoint(
        comp.join(b(ptr.select(col("c").as("comp"), col("p"))), "comp")
          .select(col("id"), col("p").as("comp")))
      graft.Caches.release(ptrCk)
      if (r > 1) graft.Caches.release(comp)
      comp = nextComp
    }
    (chosen.reduce(_ unionByName _), comp)
  }

  /** KMV ball-sketch loop shared by graph_hyperball / graph_harmonic /
    * graph_nf: per-node bottom-k (k = 16) sketches of the radius-1 and
    * radius-2 balls over the symmetrized co-purchase graph. k-min of a
    * union equals k-min of the members' k-mins, so per-round truncation is
    * LOSSLESS for the final estimates and state stays k longs per node
    * however big the ball gets. Round 1 is one PROJECTION of the edge
    * frame into (x, hash) long rows + one bounded-state aggregate (no
    * seed distinct, no join — see the inline note); round 2 is one
    * edge-partitioned join + one bounded-state aggregate, the same
    * per-round shuffle profile as pagerank (the 100 TB point; exact
    * all-node balls cost Σdeg² rows).
    * Hashes are modular (h = x·2654435761 mod (1e9+7) + 1, 0 kept free).
    * Both generations are checkpointed and freed at the next
    * Caches.sweep.
    */
  private val kmvK = 16
  private val kmvM = 1000000007L
  private def kmvBallSketches(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val kmv = udaf(new graft.functions.SketchAggs.KmvUnion(kmvK))
    val kmvL = udaf(new graft.functions.SketchAggs.KmvAddLong(kmvK))
    val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
    val sym = e.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e.select(col("v").as("x"), col("u").as("y")))
    def h(c: Column): Column = (c * lit(2654435761L)) % lit(kmvM) + lit(1L)
    // Round 1 runs on LONG messages with no seed frame at all
    // (optimization round 10): ball₁(x) = {x} ∪ N(x), and a KMV sketch
    // is a DISTINCT bottom-k, so each edge (x, y) contributes hash(y)
    // and a duplicate-absorbed hash(x) directly — a pure projection of
    // the edge frame into (x, hash) rows aggregated by [[KmvAddLong]].
    // The old shape seeded a singleton-array frame off a full
    // node-DISTINCT shuffle and published it through an edge-sized
    // equi-join; both that shuffle and that join are gone, and round-1
    // messages shuffle 8-byte longs instead of 1-element arrays.
    // Result-identical: same distinct hash set per node, same bottom-k.
    val nb1 = sym.select(col("x"), h(col("y")).as("hv"))
      .unionByName(sym.select(col("x"), h(col("x")).as("hv")))
    val st1 = graft.Caches.checkpoint(
      nb1.groupBy(col("x")).agg(kmvL(col("hv")).as("sk")))
    val st2 = {
      // st1 carries k-long arrays, so it has its own row license
      // ([[Licenses]]), counted on the materialized checkpoint. With the
      // hint the round-2 messages are produced map-side and KmvUnion
      // partial-aggregates them in the same stage. Measured at sf0.1:
      // hyperball 5.5 -> 3.3 s, harmonic 6.5 -> 3.1 s warm.
      val b = Licenses.broadcastWithin(st1, Licenses.limits.sketchRows)
      val msgs = sym.join(b(st1.withColumnRenamed("x", "y")), "y")
        .select(col("x"), col("sk"))
      graft.Caches.checkpoint(
        msgs.unionByName(st1).groupBy(col("x")).agg(kmv(col("sk")).as("sk")))
    }
    (st1, st2)
  }

  /** The KMV estimate of the sketched set's size: exact count below k,
    * else (k−1)·M DIV kth-smallest hash — BIGINT division, replayable to
    * the digit by the DuckDB oracle. */
  private def kmvEst: Column =
    when(size(col("sk")) < kmvK, size(col("sk")).cast("long"))
      .otherwise(expr(s"${(kmvK - 1) * kmvM} DIV element_at(sk, $kmvK)"))

  // -------------------------------------------------- h-index machinery
  // Shared by the oracle-gated graph_coreness (2 fixed rounds, sort form)
  // and the scale rehearsal's to-fixpoint / hub-histogram paths.

  /** One synchronous h-index round, SORT form: publish each node's h to
    * its neighbors (one edge-sized equi-join), then H-index as
    * max(least(rank, value)) over the neighbor values sorted descending —
    * tie-order-invariant (equal values get contiguous ranks; the multiset
    * of least(rank, value) terms is unchanged under any tie order). The
    * per-node sort is bounded by each node's OWN degree — the skew term
    * at crawl scale, which [[hIndexRoundHist]] removes. */
  private[graft] def hIndexRoundSort(sym: DataFrame, h: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = sym.join(h.select(col("x").as("y"), col("h").as("hv")), "y")
      .select(col("x"), col("hv"))
    val w = Window.partitionBy(col("x")).orderBy(col("hv").desc)
    nb.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("x"))
      .agg(max(least(col("rn"), col("hv"))).as("h"))
  }

  /** One synchronous h-index round, HISTOGRAM form — RESULT-IDENTICAL to
    * the sort form (equality is gated per-node at 50M in the rehearsal
    * and at sf0.001 in CorenessSpec), hub-safe. Neighbor h values are
    * capped at `hmax` = ⌊√(2m)⌋: any node's h-index is ≤ both its degree
    * and √(2m) (t neighbors with h ≥ t each have degree ≥ h ≥ t — the
    * h-sequence starts at degree and is non-increasing — so Σdeg ≥ t²),
    * and capping input values at any C ≥ the output leaves every
    * threshold test t ≤ C unchanged. After the cap, the per-(node, value)
    * count is a PARTIAL-AGGREGATED groupBy — a hub's fan-in collapses
    * map-side, and the shuffle carries ≤ hmax rows per node instead of
    * deg rows. The H-index then reads off the bounded histogram:
    * max over distinct values v of least(count(≥v), v), via one window
    * over ≤ hmax rows per node (no ties: one row per (x, value), so the
    * running frame is deterministic). A degree-10⁷ crawl hub costs 10⁷
    * map-side updates and ≤ √(2m) shuffled rows — never a 10⁷-row
    * per-key sort. */
  private[graft] def hIndexRoundHist(sym: DataFrame, h: DataFrame,
      hmax: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = sym.join(h.select(col("x").as("y"), col("h").as("hv")), "y")
      .select(col("x"), least(col("hv"), lit(hmax)).as("hvc"))
    val cnt = nb.groupBy(col("x"), col("hvc")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("x")).orderBy(col("hvc").desc)
    cnt.withColumn("cum", sum(col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("x"))
      .agg(max(least(col("cum"), col("hvc"))).as("h"))
  }

  /** Auto-selecting round: the histogram form wins once hub degree makes
    * the per-key sort the skew term — past 2·hmax a hub's sorted list is
    * strictly longer than the whole bounded histogram, with margin for
    * the histogram's extra hash-agg constant below that. */
  private[graft] def hIndexRound(sym: DataFrame, h: DataFrame,
      hmax: Long, maxDeg: Long): DataFrame =
    if (maxDeg > 2 * hmax) hIndexRoundHist(sym, h, hmax)
    else hIndexRoundSort(sym, h)

  // ------------------------------------------ single-task kernel scaffold
  // Shared by corenessExactSmall and louvainLadderKernel. Rows are
  // gathered into growable primitive columns, ids are remapped to dense
  // ints IN ID ORDER (sort, dedupe, binary search), and per-node state
  // lives in primitive arrays indexed by dense id — no boxing anywhere.
  // Because the remap preserves order, "ties go to the smaller neighbour
  // id" compares dense ints and still picks the same node.

  /** Growable primitive long column; `data` holds `size` live values. */
  private[graft] final class LongCol {
    var data = new Array[Long](1 << 16)
    var size = 0
    def add(v: Long): Unit = {
      if (size == data.length) data = java.util.Arrays.copyOf(data, size * 2)
      data(size) = v; size += 1
    }
  }

  /** The distinct values among the first `n` of `a`, ascending. */
  private[graft] def sortedUnique(a: Array[Long], n: Int): Array[Long] = {
    val s = java.util.Arrays.copyOf(a, n)
    java.util.Arrays.sort(s)
    var k = 0; var i = 0
    while (i < n) { if (k == 0 || s(i) != s(k - 1)) { s(k) = s(i); k += 1 }; i += 1 }
    if (k == n) s else java.util.Arrays.copyOf(s, k)
  }

  /** The dense id space of `cols`: `ids` holds their distinct values
    * ascending, and `apply(c)` maps each value of a column to its index
    * in `ids` by a binary search narrowed to one bucket of a table over
    * the top bits of `id - ids(0)` (about one id per bucket; offsets are
    * unsigned, so any id range fits). */
  private[graft] final class DenseIds(cols: LongCol*) {
    val ids: Array[Long] = cols.map(c => sortedUnique(c.data, c.size)) match {
      case Seq(one) => one
      case many => val all = Array.concat(many: _*); sortedUnique(all, all.length)
    }
    def n: Int = ids.length
    private val lo = if (n == 0) 0L else ids(0)
    private val shift = { var sh = 0; while (n > 0 && ((ids(n - 1) - lo) >>> sh) >= n) sh += 1; sh }
    private val first = { // first(b): index of the first id in bucket ≥ b
      val f = new Array[Int](if (n == 0) 1 else ((ids(n - 1) - lo) >>> shift).toInt + 2)
      var j = 0; var b = 0
      while (b < f.length) {
        while (j < n && ((ids(j) - lo) >>> shift) < b) j += 1
        f(b) = j; b += 1
      }
      f
    }
    def apply(c: LongCol): Array[Int] = {
      val out = new Array[Int](c.size)
      var i = 0
      while (i < c.size) {
        val b = ((c.data(i) - lo) >>> shift).toInt
        out(i) = java.util.Arrays.binarySearch(ids, first(b), first(b + 1), c.data(i))
        i += 1
      }
      out
    }
  }

  /** EXACT core numbers via the Batagelj–Zaversnik O(n+m) bucket peel,
    * run as ONE narrow task on an executor (coalesce(1) over the
    * already-materialized edge checkpoint — no driver collect, no
    * shuffle, no barrier). Result-identical to [[corenessFixpoint]]
    * (the h-index fixpoint IS the core number — Lü et al. 2016 — and
    * CorenessLouvainSpec gates kernel == fixpoint == driver-side peel
    * node-for-node at sf0.001). This is the scale-ADAPTIVE half of the
    * coreness operator: a 1.4M-arc subproblem (sf0.1) has no business
    * paying 38 synchronized rounds of a distributed fixpoint — at crawl
    * scale `Licenses.limits.kernelArcs` keeps the semi-naive loop. `sym`
    * must carry both directions of every edge. */
  private[graft] def corenessExactSmall(s: SparkSession,
      sym: DataFrame): DataFrame = {
    import s.implicits._
    sym.select(col("x").cast("long"), col("y").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // the long columns die with load's frame; only ints stay live
        def load(): (Array[Long], Array[Int], Array[Int]) = {
          val xs = new LongCol; val ys = new LongCol
          while (it.hasNext) { val (a, b) = it.next(); xs.add(a); ys.add(b) }
          val d = new DenseIds(xs, ys)
          (d.ids, d(xs), d(ys))
        }
        val (ids, ax, ay) = load()
        val n = ids.length
        val m = ax.length // both directions present => degree = arc count
        // CSR over the x side
        val deg = new Array[Int](n)
        var i = 0
        while (i < m) { deg(ax(i)) += 1; i += 1 }
        val start = new Array[Int](n + 1)
        i = 0; while (i < n) { start(i + 1) = start(i) + deg(i); i += 1 }
        val fill = java.util.Arrays.copyOf(start, n)
        val adj = new Array[Int](m)
        i = 0; while (i < m) { adj(fill(ax(i))) = ay(i); fill(ax(i)) += 1; i += 1 }
        // Batagelj–Zaversnik: counting-sort nodes by degree, peel in
        // order, demoting touched neighbors one bucket at a time
        var maxDeg = 0
        i = 0; while (i < n) { if (deg(i) > maxDeg) maxDeg = deg(i); i += 1 }
        val bin = new Array[Int](maxDeg + 2)
        i = 0; while (i < n) { bin(deg(i) + 1) += 1; i += 1 }
        i = 1; while (i <= maxDeg + 1) { bin(i) += bin(i - 1); i += 1 }
        val pos = new Array[Int](n); val vert = new Array[Int](n)
        val binStart = java.util.Arrays.copyOf(bin, bin.length)
        i = 0
        while (i < n) {
          pos(i) = binStart(deg(i)); vert(pos(i)) = i
          binStart(deg(i)) += 1; i += 1
        }
        val d = deg // current degrees, peeled in place
        i = 0
        while (i < n) {
          val v = vert(i)
          var j = start(v)
          val end = start(v + 1)
          while (j < end) {
            val u = adj(j)
            if (d(u) > d(v)) {
              // swap u with the first vertex of its bucket, shrink it
              val du = d(u); val pu = pos(u)
              val pw = bin(du); val w = vert(pw)
              if (u != w) {
                pos(u) = pw; vert(pw) = u
                pos(w) = pu; vert(pu) = w
              }
              bin(du) += 1
              d(u) = du - 1
            }
            j += 1
          }
          i += 1
        }
        // d(v) at peel time IS the core number
        Iterator.tabulate(n)(v => (ids(v), d(v).toLong))
      }
      .toDF("x", "h")
  }

  /** Run the h-index iteration to its FIXPOINT (= the exact core number
    * of every node — Lü et al. 2016), SEMI-NAIVE (delta) form: a node's
    * H-index can change in round i+1 only if some neighbor's h changed
    * in round i, so each round recomputes ONLY the frontier (neighbors
    * of last round's changed nodes) and everyone else keeps their h.
    * Result-identical to full synchronous rounds (gated against the
    * exact driver-side peel at sf0.001 in CorenessLouvainSpec) but the
    * convergence TAIL — the 2M smoke ran 35 rounds with most touching a
    * few thousand nodes — collapses from 35 full edge passes to a
    * handful: exactly the fix that makes to-fixpoint viable at 50M/crawl
    * scale, where a long tail of full-graph rounds would dominate
    * everything. Per round: one edge join against the changed set
    * (frontier), one edge join restricted to the frontier (the H-index
    * recompute via [[hIndexRound]] — sort or histogram, auto-selected),
    * one node-sized merge. h^{i+1} ≤ h^i node-wise, so "zero changed" =
    * converged; monotonicity is asserted per round when asked (the
    * rehearsal's convergence invariant — a violation means the round
    * operator is wrong, so it fails loudly rather than recording drift).
    * `sym` must be the symmetrized (x, y) edge frame, already
    * checkpointed by the caller. Returns (h frame, its RDD ids — caller
    * frees after its terminal action, rounds run, converged).
    *
    * SHUFFLE REGIME — the fix for the 90 s sf0.1 bench reading: the
    * convergence tail runs dozens of rounds whose frontiers hold a few
    * DOZEN nodes, yet each round was paying ~1.4 s because every
    * frontier join shuffled the full edge frame — AQE converts a
    * small-side join to broadcast only AFTER both children's shuffle
    * writes ran, so the edge-sized write happened every round
    * regardless. The exact changed-node count from the previous round's
    * convergence aggregate (free — the same 1-row action) now drives
    * EXPLICIT broadcast hints: once the frontier is provably small, the
    * changed set, the frontier, and the recomputed H-index rows join as
    * broadcast build sides and every edge/node-sized frame is SCANNED
    * map-side instead of shuffled. The frontier's size is licensed by
    * EXACT degree sums carried in the iterate frame (dg = deg(x), s2 =
    * Σ_{y~x} deg(y); Σ over the changed set bounds |frontier| and the
    * 2-hop frontier with multiplicity) — zero extra jobs, the sums ride
    * the same convergence action — so a crawl-scale round (changed ≈ all
    * nodes, frontiers of 10⁹) exceeds the thresholds and keeps today's
    * shuffled plans: the hints engage exactly when the data fits one
    * executor's hash table, the regime broadcasting is FOR. Measured at
    * sf0.1 the explicit hints took the query 108 s → 37 s (tail rounds
    * 1.4 s → 0.8 s) with identical per-round changed counts and the same
    * 38-round convergence.
    *
    * ROUND FUSION (optimization round 10): the tail is BARRIER-bound —
    * dozens of rounds whose per-round data is a few thousand rows but
    * whose driver action + query-stage floor costs ~0.5-0.8 s each — so
    * when the 2-HOP frontier is also provably broadcastable (Σ s2 over
    * the changed set, or the node count, ≤ the license), TWO semi-naive
    * sub-rounds run per barrier: sub-round 2 recomputes N(frontier₁) ⊇
    * N(changed₁), a superset of the exact semi-naive frontier, so the
    * result is identical node-for-node (the per-k histogram gate and the
    * sort-form equality gate in CorenessLouvainSpec/the rehearsal pin
    * it); convergence = "sub-round 2 changed nothing". With every build
    * side broadcast, sub-round 1's H-index (its only expensive subtree)
    * is computed ONCE and reused via its broadcast exchange. Halves the
    * tail's barrier count; measured at sf0.1 the fixpoint went 43.5 s →
    * (see OPTIMIZATION_r10.md) with the same final histogram. */
  private[graft] def corenessFixpoint(sym: DataFrame, hmax: Long,
      maxDeg: Long, maxRounds: Int = 100, checkMonotone: Boolean = false): (DataFrame, Int, Boolean) = {
    val bcastIds = Licenses.limits.frontierRows
    // the h frame permanently carries two static per-node columns beside
    // the iterate: dg = degree and s2 = Σ_{y~x} deg(y). They make the
    // broadcast licenses EXACT sums instead of the loose changed·maxDeg
    // product (Σ_{x∈changed} dg(x) ≥ |N(changed)| and Σ_{x∈changed} s2(x)
    // ≥ |N(N(changed))|, both with multiplicity) at zero extra jobs per
    // round — each round's convergence aggregate reads them off the same
    // action. s2 costs one extra edge-sized join at init, once.
    val deg0 = sym.groupBy(col("x")).agg(count(lit(1)).as("h"))
    var hCk = graft.Caches.checkpoint(
      deg0.join(
        sym.join(deg0.select(col("x").as("y"), col("h").as("dgy")), "y")
          .groupBy(col("x")).agg(sum(col("dgy")).as("s2")), Seq("x"))
        .select(col("x"), col("h"), col("h").as("dg"), col("s2")))
    var h = hCk
    // round 1's frontier is every node; `changed` always rides the
    // current h checkpoint, so freeing the previous generation after the
    // new one lands releases both
    var changed = h.select(col("x"))
    var changedCnt = h.count() // node-sized count on the fresh checkpoint
    val nNodes = changedCnt // every frontier is ≤ the node set
    var b1 = Long.MaxValue // Σ dg over changed (≥ |frontier|); exact from round 2
    var b2 = Long.MaxValue // Σ s2 over changed (≥ |2-hop frontier|)
    var rounds = 0
    var converged = false
    // one semi-naive sub-round built LAZILY over the current iterate:
    // frontier = N(changedDf), recompute H-index on the frontier only,
    // merge into hdf with per-node changed/violated flags (suffix-tagged
    // so two fused sub-rounds can coexist in one plan). `keep` carries
    // the earlier sub-round's flag columns through the merge.
    def subRound(hdf: DataFrame, changedDf: DataFrame, cB: Boolean,
        fB: Boolean, tag: String, keep: Seq[String]): DataFrame = {
      val chs = changedDf.select(col("x").as("y"))
      val b = Licenses.broadcastIf(fB)
      val frontier = sym.join(Licenses.broadcastIf(cB)(chs), "y")
        .select(col("x")).distinct()
      val sub = sym.join(b(frontier), "x")
      val nhSub = hIndexRound(sub, hdf, hmax, maxDeg)
        .withColumnRenamed("h", "hn")
      hdf.join(b(nhSub), Seq("x"), "left")
        .select(Seq(col("x"), coalesce(col("hn"), col("h")).as("h"),
          col("dg"), col("s2")) ++ keep.map(col) ++ Seq(
          (col("hn").isNotNull && col("hn") =!= col("h")).as("chg" + tag),
          (col("hn") > col("h")).as("viol" + tag)): _*)
    }
    while (!converged && rounds < maxRounds) {
      val cB = changedCnt <= bcastIds
      val f1B = math.min(nNodes, b1) <= bcastIds
      // FUSE two sub-rounds into one barrier when the 2-hop frontier is
      // provably broadcastable: sub-round 2 recomputes N(frontier₁) ⊇
      // N(changed₁) (changed₁ ⊆ frontier₁, so the semi-naive exactness
      // argument carries), and with every build side broadcast the
      // sub-round-1 result is evaluated once (its expensive part is the
      // REUSED nhSub₁ broadcast; the cheap node-sized merge is the only
      // recomputed subtree). Unlicensed (crawl-scale early) rounds keep
      // one sub-round per barrier with shuffled plans — fusing THERE
      // would recompute a full unshared H-index round twice.
      val fuse = cB && f1B && math.min(nNodes, b2) <= bcastIds &&
        rounds + 1 < maxRounds
      val m1 = subRound(h, changed, cB, f1B, "1", Nil)
      val (m, lastChg) = if (fuse) {
        val m2 = subRound(m1, m1.filter(col("chg1")), cB = true, fB = true,
          "2", Seq("chg1", "viol1"))
        (m2, "chg2")
      } else (m1, "chg1")
      val nh = graft.Caches.checkpoint(m, eager = false)
      // ONE action: materializes the lazy checkpoint and reads every
      // counter and the next round's licenses off it
      val st = nh.agg(
        sum(when(col(lastChg), 1L).otherwise(0L)),
        sum(when(col("viol1") ||
          (if (fuse) col("viol2") else lit(false)), 1L).otherwise(0L)),
        sum(when(col(lastChg), col("dg")).otherwise(0L)),
        sum(when(col(lastChg), col("s2")).otherwise(0L))).head()
      rounds += (if (fuse) 2 else 1)
      if (checkMonotone) require(st.getLong(1) == 0L,
        s"corenessFixpoint: h INCREASED on ${st.getLong(1)} nodes by round " +
          s"$rounds — the h-sequence must be non-increasing")
      graft.Caches.release(hCk)
      hCk = nh
      h = nh.select(col("x"), col("h"), col("dg"), col("s2"))
      changed = nh.filter(col(lastChg)).select(col("x"))
      changedCnt = st.getLong(0)
      b1 = st.getLong(2)
      b2 = st.getLong(3)
      if (changedCnt == 0L) converged = true
    }
    (h.select(col("x"), col("h")), rounds, converged)
  }

  // -------------------------------------------------- louvain machinery
  // Shared by the rehearsal's coarsened second sweep. graph_louvain (the
  // oracle-gated query) keeps its own two-join shape — this generalizes
  // the same exact-integer sweep to graphs WITH self-loops, which is what
  // coarsening produces (a community's internal weight becomes its
  // super-node's self-loop).

  /** One synchronous Louvain sweep from singleton communities over an
    * undirected weighted graph (u ≤ v, w; self-loops allowed — a
    * self-loop of weight w adds 2w to its node's strength, the standard
    * A_uu = 2w convention). The modularity-gain argmax is the same
    * exact-integer cross-multiplication as graph_louvain
    * (2m·w(u,v) − deg_w(u)·deg_w(v), move iff > 0, ties to the smaller
    * id), with the same loud BIGINT overflow guards. Super-nodes whose
    * only incident weight is their self-loop have no neighbor candidates
    * and keep their own label (the left join). Returns the (x, comm)
    * labels, a checkpoint.
    *
    * CAVEAT — synchronous moves are a HEURISTIC, not monotone: each
    * node's gain assumes every OTHER node stays put, so simultaneous
    * moves can strictly DECREASE modularity on adversarial tie
    * patterns. Smallest counterexample: the w=1 path 1–2–3. All three
    * scores are 2 > 0; node 2 tie-breaks to 1; the simultaneous result
    * is the partition {2},{1,3} with Q·(2m)² = −8, below the
    * singletons' −6. Sequential Louvain never hits this (each move
    * re-reads the current labels), but a synchronous distributed sweep
    * can. Callers that need guaranteed non-decreasing modularity use
    * [[louvainSweepMonotone]], which makes monotonicity true BY
    * CONSTRUCTION (keep the moved labels only when their exact-integer
    * Q is at least the input labeling's, else keep singletons). */
  private[graft] def louvainSweep(we0: DataFrame): DataFrame =
    louvainSweepStats(we0)._1

  /** ⌊√(2⁶³−1)⌋: the largest value whose square is a BIGINT. */
  private val maxSquarable = 3037000499L

  /** The exact-integer sweep's loud overflow guards (the requirePackedIds
    * discipline for the cross-multiplied gain): 2m·w and d_u·d_v must
    * stay inside BIGINT at ANY scale — a silent wrap would flip argmaxes
    * quietly (wrong communities, right cardinality). At crawl scale
    * rescale weights (divide by a common factor) before the sweep. */
  private def requireSweepBounds(what: String, m2: Long, maxW: Long,
      maxDeg: Long): Unit = {
    require(maxW == 0 || m2 <= Long.MaxValue / math.max(1L, maxW),
      s"$what: 2m*w overflows BIGINT (2m=$m2, max w=$maxW) — " +
        "rescale edge weights before the sweep")
    require(maxDeg <= maxSquarable,
      s"$what: deg*deg overflows BIGINT (max weighted degree $maxDeg) — " +
        "rescale edge weights before the sweep")
  }

  /** [[modularityScaled]]'s bound: m2·aIn and dc·dc need 2m ≤ ⌊√(2⁶³−1)⌋. */
  private def requirePricingBound(m2: Long): Unit =
    require(m2 <= maxSquarable,
      s"modularityScaled: 2m = $m2 overflows BIGINT in m2*aIn / dc*dc — " +
        "rescale weights or sample the graph before pricing modularity")

  /** The sweep plus its fused one-action statistics, shared by
    * [[louvainSweep]] and [[louvainSweepMonotone]]. The degree checkpoint
    * carries three extra per-node columns (max non-loop incident weight,
    * self-loop strength) so ONE node-sized aggregate yields every scalar
    * the guarded sweep needs: 2m, the max strength, the max edge weight
    * (previously its own edge-sized pass + barrier), and the SINGLETON
    * pricing terms — for singleton labels A_in = 2·Σ_loops w (only
    * self-loops are intra-community) and Σ_c d_c² = Σ_x strength(x)², so
    * Q₀·(2m)² = m2·ΣA_loops − Σ strength² falls out of the same action
    * with no labeled edge join at all. That replaces
    * modularityScaled(we, singles)'s two edge-sized joins + strength
    * pass + two barriers AND the separate maxW pass: per guarded sweep,
    * 4 fewer barriers and 3 fewer edge passes, result-identical (exact
    * integers; equality with the labeled pricing is pinned by
    * CorenessLouvainSpec's ladder invariants).
    *
    * Returns (moved labels, 2m, Q₀·(2m)²). The Q₀ slot is
    * meaningful only under the m2 ≤ ⌊√(2⁶³−1)⌋ bound the PRICING path
    * guards ([[modularityScaled]]'s require) — the raw-sweep caller
    * discards it, and the monotone caller prices the moved labels first,
    * which fails loudly on the same bound before Q₀ is ever compared. */
  private def louvainSweepStats(we0: DataFrame): (DataFrame, Long, Long) = {
    val loops = we0.filter(col("u") === col("v"))
      .select(col("u").as("x"), (col("w") * 2).as("w"),
        lit(null).cast("long").as("ew"))
    val we = we0.filter(col("u") =!= col("v"))
    val sym = we.select(col("u").as("x"), col("v").as("y"), col("w"))
      .unionByName(we.select(col("v").as("x"), col("u").as("y"), col("w")))
    val deg = graft.Caches.checkpoint(
      sym.select(col("x"), col("w"), col("w").as("ew")).unionByName(loops)
        .groupBy(col("x")).agg(sum(col("w")).as("dw"),
          max(col("ew")).as("mw"),
          sum(when(col("ew").isNull, col("w"))).as("lw")))
    // every sweep scalar off ONE node-sized pass over the fresh deg
    // checkpoint: 2m, max strength, max non-loop weight, ΣA_loops, Σdw²
    val dst = deg.agg(coalesce(sum(col("dw")), lit(0L)).cast("long"),
      coalesce(max(col("dw")), lit(0L)).cast("long"),
      coalesce(max(col("mw")), lit(0L)).cast("long"),
      coalesce(sum(col("lw")), lit(0L)).cast("long"),
      coalesce(sum(col("dw") * col("dw")), lit(0L)).cast("long")).head()
    val (m2, maxDeg, maxW) = (dst.getLong(0), dst.getLong(1), dst.getLong(2))
    val q0 = m2 * dst.getLong(3) - dst.getLong(4)
    requireSweepBounds("louvainSweep", m2, maxW, maxDeg)
    val sc = sym
      .join(deg.select(col("x"), col("dw").as("du")), "x")
      .join(deg.select(col("x").as("y"), col("dw").as("dv")), "y")
      .withColumn("score", lit(m2) * col("w") - col("du") * col("dv"))
    val lbl = sc.groupBy(col("x")).agg(
      max_by(col("y"), struct(col("score"), -col("y"))).as("best"),
      max(col("score")).as("bs"))
    val moved = graft.Caches.checkpoint(
      deg.select(col("x")).join(lbl, Seq("x"), "left")
        .select(col("x"),
          when(col("bs") > 0, col("best")).otherwise(col("x")).as("comm")))
    graft.Caches.release(deg)
    (moved, m2, q0)
  }

  /** [[louvainSweep]] with monotonicity GUARANTEED by construction:
    * run the synchronous sweep, price both labelings with the
    * exact-integer [[modularityScaled]], and keep the moved labels only
    * when Q(moved) ≥ Q(singletons) — otherwise return the singletons.
    * max(q0, q1) ≥ q0 is a theorem, so "modularity non-decreasing per
    * ladder level" holds for EVERY input graph, including the
    * adversarial tie patterns where the raw synchronous sweep regresses
    * (see louvainSweep's path counterexample). Cost over the raw sweep:
    * two extra bounded passes (each modularityScaled call is two
    * edge-sized joins + node-sized aggregations ending in 1-row driver
    * scalars). On real community-structured data the guard is a no-op —
    * the sweep improves Q and the moved labels pass through.
    * Returns (labels, Q·(2m)² before, after, 2m, community count). */
  private[graft] def louvainSweepMonotone(
      we: DataFrame): (DataFrame, Long, Long, Long, Long) = {
    val (lbl, m2, q0) = louvainSweepStats(we)
    val (q1, m2b, nComm) = modularityScaledN(we, lbl)
    require(m2b == m2,
      s"louvainSweepMonotone: total strength moved under relabeling " +
        s"($m2b != $m2) — modularityScaled is broken")
    if (q1 >= q0) (lbl, q0, q1, m2, nComm)
    else {
      graft.Caches.release(lbl)
      val singles = we.select(col("u").as("x"))
        .unionByName(we.select(col("v").as("x"))).distinct()
        .select(col("x"), col("x").as("comm"))
      val sl = graft.Caches.checkpoint(singles)
      (sl, q0, q0, m2, sl.count())
    }
  }

  /** Weighted edges over dense node ids `0 until n` (self-loops allowed). */
  private final case class DenseGraph(n: Int, u: Array[Int], v: Array[Int],
      w: Array[Long])

  /** Single-task twin of the WHOLE declared louvain ladder (guarded
    * sweep → coarsen → guarded sweep → composed pricing), exact-integer
    * arithmetic identical to [[louvainSweepMonotone]] /
    * [[modularityScaledN]] / [[coarsen]] step for step: same strengths
    * (self-loop A_uu = 2w), same argmax (max score, ties to the smaller
    * neighbor id, move iff score > 0), same monotone guard (keep moved
    * labels only when Q(moved) ≥ Q(singletons)), same overflow guards.
    * Run as ONE narrow task under `Licenses.limits.kernelArcs`, like
    * [[corenessExactSmall]] — the ladder is ~16 driver actions over a
    * sub-million-row graph at bench SF, all barrier/planning floor; at
    * crawl scale the license fails and the distributed ladder (also
    * exercised at 50M in the rehearsal) runs unchanged. Labels are dense
    * node ids; coarsening keys each super-edge by the packed
    * `(min << 32) | max` of its dense community ids. Equality with the
    * DataFrame ladder is pinned by LicenseBoundarySpec and by the query's
    * oracle, which replays both sweeps in DuckDB from scratch. */
  private[graft] def louvainLadderKernel(s: SparkSession,
      we: DataFrame): DataFrame = {
    import s.implicits._
    we.select(col("u").cast("long"), col("v").cast("long"),
        col("w").cast("long"))
      .as[(Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        def load(): DenseGraph = {
          val us = new LongCol; val vs = new LongCol; val ws = new LongCol
          while (it.hasNext) { val (a, b, w) = it.next(); us.add(a); vs.add(b); ws.add(w) }
          val d = new DenseIds(us, vs)
          DenseGraph(d.n, d(us), d(vs), java.util.Arrays.copyOf(ws.data, ws.size))
        }
        // strengths dw(x) with A_uu = 2w; also max non-loop w and Σ loop 2w
        def strengths(g: DenseGraph): (Array[Long], Long, Long) = {
          val dw = new Array[Long](g.n)
          var maxW = 0L; var sumLw = 0L
          var i = 0
          while (i < g.u.length) {
            val u = g.u(i); val v = g.v(i); val w = g.w(i)
            if (u == v) { dw(u) += 2 * w; sumLw += 2 * w }
            else { dw(u) += w; dw(v) += w; if (w > maxW) maxW = w }
            i += 1
          }
          (dw, maxW, sumLw)
        }
        // exact-integer Q·(2m)² pricing + community count
        def price(g: DenseGraph, lbl: Array[Int]): (Long, Long, Long) = {
          var m2 = 0L; var aIn = 0L
          var i = 0
          while (i < g.u.length) {
            m2 += 2 * g.w(i)
            if (lbl(g.u(i)) == lbl(g.v(i))) aIn += 2 * g.w(i)
            i += 1
          }
          requirePricingBound(m2)
          val dw = strengths(g)._1
          val dc = new Array[Long](g.n)
          val seen = new Array[Boolean](g.n)
          var nComm = 0L
          var x = 0
          while (x < g.n) {
            val c = lbl(x)
            dc(c) += dw(x)
            if (!seen(c)) { seen(c) = true; nComm += 1 }
            x += 1
          }
          var sumDc2 = 0L
          x = 0; while (x < g.n) { sumDc2 += dc(x) * dc(x); x += 1 }
          (m2 * aIn - sumDc2, m2, nComm)
        }
        // one guarded sweep; returns (labels, q0, q1, m2, nComm)
        def sweepMonotone(g: DenseGraph): (Array[Int], Long, Long, Long, Long) = {
          val (dw, maxW, sumLw) = strengths(g)
          var m2 = 0L; var maxDeg = 0L; var sumDw2 = 0L
          var x = 0
          while (x < g.n) {
            val d = dw(x); m2 += d; sumDw2 += d * d
            if (d > maxDeg) maxDeg = d
            x += 1
          }
          val q0 = m2 * sumLw - sumDw2
          requireSweepBounds("louvainSweep", m2, maxW, maxDeg)
          // argmax over non-loop incident edges, both directions
          val bestScore = new Array[Long](g.n)
          java.util.Arrays.fill(bestScore, Long.MinValue)
          val bestY = new Array[Int](g.n)
          def cand(x: Int, y: Int, w: Long): Unit = {
            val sc = m2 * w - dw(x) * dw(y)
            if (sc > bestScore(x) || (sc == bestScore(x) && y < bestY(x))) {
              bestScore(x) = sc; bestY(x) = y
            }
          }
          var i = 0
          while (i < g.u.length) {
            val u = g.u(i); val v = g.v(i)
            if (u != v) { cand(u, v, g.w(i)); cand(v, u, g.w(i)) }
            i += 1
          }
          val moved = Array.range(0, g.n)
          x = 0
          while (x < g.n) { if (bestScore(x) > 0) moved(x) = bestY(x); x += 1 }
          val (q1, m2b, nComm) = price(g, moved)
          require(m2b == m2,
            s"louvainSweepMonotone: total strength moved under relabeling " +
              s"($m2b != $m2) — modularityScaled is broken")
          if (q1 >= q0) (moved, q0, q1, m2, nComm)
          else (Array.range(0, g.n), q0, q0, m2, g.n.toLong)
        }
        // contract to the community super-graph: Σw per packed
        // (min << 32) | max community pair, super-nodes remapped in id order
        def coarsen(g: DenseGraph, lbl: Array[Int]): (DenseGraph, Array[Int]) = {
          val keys = new LongCol
          var i = 0
          while (i < g.u.length) {
            val a = lbl(g.u(i)); val b = lbl(g.v(i))
            keys.add((math.min(a, b).toLong << 32) | math.max(a, b))
            i += 1
          }
          val dk = new DenseIds(keys)
          val ki = dk(keys)
          val cw = new Array[Long](dk.n)
          i = 0; while (i < ki.length) { cw(ki(i)) += g.w(i); i += 1 }
          val isComm = new Array[Boolean](g.n)
          var x = 0
          while (x < g.n) { isComm(lbl(x)) = true; x += 1 }
          val cIdx = new Array[Int](g.n) // community -> super-node id
          var nc = 0
          x = 0
          while (x < g.n) { if (isComm(x)) { cIdx(x) = nc; nc += 1 }; x += 1 }
          val cu = new Array[Int](dk.n); val cv = new Array[Int](dk.n)
          i = 0
          while (i < dk.n) {
            cu(i) = cIdx((dk.ids(i) >>> 32).toInt); cv(i) = cIdx(dk.ids(i).toInt)
            i += 1
          }
          (DenseGraph(nc, cu, cv, cw), cIdx)
        }
        val g = load()
        val nWe = g.u.length.toLong
        val (lbl1, q0, q1, m2, nComm1) = sweepMonotone(g)
        val (cg, cIdx) = coarsen(g, lbl1)
        val (lbl2, qc, q2, m2c, nComm2) = sweepMonotone(cg)
        val composed = new Array[Int](g.n)
        var x = 0
        while (x < g.n) { composed(x) = lbl2(cIdx(lbl1(x))); x += 1 }
        val (qComposed, m2comp, nComm4) = price(g, composed)
        Iterator(
          (0L, q0, m2, g.n.toLong, nWe),
          (1L, q1, m2, nComm1, nWe),
          (2L, qc, m2c, cg.n.toLong, cg.u.length.toLong),
          (3L, q2, m2c, nComm2, cg.u.length.toLong),
          (4L, qComposed, m2comp, nComm4, nWe))
      }
      .toDF("level", "q_scaled", "m2", "n_comm", "n_edges")
      .orderBy("level")
  }

  /** Contract a labeled graph to its community super-graph: each edge
    * maps onto its endpoints' communities (internal weight becomes the
    * super-node's self-loop), summed per super-edge — total weight and
    * every node strength are PRESERVED, which is what makes the
    * modularity ladder below an exact cross-level invariant. Two
    * node-sized equi-joins + one edge-sized partial-agg groupBy; each
    * later sweep runs the identical plan over a strictly smaller graph
    * (graph_louvain's scaladoc promise, made runnable). */
  private[graft] def coarsen(we: DataFrame, labels: DataFrame): DataFrame =
    we.join(labels.select(col("x").as("u"), col("comm").as("cu")), "u")
      .join(labels.select(col("x").as("v"), col("comm").as("cv")), "v")
      .select(least(col("cu"), col("cv")).as("u"),
        greatest(col("cu"), col("cv")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))

  /** Modularity as an EXACT INTEGER, scaled by (2m)²:
    * Q·(2m)² = 2m·ΣA_in − Σ_c (Σ_x∈c strength(x))², with ΣA_in = 2·(total
    * weight of within-community edges, self-loops included). Integer end
    * to end, so "non-decreasing across sweeps" and "invariant under
    * coarsening" are equality checks, not float tolerances. Bounded:
    * both terms are ≤ (2m)², inside BIGINT only while 2m ≤ ⌊√(2⁶³−1)⌋ ≈
    * 3.04·10⁹ — guarded LOUDLY below, because the louvainSweep guards
    * bound 2m·maxW and maxDeg², NOT 2m itself: a w=1 graph with more
    * than ~1.5·10⁹ edges passes both sweep guards yet would silently
    * wrap m2·aIn and dc·dc here, corrupting the exact-integer invariant
    * verdicts. Returns (qScaled, 2m). */
  private[graft] def modularityScaled(we: DataFrame,
      labels: DataFrame): (Long, Long) = {
    val (q, m2, _) = modularityScaledN(we, labels)
    (q, m2)
  }

  /** [[modularityScaled]] plus the community count, folded into the
    * Σd_c² action's final aggregate — the count was previously its own
    * `labels.select(comm).distinct().count()` barrier per ladder level
    * (every node has a strength row and every community a member, so the
    * per-community group count IS the distinct-community count). */
  private[graft] def modularityScaledN(we: DataFrame,
      labels: DataFrame): (Long, Long, Long) = {
    val withC = we
      .join(labels.select(col("x").as("u"), col("comm").as("cu")), "u")
      .join(labels.select(col("x").as("v"), col("comm").as("cv")), "v")
    // every edge contributes 2w to total strength: w to each endpoint
    // when u != v, 2w to its one endpoint when u == v (A_uu = 2w).
    // m2 and aIn read off ONE pass over the labeled edges (labels cover
    // every node, so the inner joins keep all edges) — the ladder runs
    // this pricing five times, and each fused action is one fewer
    // synchronization barrier at 50M
    val ma = withC.agg(
      coalesce(sum(col("w") * 2), lit(0L)).cast("long"),
      coalesce(sum(when(col("cu") === col("cv"), col("w") * 2)), lit(0L))
        .cast("long")).head()
    val (m2, aIn) = (ma.getLong(0), ma.getLong(1))
    requirePricingBound(m2)
    // strength per community: symmetrize + self-loop 2w, then sum per comm
    val strength = we.select(col("u").as("x"),
        when(col("u") === col("v"), col("w") * 2).otherwise(col("w")).as("s"))
      .unionByName(we.filter(col("u") =!= col("v"))
        .select(col("v").as("x"), col("w").as("s")))
      .groupBy(col("x")).agg(sum(col("s")).as("dw"))
    val dc2 = strength.join(labels, "x")
      .groupBy(col("comm")).agg(sum(col("dw")).as("dc"))
      .agg(coalesce(sum(col("dc") * col("dc")), lit(0L)).cast("long"),
        count(lit(1)))
      .head()
    (m2 * aIn - dc2.getLong(0), m2, dc2.getLong(1))
  }

  val queries: Map[String, Q] = Map(
    // -- minimum spanning forest via BORŮVKA (2 synchronous rounds — the
    //    weighted-graph companion to graph_scc's pointer doubling): each
    //    round every component selects its minimum incident cross edge
    //    under the TOTAL order (w, u, v) — packed into one BIGINT key so
    //    the argmin is a plain min_by in both engines — the selected
    //    parent pointers form a functional forest whose only cycles are
    //    mutual min-pairs (broken to the smaller id), and components
    //    relabel by POINTER DOUBLING to the forest roots (15 doublings
    //    cover depth 2^15 ≥ any component count at test SF; ~40 cover a
    //    trillion — the production fixpoint uses graph_scc's
    //    skew-adaptive loop). Fixed 2 rounds keep the oracle replayable
    //    as chained materialized CTEs; the full MSF is the same loop to
    //    fixpoint (≤ log₂ n rounds, components at least halve). Output:
    //    the forest edges with the round that selected them. Scale shape
    //    per round: edges ⋈ comp ⋈ comp (two node-sized equi-joins), one
    //    partial-aggregated argmin on the component key, then
    //    comp-table-sized doubling self-joins — the EDGE set is touched
    //    once per round, all iteration state is node-sized, every round
    //    eagerly checkpointed (kcore hygiene). Early exit when the
    //    pointers stop changing is result-identical to running all 15
    //    doublings (fixpoint of an idempotent map).
    "graph_msf" -> ((s, d) => {
      val we = graft.Caches.checkpoint(
        weightedCoPurchase(s, d).select(col("u"), col("v"), col("w"),
          (col("w") * lit(1L << 44) + col("u") * lit(1L << 22) + col("v"))
            .as("pk")))
      // pk packing total-orders (w, u, v) ONLY while u,v < 2^22 and
      // w < 2^19 ([[requirePackedIds]]); at bigger id spaces widen the
      // shifts like the 50M-node rehearsal's auto-widened
      // (2·idBits + 10)-bit packing.
      requirePackedIds("graph_msf pk", we,
        "u" -> (1L << 22), "v" -> (1L << 22), "w" -> (1L << 19))
      val (chosen, _) = boruvkaForest(we, rounds = 2, doublings = 15)
      chosen
        .join(we.select(col("pk"), col("u"), col("v"), col("w")), "pk")
        .select(col("round"), col("u"), col("v"), col("w"))
        .orderBy("round", "u", "v")
    }),

    // -- fixed-iteration PageRank (damping 0.85, 3 iterations, init 1.0)
    //    on the customer→order graph. A genuine distributed iteration:
    //    contributions = edges ⋈ ranks (shuffle on src), partial+final
    //    sum on dst, rank refresh via left join on the node set. On this
    //    bipartite fixture the ranks CONVERGE exactly by iteration 2
    //    (customers have no in-edges → rank 0.15; each order has exactly
    //    one in-neighbor), which is what makes the fixed point
    //    SQL-expressible for the oracle while the Spark side still runs
    //    the general loop. Every arithmetic step (0.15 + 0.85·(0.15/deg))
    //    is the same IEEE-754 double op sequence in both engines; the
    //    surfaced value is floor(pr·1e9).
    "graph_pagerank" -> ((s, d) => pageRank(s, d, iters = 3,
      checkpointEachIter = true)),

    // -- the reference's HEADLINE workload end-to-end: PageRank over a
    //    COMPRESSED graph (/root/reference/README.md:37-48 runs exactly
    //    this through its GraphX handoff). The customer→order adjacency is
    //    BV-compressed through the distributed sharded sink, scanned back
    //    with the DSv2 source (edges from the successor decode; the node
    //    set and out-degrees from the degree-only γ fast path — successors
    //    never decoded for those two frames), and pushed through the SAME
    //    checkpointed iteration as graph_pagerank ([[pageRankLoop]]).
    //    Unlike graph_pagerank's shifted bipartite ids, the BV graph keeps
    //    the RAW overlapping id space [0, n) including degree-0 sinks —
    //    every order node has exactly one in-edge, so each rank sum has at
    //    most one term and the doubles stay order-independent; the oracle
    //    replays all 3 iterations as chained CTEs over generate_series.
    "bv_pagerank" -> ((s, d) => {
      val base = GraphQueries.bvFixture(s, d)
      def bv = s.read.format("bvgraph").option("basename", base).load()
      val e = graft.Caches.pin(bv
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("dq"))
        .select(col("src"), col("dq").cast("long").as("dst")))
      val nodes = graft.Caches.pin(bv.select(col("id").cast("long").as("id")))
      val outdeg = graft.Caches.pin(bv.filter(col("outdegree") > 0)
        .select(col("id").cast("long").as("src"),
          col("outdegree").cast("long").as("odeg")))
      pageRankLoop(e, nodes, outdeg, iters = 3, checkpointEachIter = true)
    }),

    // -- PERSONALIZED PageRank with restart to a seed set (id ≡ 0 mod 17),
    //    on the GENERAL co-purchase graph — where in-degrees exceed 1, so
    //    float rank sums would be accumulation-order-dependent. The fix is
    //    an ALL-INTEGER iteration: ranks are e9-scaled BIGINTs, each edge
    //    contributes (85·r) DIV (100·deg) (the 0.85 damping as exact
    //    integer division), and the per-node Σ of BIGINTs is order-
    //    independent — hash-exact in any engine at any parallelism, the
    //    determinism float PageRank cannot give on a multi-in-degree
    //    graph. r₀ = 1e9·[seed]; r_{t+1}(v) = 15e7·[v seed] + Σ_{u~v}
    //    (85·r_t(u)) DIV (100·deg(u)); 2 iterations, checkpointed per
    //    iteration (kcore hygiene). Per-round shape: one edge-partitioned
    //    join + one partial-aggregated integer sum — pagerank's exact
    //    shuffle profile.
    "graph_ppr" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("dg"))
      // deg is a pure function of sym — LOOP-INVARIANT, so pre-join it
      // ONCE into an edge-sized (src, y, dgs) frame and checkpoint that:
      // the iteration then pays one m-sized join + one partial-aggregated
      // sum per round instead of two m-sized joins. At 10 iterations and
      // 100x scale that is 2 vs 3 shuffles per round on the edge set.
      val symDeg = graft.Caches.checkpoint(sym
        .join(deg.withColumnRenamed("x", "dsrc")
          .withColumnRenamed("dg", "dgs"), col("x") === col("dsrc"))
        .select(col("x").as("src"), col("y"), col("dgs")))
      val isSeed = (col("x") % 17 === 0).cast("long")
      val nodes = sym.select(col("x")).distinct()
      var r = nodes.select(col("x"), (isSeed * lit(1000000000L)).as("r"))
      // r is node-sized ([[Licenses]]); no per-round scalar is read, so
      // the lazy chain materializes under the terminal orderBy
      val b = Licenses.broadcastWithin(symDeg, Licenses.limits.broadcastArcs)
      for (_ <- 1 to 2) {
        val contrib = symDeg
          .join(b(r.withColumnRenamed("x", "src").withColumnRenamed("r", "rs")),
            "src")
          .select(col("y").as("x"),
            expr("(85 * rs) DIV (100 * dgs)").as("c"))
        r = graft.Caches.checkpoint(
          nodes.join(contrib.groupBy(col("x")).agg(sum(col("c")).as("sc")),
              Seq("x"), "left")
            .select(col("x"),
              (isSeed * lit(150000000L) + coalesce(col("sc"), lit(0L)))
                .as("r")),
          eager = false)
      }
      r.select(col("x").as("node"), col("r").as("ppr_e9")).orderBy("node")
    }),

    // -- DAG LAYERING on the compact-forward orientation (the dependency-
    //    scheduling shape): orienting every edge from the (degree, id)-
    //    smaller endpoint — graph_triangles' orientation — is provably
    //    acyclic, so bounded-depth longest path is well-defined:
    //    d_t(v) = longest path into v using ≤ t edges, via t synchronous
    //    max-plus relaxations (the bounded Bellman iteration; 3 rounds
    //    declared so the oracle replays them as chained CTEs). Per round:
    //    one edge-partitioned join + one partial-aggregated max —
    //    pagerank's exact shuffle profile, node-sized state, checkpointed
    //    per round (kcore hygiene).
    "graph_topo_layers" -> ((s, d) => {
      val e0 = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e0.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e0.select(col("v").as("x"), col("u").as("y")))
      val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("dg"))
      val dir = graft.Caches.checkpoint(e0
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t")))
      val nodes = sym.select(col("x")).distinct()
      var dcur = nodes.select(col("x"), lit(0L).as("d"))
      // dcur is node-sized ([[Licenses]]); no per-round scalar is read,
      // so the lazy 3-round chain materializes under the terminal orderBy
      val b = Licenses.broadcastWithin(dir, Licenses.limits.broadcastArcs)
      for (_ <- 1 to 3) {
        val msgs = dir.join(b(dcur.withColumnRenamed("x", "s")), "s")
          .select(col("t").as("x"), (col("d") + lit(1L)).as("d"))
        dcur = graft.Caches.checkpoint(
          dcur.unionByName(msgs).groupBy(col("x")).agg(max(col("d")).as("d")),
          eager = false)
      }
      dcur.select(col("x").as("node"), col("d").as("depth3")).orderBy("node")
    }),

    // -- WEIGHTED single-source shortest paths (Bellman–Ford) — the
    //    weighted sibling of graph_bfs, completing the weighted-graph
    //    family graph_msf opened. Edge weight = co-purchase multiplicity
    //    (number of orders containing both parts — derived from the data,
    //    all BIGINT, so distances are exact integers and hash-safe at any
    //    parallelism). Source = min node id; 4 FIXED synchronous min-plus
    //    relaxation rounds, so the oracle replays them as chained
    //    MATERIALIZED CTEs and both engines agree whether or not the
    //    fixpoint is reached (round r covers every shortest path of ≤ r
    //    hops). Per round: one edge-partitioned join + one partial-
    //    aggregated min — pagerank's exact shuffle profile with node-sized
    //    state, eagerly checkpointed per round (kcore hygiene) so the plan
    //    stays flat at any round count. At 100 TB the round count is the
    //    lever: r bounded shuffles, never loop-until-convergence planning.
    "graph_sssp" -> ((s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val w0 = li.groupBy(col("ok"))
        .agg(array_sort(collect_set(col("pk"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            y => struct(x.as("u"), y.as("v")))))).as("p"))
        .groupBy(col("p.u").as("u"), col("p.v").as("v"))
        .agg(count(lit(1)).as("w"))
      val e = graft.Caches.checkpoint(
        w0.select(col("u").as("a"), col("v").as("b"), col("w"))
          .unionByName(w0.select(col("v").as("a"), col("u").as("b"), col("w"))))
      val srcId = e.agg(min(col("a"))).head().getLong(0) // bounded scalar
      relaxRounds(s, e, srcId, rounds = 4)
        .select(col("x").as("node"), col("dist")).orderBy("node")
    }),

    // -- DIAMETER LOWER BOUND by the classic double-sweep: BFS from an
    //    arbitrary node (min id), jump to the farthest node reached
    //    (ties to the smaller id — one bounded driver scalar), BFS again
    //    from there; the second sweep's eccentricity is the standard
    //    tight diameter lower bound (Magnien–Latapy–Habib). Both sweeps
    //    are the same 4 fixed min-plus rounds as graph_sssp (unweighted),
    //    checkpointed per round, so the whole query is 8 bounded
    //    (edge-join + partial-min) shuffles and the oracle replays them
    //    as two chained CTE pyramids. Output is the metadata-sized
    //    distance histogram of the second sweep — its max row IS the
    //    bound.
    "graph_diameter_sweep" -> ((s, d) => {
      val e = graft.Caches.checkpoint {
        val e0 = coPurchaseEdges(s, d)
        e0.select(col("u").as("a"), col("v").as("b"))
          .unionByName(e0.select(col("v").as("a"), col("u").as("b")))
      }
      val ew = e.withColumn("w", lit(1L))
      val src = e.agg(min(col("a"))).head().getLong(0) // bounded scalar
      val far = relaxRounds(s, ew, src, rounds = 4)
        .orderBy(col("dist").desc, col("x"))
        .select(col("x")).head().getLong(0) // bounded scalar
      relaxRounds(s, ew, far, rounds = 4)
        .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    }),

    // -- SCC by pointer doubling on the functional part graph: see
    //    [[sccFunctional]] — the O(log n)-round composition primitive,
    //    checkpointed per round like kcore.
    "graph_scc" -> ((s, d) => sccFunctional(s, d)),

    // -- triangle count on the co-purchase graph, compact-forward: orient
    //    each undirected edge from the (degree, id)-smaller endpoint to
    //    the larger — the oriented graph is acyclic with out-degree
    //    bounded by ~sqrt(m), which caps hub fan-out. Counting is the
    //    edge-iterator form: per ORIENTED edge (u,v), triangles closed at
    //    that edge = |N⁺(u) ∩ N⁺(v)| — a sorted-array intersection inside
    //    the row (codegen'd), never a materialized wedge join (the wedge
    //    explosion is Σ outdeg² rows ≈ 3·10⁸ at sf0.1; this plan shuffles
    //    only the m edges + m adjacency arrays). The global count is
    //    orientation-invariant, so the oracle may use the simpler id
    //    orientation; the engine runs the skew-safe degree orientation.
    "graph_triangles" -> ((s, d) => {
      val e = graft.Caches.pin(coPurchaseEdges(s, d))
      // deg (one row per node) and adj (one adjacency array per node) are
      // n-sized, m-free relations. Join strategy is deliberately UNHINTED:
      // AQE broadcasts them while n is small (runtime sizes, not
      // estimates) and flips to co-partitioned shuffle joins past the
      // threshold — a forced broadcast() would collect a billion-node
      // adjacency to the driver at 100 TB. Measured identical locally.
      // endpoint explode, not e ∪ swap(e): one scan of e instead of two
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("dg"))
      val dir = graft.Caches.pin(e
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t")))
      val adj = graft.Caches.pin(dir.groupBy(col("s"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs")))
      val closed = dir
        .join(adj.select(col("s"), col("nbrs").as("na")), Seq("s"))
        .join(adj.select(col("s").as("t"), col("nbrs").as("nb")),
          Seq("t"), "left")
        .select(coalesce(size(array_intersect(col("na"), col("nb"))),
          lit(0)).as("tri"))
      // both scalars from ONE aggregate over a tagged union — no 1x1
      // combine join in the plan
      e.select(lit(1L).as("ne"), lit(0L).as("tri"))
        .unionByName(closed.select(lit(0L).as("ne"), col("tri").cast("long")))
        .agg(sum(col("ne")).as("n_edges"), sum(col("tri")).as("triangles"))
    }),

    // -- k-TRUSS peeling (k = 10) on the co-purchase graph: two rounds of
    //    "drop every edge supporting fewer than k−2 = 8 triangles", then
    //    the support histogram of the survivors — the cohesion ladder one
    //    rung above graph_kcore (a k-truss edge needs k−2 TRIANGLES, not
    //    just k−2 neighbors, so trusses isolate genuinely dense cores).
    //    Support per round comes from the compact-forward orientation
    //    (graph_triangles' trick): each triangle is found ONCE at its base
    //    oriented edge as an in-row sorted-array intersection — never a
    //    materialized wedge join — then explodes to its 3 canonical edges
    //    and counts per edge. Per-round cost is one triangle pass: the
    //    explode is triangle-count-sized (3 rows per triangle), the
    //    support count partial-aggregates on (u,v), and hub fan-out stays
    //    bounded by the orientation's ~sqrt(m) out-degree cap. Rounds are
    //    eagerly checkpointed with previous-generation frees (kcore
    //    hygiene) so the plan stays flat. The fixed 2-round peel is a
    //    deterministic operator in its own right (both engines run the
    //    same rounds; full decomposition = run to fixpoint at 100 TB,
    //    same per-round shape). Orientation-invariance of support lets
    //    the oracle use the simpler symmetric wedge join.
    "graph_truss" -> ((s, d) => {
      val km2 = 8L
      var e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      for (_ <- 1 to 2) {
        val next = graft.Caches.checkpoint(
          triangleSupport(e).filter(col("sup") >= km2).select("u", "v"))
        graft.Caches.release(e)
        e = next
      }
      // the last generation stays pinned until the caller's terminal
      // action; Caches.sweep releases it before the next query builds
      triangleSupport(e).groupBy(col("sup"))
        .agg(count(lit(1)).as("n_edges"))
        .orderBy("sup")
    }),

    // -- neighbor-set Jaccard similarity per co-purchase edge — the graph
    //    twin of the dedup family's set-similarity operators: for each
    //    edge (u,v), |N(u) ∩ N(v)| / |N(u) ∪ N(v)| over the undirected
    //    adjacency. The numerator |N(u) ∩ N(v)| of an EDGE is exactly its
    //    triangle support, so the whole query rides [[triangleSupport]]'s
    //    compact-forward COUNT pass (partial-aggregated rows, arrays
    //    bounded by the oriented ~√m out-degree cap) instead of shipping
    //    both full neighbor arrays onto every edge — the naive formulation
    //    paid Σ_v deg² array traffic, and its hub rows are the plan that
    //    dies first at 100x. Measured tradeoff at sf0.1 (quiet box): this
    //    pass is 4.4 s vs the naive join's 2.9 s — the support count pays
    //    a 3·|triangles| explode+shuffle the array join avoided, and this
    //    clique-heavy co-purchase graph (≤7-item orders → dense order
    //    cliques) is triangle-rich. The constant is paid knowingly: the
    //    naive plan's cost is degree-SQUARED in the hubs (unbounded at
    //    crawl scale), the oriented pass is triangle-linear with √m-capped
    //    fan-out, and pinning the shared pass also took graph_truss's
    //    three-pass peel from 11.0 to 6.8 s. Degrees join back from the
    //    node-sized pinned degree relation (AQE broadcasts it while
    //    small); the union size is deg_u + deg_v − common by
    //    inclusion–exclusion. Output is the top-100 most-similar edges
    //    under a total order (jac desc, u, v) — a TakeOrderedAndProject,
    //    so only 100 rows ever reach the driver regardless of graph size.
    "graph_jaccard_neighbors" -> ((s, d) => {
      val e = graft.Caches.pin(coPurchaseEdges(s, d))
      val deg = graft.Caches.pin(
        e.select(explode(array(col("u"), col("v"))).as("x"))
          .groupBy("x").agg(count(lit(1)).as("dg")))
      triangleSupport(e, Some(deg))
        .join(deg.select(col("x").as("u"), col("dg").as("deg_u")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("dg").as("deg_v")), Seq("v"))
        .select(col("u"), col("v"), col("deg_u"), col("deg_v"),
          col("sup").as("n_common"))
        .withColumn("jac_e6", floor(col("n_common") * lit(1000000.0)
          / (col("deg_u") + col("deg_v") - col("n_common"))).cast("long"))
        .orderBy(col("jac_e6").desc, col("u"), col("v"))
        .limit(100)
    }),

    // -- edge reciprocity on the DIRECTED co-purchase graph: within each
    //    order, part A points at part B when A's linenumber precedes B's,
    //    de-duplicated across orders — two parts bought in opposite
    //    orderings in different orders yield a reciprocal pair. The build
    //    is the same bounded within-order self-join as coPurchaseEdges
    //    (≤7 lineitems/order ⇒ ≤42 directed rows per order), ONE shuffle
    //    on the order key; the reciprocal test is a self semi-join of the
    //    edge set against its own swap — shuffle on the (u,v) pair, no
    //    row explosion. Both scalars come from one tagged-union aggregate
    //    (no 1x1 combine join); the ratio is exact integer DIV so no
    //    float ever diverges from the oracle.
    "graph_reciprocity" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"))
      val dir = graft.Caches.pin(
        li.join(li.select(col("ok"), col("ln").as("ln2"), col("pk").as("pk2")),
            Seq("ok"))
          .filter(col("ln") < col("ln2") && col("pk") =!= col("pk2"))
          .select(col("pk").as("u"), col("pk2").as("v"))
          .distinct())
      val recip = dir.join(dir.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      dir.select(lit(1L).as("ne"), lit(0L).as("nr"))
        .unionByName(recip.select(lit(0L).as("ne"), lit(1L).as("nr")))
        .agg(sum(col("ne")).as("n_edges"), sum(col("nr")).as("n_recip"))
        .select(col("n_edges"), col("n_recip"),
          expr("n_recip * 1000000 DIV n_edges").as("recip_x1e6"))
    }),

    // -- global clustering coefficient 3T/W on the undirected co-purchase
    //    graph: T from the same compact-forward edge-iterator as
    //    graph_triangles (per-edge sorted-array intersection, never a
    //    materialized wedge join), W = Σ deg·(deg−1)/2 from the one
    //    degree pass. Triangles, wedges and the coefficient come out of
    //    ONE tagged-union aggregate; the coefficient is exact BIGINT
    //    arithmetic (3·T·1e6 DIV W — ~1e12 at sf0.1, far inside long
    //    range), so the value is partitioning-independent.
    "graph_clustering_coeff" -> ((s, d) => {
      val e = graft.Caches.pin(coPurchaseEdges(s, d))
      val deg = graft.Caches.pin(
        e.select(explode(array(col("u"), col("v"))).as("x"))
          .groupBy("x").agg(count(lit(1)).as("dg")))
      val dir = graft.Caches.pin(e
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t")))
      val adj = graft.Caches.pin(dir.groupBy(col("s"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs")))
      val closed = dir
        .join(adj.select(col("s"), col("nbrs").as("na")), Seq("s"))
        .join(adj.select(col("s").as("t"), col("nbrs").as("nb")),
          Seq("t"), "left")
        .select(coalesce(size(array_intersect(col("na"), col("nb"))),
          lit(0)).cast("long").as("tri"))
      deg.select(lit(0L).as("tri"),
          expr("dg * (dg - 1) DIV 2").as("wed"))
        .unionByName(closed.select(col("tri"), lit(0L).as("wed")))
        .agg(sum(col("tri")).as("triangles"), sum(col("wed")).as("wedges"))
        .select(col("triangles"), col("wedges"),
          expr("3 * triangles * 1000000 DIV wedges").as("cc_x1e6"))
    }),

    // -- 4-CYCLE (rectangle) counting, completing the motif family
    //    beyond triangles — as a DOULION-STYLE VERTEX-SAMPLED estimator,
    //    because exact square counting is inherently a Σ deg² wedge
    //    aggregation (measured: 98M wedge rows / 74M distinct endpoint
    //    pairs on the full sf0.1 graph — DuckDB needs 23 s for it, and
    //    no vertex order reduces it; that computation does NOT survive
    //    100×). The 100 TB path is the sparsification estimator: keep
    //    vertices deterministically with p = 1/4 (pk % 4 — content-
    //    addressed, so both engines sample identically), count squares
    //    EXACTLY on the sampled subgraph, scale by p⁻⁴ = 256. Each
    //    square survives iff all 4 corners survive ⇒ E[est] is exactly
    //    the true count (measured 33.65M est vs 33.85M true at sf0.1,
    //    0.6% off), while wedge volume shrinks by p³ = 64×. Counting on
    //    the sample is the Chiba–Nishizeki min-rank formulation: fix
    //    the (degree, id) total order; every 4-cycle v-u₁-w-u₂ is
    //    counted once AT ITS MINIMUM-RANK VERTEX v with its unique
    //    opposite corner w — count 2-paths v→u—w with rank(u) > rank(v)
    //    and rank(w) > rank(v), group by (v, w), Σ C(c, 2). The total
    //    is invariant under ANY total order, so the oracle replays the
    //    simpler id order while the engine runs the skew-safe degree
    //    order — agreement proves both sides count cycles, not an
    //    orientation artifact. Exact BIGINT throughout.
    "graph_squares" -> ((s, d) => {
      // the vertex sample is pushed BELOW the per-order set expansion:
      // a co-purchase pair survives iff both parts survive, so filtering
      // lineitem rows first yields the identical sampled edge set while
      // cutting the O(items²)-per-order explosion by p² = 16×
      val li = lineitem(s, d).filter(col("l_partkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = graft.Caches.pin(li
        .groupBy(col("ok")).agg(array_sort(collect_set(col("pk"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            y => struct(x.as("u"), y.as("v")))))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .distinct())
      val deg = graft.Caches.pin(
        e.select(explode(array(col("u"), col("v"))).as("x"))
          .groupBy("x").agg(count(lit(1)).as("dg")))
      // ranks are attached to the TWO m-sized edge relations BEFORE the
      // wedge join — the wedge relation is Σ deg² rows (~10⁸ at sf0.1,
      // irreducible for exact counting under any vertex order), so the
      // rank filter, the (s, w) projection and the partial count must
      // all fuse into the join's own codegen stage; joining deg onto the
      // wedge rows instead (two extra probes on 10⁸ rows) measured 2×+
      // slower
      val dir = e
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t"), col("du").as("ds")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"),
              col("dv").as("ds"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"), col("e.ds").as("ds"))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
        .join(deg.select(col("x").as("y"), col("dg").as("dy")), "y")
        .select(col("x").as("t"), col("y").as("w"), col("dy").as("dw"))
      // wedge v→u—w: first hop oriented (rank(u) > rank(v) by dir's
      // construction), second hop undirected; keep rank(w) > rank(v)
      val p2 = dir.join(sym, "t")
        .filter(col("ds") < col("dw") ||
          (col("ds") === col("dw") && col("s") < col("w")))
        .groupBy(col("s"), col("w")).agg(count(lit(1)).as("c"))
      e.select(lit(1L).as("ne"), lit(0L).as("sq"))
        .unionByName(p2.select(lit(0L).as("ne"),
          expr("c * (c - 1) DIV 2").as("sq")))
        .agg(sum(col("ne")).as("n_edges_sample"),
          sum(col("sq")).as("squares_sample"))
        .select(col("n_edges_sample"), col("squares_sample"),
          (col("squares_sample") * lit(256L)).as("squares_est"))
    }),

    // -- 4-CLIQUE count on the SAME Doulion-style p = 1/4 vertex sample
    //    as graph_squares (a K4 survives iff all 4 vertices do ⇒ ×p⁻⁴ is
    //    unbiased; exact K4 counting shares exact-square counting's
    //    super-linear wedge cost and equally does not survive 100×).
    //    Counting on the sample is the oriented-DAG formulation: under
    //    the (degree, id) acyclic orientation every K4 has a unique
    //    topological order a→b→c→d, so K4s = Σ over oriented triangles
    //    (a,b,c) of |N⁺(a) ∩ N⁺(b) ∩ N⁺(c)| — triangles come from the
    //    same in-row adjacency intersection as graph_triangles (the
    //    (a,b) edge carries N⁺(a) ∩ N⁺(b), exploded to its members c),
    //    and the third intersection is again in-row against N⁺(c).
    //    Wedges never materialize; the only explosion is the (sampled)
    //    triangle list itself. The count is orientation-invariant, so
    //    the oracle replays plain id order as a 6-condition join.
    "graph_4cliques" -> ((s, d) => {
      val li = lineitem(s, d).filter(col("l_partkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = graft.Caches.pin(li
        .groupBy(col("ok")).agg(array_sort(collect_set(col("pk"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            y => struct(x.as("u"), y.as("v")))))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .distinct())
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("dg"))
      val dir = e
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
      val adj = graft.Caches.pin(dir.groupBy(col("s"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs")))
      // oriented triangles (a→b, c ∈ N⁺(a)∩N⁺(b)), carrying N⁺(a)∩N⁺(b)
      val tri = dir
        .join(adj.select(col("s").as("s"), col("nbrs").as("na")), "s")
        .join(adj.select(col("s").as("t"), col("nbrs").as("nb")), "t")
        .select(col("s"), col("t"),
          array_intersect(col("na"), col("nb")).as("nab"))
        .filter(size(col("nab")) > 0)
        .select(col("nab"), explode(col("nab")).as("c"))
      val k4 = tri
        .join(adj.select(col("s").as("c"), col("nbrs").as("nc")), Seq("c"),
          "left")
        .select(coalesce(size(array_intersect(col("nab"), col("nc"))),
          lit(0)).cast("long").as("k"))
      e.select(lit(1L).as("ne"), lit(0L).as("k"))
        .unionByName(k4.select(lit(0L).as("ne"), col("k")))
        .agg(sum(col("ne")).as("n_edges_sample"),
          sum(col("k")).as("k4_sample"))
        .select(col("n_edges_sample"), col("k4_sample"),
          (col("k4_sample") * lit(256L)).as("k4_est"))
    }),

    // -- BFS levels from the minimum part id over the undirected
    //    co-purchase graph, via GraphX Pregel (min-distance propagation):
    //    edges are partitioned ONCE, each superstep is a co-partitioned
    //    vertex⋈message join, and only active-frontier messages shuffle —
    //    the scale architecture for iterative traversal (a DataFrame
    //    frontier loop re-shuffles or re-broadcasts the visited set every
    //    level; measured 4x slower here). Iterations = graph diameter,
    //    capped at 20. Unreached nodes are dropped, matching the
    //    recursive-CTE oracle's reachable set.
    "graph_bfs" -> ((s, d) => {
      import org.apache.spark.graphx._
      import s.implicits._
      val e = graft.Caches.pin(coPurchaseEdges(s, d))
      val srcId = e.agg(min(col("u"))).head().getLong(0)
      // a handful of fat partitions: each Pregel superstep runs
      // O(partitions) tasks, and at this graph size per-task scheduling
      // overhead dominates the actual message work — derived from the
      // runtime's parallelism, not a box-tuned constant
      val edgeRdd = e.rdd.flatMap { r =>
        val u = r.getLong(0); val v = r.getLong(1)
        Iterator(Edge(u, v, ()), Edge(v, u, ())) // undirected
      }.coalesce(math.max(2, s.sparkContext.defaultParallelism / 4))
      val g0 = Graph.fromEdges(edgeRdd, ())
      val g = g0.mapVertices((id, _) => if (id == srcId) 0L else Long.MaxValue)
      val res = g.pregel(Long.MaxValue, maxIterations = 20)(
        (_, dist, msg) => math.min(dist, msg),
        t => if (t.srcAttr != Long.MaxValue && t.srcAttr + 1L < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + 1L)) else Iterator.empty,
        (a, b) => math.min(a, b))
      // Pregel unpersists its intermediate generations; the INPUT graph and
      // the returned one stay cached — release them with the query's pins
      graft.Caches.defer(s) {
        res.unpersistVertices(blocking = false)
        res.edges.unpersist(blocking = false)
        g0.unpersistVertices(blocking = false)
        g0.edges.unpersist(blocking = false)
      }
      res.vertices.filter(_._2 != Long.MaxValue)
        .map { case (id, dist) => (id, dist) }.toDF("id", "dist")
        .orderBy("id")
    }),

    // -- k-core decomposition by FIXED-round peeling: each of the 6 rounds
    //    drops nodes whose degree within the surviving set is below k. A
    //    fixed round count instead of loop-until-stable keeps the output a
    //    deterministic function of the data that the oracle replays with 6
    //    chained MATERIALIZED CTEs — and if not yet converged, both
    //    engines agree anyway.
    //
    //    k is DERIVED FROM THE DATA, not hardcoded: k = max(1, floor(m/n))
    //    (m undirected edges, n non-isolated nodes). Every graph's
    //    degeneracy d satisfies m <= d*n, so d >= ceil(m/n) >= k, the
    //    d-core is non-empty, and the d-core survives every peel round —
    //    the result is provably non-empty at EVERY scale factor (the old
    //    hardcoded k=80 returned an empty core at sf0.001).
    //
    //    Scale shape: `und` partitions once (cached); each round is two
    //    key-partitioned hash joins + a partial count agg, CHECKPOINTED
    //    eagerly (Caches.checkpoint) so both its execution lineage AND its
    //    logical plan stop at a LogicalRDD leaf. persist()+count() is NOT
    //    enough here: it cuts execution lineage but each round's LOGICAL
    //    plan still embeds the previous alive twice (two join arms), so the
    //    plan tree doubles per round and Catalyst analysis goes exponential
    //    — measured 121 s median at sf0.1 (rounds 5/6 + final query paying
    //    3.3/32.9/58.3 s of single-threaded driver planning) vs 7.4 s with
    //    the checkpoint. That is a DRIVER-side scale-killer: at 100 TB the
    //    data never moves but the driver stalls. Each round's checkpointed
    //    RDD is freed as soon as the next round materializes — peak storage
    //    is und + two node-sized frames. The alive set only shrinks, so AQE
    //    broadcasts late rounds.
    // -- degree assortativity (Newman 2002): Pearson correlation of the
    //    endpoint degrees over all edge-end samples. Every moment (Σx,
    //    Σx², Σxy, N) is an EXACT BIGINT sum — order-free under any
    //    partitioning — and the single floating division happens once on
    //    the final one-row frame, so the e9-quantized result is
    //    deterministic and hash-comparable (no libm, no accumulation-order
    //    drift). Scale shape: one degree agg, one edges⋈deg⋈deg join
    //    (deg is node-sized; AQE broadcasts it when small), one global
    //    agg — no iteration, no driver loop, two shuffles total.
    "graph_assortativity" -> ((s, d) => {
      // e feeds three subtrees (deg build + both join arms). A lazy pin
      // materializes under all three concurrently in the first action and
      // the winner gets charged the whole co-purchase build (driver bench:
      // 8.6 s vs 2.9 s profiled) — checkpoint it EAGERLY instead, like
      // kcore's deg pass, so the build runs exactly once, up front
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      val j = e
        .join(deg.select(col("x").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("deg").as("dv")), "v")
      // symmetric samples: each edge contributes (du,dv) AND (dv,du), so
      // Sy=Sx, Syy=Sxx and r = (N·Sxy − Sx²) / (N·Sxx − Sx²)
      j.agg((count(lit(1)) * 2).as("n_samples"),
          sum(col("du") + col("dv")).as("sx"),
          sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
          (sum(col("du") * col("dv")) * 2).as("sxy"))
        .select(col("n_samples"), col("sx"), col("sxx"), col("sxy"),
          floor((col("n_samples") * col("sxy") - col("sx") * col("sx"))
              .cast("double") * lit(1000000000.0)
            / (col("n_samples") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).cast("long").as("assort_e9"))
    }),

    // -- HITS (Kleinberg 1999) with UNNORMALIZED integer iterates on the
    //    id-oriented co-purchase DAG (u < v): a₁ = in-degree, h₁(u) =
    //    Σ_{u→v} a₁(v), a₂(v) = Σ_{u→v} h₁(u). Skipping the per-iteration
    //    L2 normalization keeps every score an exact BIGINT sum —
    //    order-free under any partitioning, hash-comparable — while the
    //    RANKING is identical to normalized HITS (normalization is a
    //    positive global scalar per iteration). Scale shape: each
    //    half-iteration is one key-partitioned join + partial agg on the
    //    edge partitioning, the same shuffle profile as one pagerank step;
    //    score frames are node-sized so AQE broadcasts them while small.
    "graph_hits" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val a1 = e.groupBy(col("v")).agg(count(lit(1)).as("a1"))
      val h1 = e.join(a1, "v").groupBy(col("u")).agg(sum(col("a1")).as("h1"))
      val a2 = e.join(h1, "u").groupBy(col("v")).agg(sum(col("h1")).as("a2"))
      val nodes = e.select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id"))).distinct()
      nodes
        .join(h1.withColumnRenamed("u", "id"), Seq("id"), "left")
        .join(a2.withColumnRenamed("v", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("h1"), lit(0L)).as("hub"),
          coalesce(col("a2"), lit(0L)).as("auth"))
        .orderBy("id")
    }),

    // -- label propagation (community detection), deterministic min-label
    //    variant: synchronous rounds of l(v) ← min over the CLOSED
    //    neighborhood N[v] of the previous labels, init l₀ = id. Two fixed
    //    rounds keep the output a pure function of the data the oracle
    //    replays with two chained aggregations (the classic
    //    random-tie-breaking LPA is not oracle-able; the min variant is the
    //    same hash-min message pattern graph_cc's GraphX run uses, here
    //    DataFrame-native). Scale shape per round: one join of the
    //    symmetric edge list against the node-sized label frame + a
    //    min-agg — partial aggregation makes the shuffle carry one
    //    (node, min) pair per partition, and the label frame broadcasts
    //    while small.
    "graph_lpa" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      // round 1 folds init l0=id: l1(x) = min(x, min over neighbors)
      var lbl = sym.groupBy(col("x")).agg(least(col("x"), min(col("y"))).as("lbl"))
      // round 2: min over closed neighborhood of l1
      lbl = sym.join(lbl.withColumnRenamed("x", "y"), "y")
        .groupBy(col("x")).agg(min(col("lbl")).as("nmin"))
        .join(lbl, "x")
        .select(col("x").as("node"), least(col("lbl"), col("nmin")).as("label"))
      lbl.orderBy("node")
    }),

    // -- MAXIMAL-INDEPENDENT-SET rounds (Luby 1986, the deterministic
    //    variant): node priorities are a fixed multiplicative hash packed
    //    with the id into one BIGINT (prio = (x·2654435761 mod 1e9+7)·2²²
    //    + x — a TOTAL order, so "local minimum" has no ties), and each
    //    round admits every undecided node whose priority beats all its
    //    undecided neighbors, then retires the admitted set plus its
    //    neighborhood. Two fixed rounds keep the oracle replayable as
    //    chained CTEs (expected-fraction-retired per round is a constant,
    //    so the production fixpoint is O(log n) rounds of this same
    //    body). The admitted set is independent BY CONSTRUCTION: two
    //    adjacent local minima would each have to beat the other. Output:
    //    every node with the round that decided it (0 = still undecided
    //    after 2 rounds) and its side (in/out). MIS is the scheduling /
    //    graph-coloring primitive (round-robin seed selection, conflict-
    //    free batching at 100 TB). Scale shape per round: one min-agg
    //    over the endpoint list partitioned on x (partial-aggregated)
    //    and two node-sized anti-joins; the edge set is touched once per
    //    round and shrinks to the undecided-induced subgraph.
    "graph_mis" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      // prio packs (hash, id) into one BIGINT; needs id < 2^22
      // ([[requirePackedIds]] — at bigger spaces widen the shift).
      requirePackedIds("graph_mis prio", e,
        "u" -> (1L << 22), "v" -> (1L << 22))
      def prio(c: Column): Column =
        ((c * lit(2654435761L)) % lit(1000000007L)) * lit(1L << 22) + c
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val nodes = sym.select(col("x")).distinct()
      // each round's (in, out) feeds three+ downstream consumers (the
      // undecided anti-joins, the induced subgraph, the final union) —
      // pin them so the shared lineage computes once, not per branch
      def round(edges: DataFrame, undecided: DataFrame): (DataFrame, DataFrame) = {
        val mn = edges.groupBy(col("x")).agg(min(prio(col("y"))).as("mn"))
        val in = graft.Caches.pin(undecided.join(mn, Seq("x"), "left")
          .filter(col("mn").isNull || prio(col("x")) < col("mn"))
          .select(col("x")))
        val out = graft.Caches.pin(edges
          .join(in.withColumnRenamed("x", "y"), "y")
          .select(col("x")).distinct())
        (in, out)
      }
      val (in1, out1) = round(sym, nodes)
      val u1 = graft.Caches.pin(nodes.join(in1, Seq("x"), "left_anti")
        .join(out1, Seq("x"), "left_anti"))
      val sym2 = sym.join(u1, "x")
        .join(u1.withColumnRenamed("x", "y"), "y")
      val (in2, out2) = round(sym2, u1)
      val u2 = u1.join(in2, Seq("x"), "left_anti")
        .join(out2, Seq("x"), "left_anti")
      in1.select(col("x"), lit(1L).as("rnd"), lit("in").as("st"))
        .unionByName(out1.select(col("x"), lit(1L).as("rnd"), lit("out").as("st")))
        .unionByName(in2.select(col("x"), lit(2L).as("rnd"), lit("in").as("st")))
        .unionByName(out2.select(col("x"), lit(2L).as("rnd"), lit("out").as("st")))
        .unionByName(u2.select(col("x"), lit(0L).as("rnd"),
          lit("undecided").as("st")))
        .select(col("x").cast("long").as("node"), col("rnd"), col("st"))
        .orderBy("node")
    }),

    // -- ASSOCIATION RULES over the order baskets (the market-basket
    //    twin of text_collocations' lift mining): for every co-purchased
    //    part pair with support ≥ 5 orders, directional confidences
    //    c_ab·1e6 DIV c_a / DIV c_b and lift c_ab·N·1e6 DIV (c_a·c_b) —
    //    all exact BIGINT, so the rule ranking is partitioning-
    //    independent. Pair counts ride the bounded within-order set
    //    expansion (≤ C(items,2) rows per order, one shuffle on the
    //    pair); item counts are one partial-aggregated pass; both
    //    ride back as broadcasts onto the supported-pair relation
    //    (orders of magnitude smaller than the pair stream). Top-20 by
    //    (lift, pair) is TakeOrderedAndProject.
    "basket_rules" -> ((s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = weightedCoPurchase(s, d)
        .withColumnRenamed("w", "c_ab")
        .filter(col("c_ab") >= 5)
      val items = li.select(col("ok"), col("pk")).distinct()
        .groupBy("pk").agg(count(lit(1)).as("c"))
      val nOrders = li.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(items.select(col("pk").as("u"), col("c").as("c_a"))),
          "u")
        .join(broadcast(items.select(col("pk").as("v"), col("c").as("c_b"))),
          "v")
        .crossJoin(broadcast(nOrders))
        .select(col("u"), col("v"), col("c_ab"), col("c_a"), col("c_b"),
          expr("c_ab * 1000000 DIV c_a").as("conf_ab_e6"),
          expr("c_ab * 1000000 DIV c_b").as("conf_ba_e6"),
          expr("c_ab * n * 1000000 DIV (c_a * c_b)").as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("u"), col("v"))
        .limit(20)
    }),

    // -- DEGREE-CORRELATION PROFILE k_nn(k) — the curve behind the
    //    single-number graph_assortativity: for each degree class k, the
    //    mean degree of the neighbors of degree-k nodes, as the exact
    //    integer Σ_{deg(x)=k} Σ_{y~x} deg(y) · 1e6 DIV (k · n_k). One
    //    degree pass, degrees joined onto the m-sized endpoint list
    //    (n-sized deg relation — AQE broadcasts below threshold), one
    //    partial-aggregated groupBy on the degree class; output is
    //    degree-classes-sized (≤ max-degree rows) at any corpus scale.
    "graph_knn_degree" -> ((s, d) => {
      val e = graft.Caches.pin(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val deg = graft.Caches.pin(
        sym.groupBy(col("x")).agg(count(lit(1)).as("dg")))
      val nk = deg.groupBy(col("dg").as("k"))
        .agg(count(lit(1)).as("n_k"))
      sym
        .join(deg, "x")
        .join(deg.select(col("x").as("y"), col("dg").as("dy")), "y")
        .groupBy(col("dg").as("k"))
        .agg(sum(col("dy")).as("snd"))
        .join(nk, "k")
        .select(col("k"), col("n_k"),
          expr("snd * 1000000 DIV (k * n_k)").as("knn_e6"))
        .orderBy("k")
    }),

    // -- MODULARITY of the LPA communities — the quality metric that
    //    turns "we have labels" into "the labels mean something":
    //    Q = Σ_c (e_c/m − (d_c/2m)²), computed ENTIRELY in integers as
    //    the undivided pair (q_num, q_den) = (Σ_c (4m·e_c − d_c²), 4m²)
    //    so no float ever diverges and the value is partitioning-
    //    independent. Labels are the same 2 deterministic min-label
    //    rounds as graph_lpa; d_c is one count over the label-joined
    //    endpoint list, e_c one count over label-equal edges, and the
    //    final combine runs on the communities relation (metadata-sized)
    //    with the 1-row edge count broadcast — the corpus-sized data
    //    sees three partial-aggregated passes and nothing else.
    "graph_modularity" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val l1 = graft.Caches.pin(sym.groupBy(col("x"))
        .agg(least(col("x"), min(col("y"))).as("lbl")))
      val lblP = graft.Caches.pin(
        sym.join(l1.withColumnRenamed("x", "y"), "y")
          .groupBy(col("x")).agg(min(col("lbl")).as("nmin"))
          .join(l1, "x")
          .select(col("x").as("node"),
            least(col("lbl"), col("nmin")).as("label")))
      val dcs = sym.join(lblP.withColumnRenamed("node", "x"), "x")
        .groupBy("label").agg(count(lit(1)).as("dc"))
      val ecs = e
        .join(lblP.select(col("node").as("u"), col("label").as("lu")), "u")
        .join(lblP.select(col("node").as("v"), col("label").as("lv")), "v")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("label")).agg(count(lit(1)).as("ec"))
      val mRow = e.agg(count(lit(1)).as("m"))
      dcs.join(ecs, Seq("label"), "left")
        .select(col("dc"), coalesce(col("ec"), lit(0L)).as("ec"))
        .crossJoin(broadcast(mRow))
        .agg(max(col("m")).as("n_edges"),
          count(lit(1)).as("n_comms"),
          sum(lit(4L) * col("m") * col("ec") - col("dc") * col("dc"))
            .as("q_num"))
        .select(col("n_edges"), col("n_comms"), col("q_num"),
          (lit(4L) * col("n_edges") * col("n_edges")).as("q_den"))
    }),

    // -- exact 2-ball sizes + harmonic centrality at radius 2 over a
    //    deterministic 1/17 seed sample (id ≡ 0 mod 17) — the
    //    HyperBall/neighborhood-function shape (Boldi-Vigna 2013) with the
    //    approximation stripped so the oracle can replay it exactly:
    //    ball₂(v) = |{v} ∪ N(v) ∪ N²(v)|, harm₂×2 = 2·|dist=1| + |dist=2|.
    //    The two-hop expansion is Σ_{seed} Σ_{u∈N(seed)} deg(u) rows — the
    //    seed sample bounds it (full-graph exact distinct-at-distance is
    //    inherently Σdeg²; at 100 TB you run THIS query on a seed sample
    //    for exact figures, or swap the count-distinct for per-node HLL
    //    registers merged with zip_with-max — the distinct_kmv machinery —
    //    to cover every node approximately).
    "graph_ball2" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val d1 = sym.filter(col("x") % 17 === 0)
        .select(col("x").as("node"), col("y").as("w"))
      val hop2 = d1
        .join(sym.select(col("x").as("w"), col("y").as("w2")), "w")
        .select(col("node"), col("w2").as("w"))
      val ball = d1.unionByName(hop2)
        .unionByName(d1.select(col("node"), col("node").as("w")).distinct())
        .distinct()
      val deg = d1.groupBy(col("node")).agg(count(lit(1)).as("n1"))
      ball.groupBy(col("node")).agg(count(lit(1)).as("ball2"))
        .join(deg, "node")
        .select(col("node"), col("n1"),
          col("ball2"),
          (col("n1") * 2 + (col("ball2") - 1 - col("n1"))).as("harm2_x2"))
        .orderBy("node")
    }),

    // -- sampled BETWEENNESS at radius 2 (Brandes 2001 dependency
    //    accumulation, depth-bounded the way production centrality runs
    //    at corpus scale — Riondato-Kornaropoulos sampling): from every
    //    seed s (id ≡ 0 mod 17), every node t at distance EXACTLY 2
    //    contributes σ_st(w)/σ_st to each middle node w, where σ_st =
    //    |CN(s,t)| (every length-2 shortest path is s–w–t through a
    //    common neighbor). The per-pair share surfaces as the exact
    //    floor 1e6 DIV σ_st, summed per w — deterministic under any
    //    partitioning, replayed digit-for-digit by the oracle. Output
    //    per middle node: how many sampled shortest paths cross it and
    //    the accumulated (scaled) betweenness. Scale shape: the two-hop
    //    expansion is the same seed-bounded Σdeg² as graph_ball2; the
    //    "exactly 2" filter is one anti-join against the seed adjacency;
    //    σ is one partial-aggregated count on (s,t); the dependency
    //    accumulation is one partial-aggregated sum on w.
    "graph_betweenness2" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val d1 = sym.filter(col("x") % 17 === 0)
        .select(col("x").as("s"), col("y").as("w"))
      // joins stay UNHINTED: the seed-incident set is sample-rate-sized
      // (2m/17) — AQE broadcasts it while small but flips to shuffle
      // joins when the graph outgrows the threshold (a forced broadcast
      // would ship a billion-edge sample to every executor at 100 TB)
      val paths = d1
        .join(sym.select(col("x").as("w"), col("y").as("t")), "w")
        .filter(col("t") =!= col("s"))
        .join(d1.select(col("s"), col("w").as("t")), Seq("s", "t"),
          "left_anti") // t must NOT be adjacent to s: distance exactly 2
      // σ(s,t) and the midpoints come out of ONE (s,t) shuffle: a count
      // window over the pair key annotates every (s,t,w) row with σ in
      // place (pair groups are bounded by the smaller endpoint degree) —
      // re-joining the path relation against a separately aggregated σ
      // table would shuffle the wedge-sized relation twice more
      // (measured 36 s → 23 s at sf0.1), and a collect_list+explode pays
      // an object-hash aggregation over the same volume for nothing
      import org.apache.spark.sql.expressions.Window
      paths.withColumn("sigma",
          count(lit(1)).over(Window.partitionBy(col("s"), col("t"))))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_paths"),
          sum(expr("1000000 DIV sigma")).as("bc2_e6"))
        .select(col("w").cast("long").as("node"), col("n_paths"),
          col("bc2_e6"))
        .orderBy("node")
    }),

    // -- ADAMIC–ADAR link prediction over sampled seeds (the classic
    //    common-neighbor feature: a shared LOW-degree neighbor is strong
    //    evidence two nodes belong together, a shared hub is weak). For
    //    every seed s (id ≡ 0 mod 17) and every non-adjacent node t at
    //    distance 2, AA(s,t) = Σ_{w ∈ N(s)∩N(t)} 1e6 DIV bitlen(deg w) —
    //    the bit-length surrogate for 1/log₂(deg) (quality_surprisal's
    //    libm-free trick), so the score is an exact integer both engines
    //    reproduce. Plan shape = graph_betweenness2's: the seed-adjacent
    //    wedge expansion carries each midpoint's precomputed weight,
    //    ONE (s,t) shuffle partial-aggregates the scores, and the
    //    top-100 is TakeOrderedAndProject — only 100 rows ever reach
    //    the driver at any graph size.
    "graph_adamic_adar" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("dg"))
      val d1 = sym.filter(col("x") % 17 === 0)
        .select(col("x").as("s"), col("y").as("w"))
      val wedges = d1
        .join(deg.select(col("x").as("w"),
          expr("1000000 DIV length(bin(dg))").as("aw")), "w")
        .join(sym.select(col("x").as("w"), col("y").as("t")), "w")
        .filter(col("t") =!= col("s"))
        .join(d1.select(col("s"), col("w").as("t")), Seq("s", "t"),
          "left_anti") // distance exactly 2: t not adjacent to s
      wedges.groupBy(col("s"), col("t"))
        .agg(count(lit(1)).as("n_common"), sum(col("aw")).as("aa_e6"))
        .orderBy(col("aa_e6").desc, col("s"), col("t"))
        .limit(100)
    }),

    // -- deterministic random walks (the node2vec/DeepWalk sampling shape):
    //    from every seed (id ≡ 0 mod 17) take 3 steps, at each step moving
    //    to the neighbor minimizing a LCG-style hash of (current, step,
    //    neighbor) — "random" enough to scatter, yet a pure function of
    //    the data both engines compute with exact BIGINT arithmetic (no
    //    RNG, no engine hash). The argmin is encoded as min over
    //    h·10⁹ + nbr (h < 10⁹+7, nbr < 10⁹ ⇒ no overflow, total order,
    //    deterministic ties). Scale shape per step: one join of the
    //    frontier against the edge partitioning + a min-agg — partial
    //    aggregation ships one (walker, min) pair per partition; walks
    //    are embarrassingly parallel in the walker key.
    "graph_random_walk" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      // the argmin key packs h·10⁹ + nbr — a total order ONLY while
      // nbr < 10⁹ ([[requirePackedIds]]; widen the 10⁹ stride past it)
      requirePackedIds("graph_random_walk argmin key", e,
        "u" -> 1000000000L, "v" -> 1000000000L)
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      def step(cur: DataFrame, k: Int): DataFrame = cur
        .join(sym.withColumnRenamed("x", "cur"), "cur")
        .select(col("node"),
          (((col("cur") * 1103515245L + lit(k.toLong * 12345L)
            + col("y") * 2654435761L) % 1000000007L) * 1000000000L
            + col("y")).as("key"))
        .groupBy(col("node")).agg(min(col("key")).as("mk"))
        .select(col("node"), (col("mk") % 1000000000L).as("cur"))
      val seeds = sym.select(col("x")).distinct().filter(col("x") % 17 === 0)
        .select(col("x").as("node"), col("x").as("cur"))
      val s1 = step(seeds, 1)
      val s2 = step(s1, 2)
      val s3 = step(s2, 3)
      s1.select(col("node"), col("cur").as("s1"))
        .join(s2.select(col("node"), col("cur").as("s2")), "node")
        .join(s3.select(col("node"), col("cur").as("s3")), "node")
        .orderBy("node")
    }),

    // -- HyperBall-style neighborhood function over EVERY node (the sketch
    //    path graph_ball2's doc promises): per-node fixed-size bottom-k
    //    (KMV) sketch of the radius-2 ball, composed per round by merging
    //    each node's sketch with its neighbors' — k-min of a union equals
    //    k-min of the members' k-mins, so the per-round truncation is
    //    LOSSLESS for the final statistic and state stays k=16 longs per
    //    node however big the ball gets. That fixed-size merge is the whole
    //    100 TB point: exact per-node ball sizes cost Σdeg² rows
    //    (graph_ball2 pays it on a 1/17 seed sample; at scale nobody can
    //    pay it for all nodes), while this runs radius rounds of
    //    one edge-partitioned join + one bounded-state aggregate, the same
    //    per-round shuffle profile as pagerank. Hashes are modular
    //    arithmetic (h = v·2654435761 mod (1e9+7), +1 to keep 0 free), the
    //    estimate (k-1)·M DIV kth is exact BIGINT division, and the oracle
    //    replays the bottom-k via window row_number over the naive ball —
    //    estimator and exact path agree to the digit in both engines.
    "graph_hyperball" -> ((s, d) => {
      val (_, st2) = kmvBallSketches(s, d)
      st2.select(col("x").as("node"),
        size(col("sk")).cast("long").as("n_sk"),
        kmvEst.as("ball2_est"))
        .orderBy("node")
    }),

    // -- harmonic centrality (the HyperBall statistic Boldi–Vigna built the
    //    sketch loop FOR) at radius 2, over EVERY node, from the same
    //    bounded per-node KMV state as graph_hyperball: with est_r the
    //    estimate of |ball_r(x)| (self included), |dist=1| = est₁ − 1 and
    //    |dist=2| = est₂ − est₁, so harm₂×2 = 2·|d1| + |d2| collapses to
    //    est₁ + est₂ − 2 — two sketch generations, one join, no Σdeg² blow-
    //    up (graph_ball2 pays that exactly on a 1/17 seed sample; this is
    //    the all-nodes scale path). The estimator is exact-replayable:
    //    bottom-16 of modular hashes + BIGINT division, so the oracle
    //    reproduces every estimate to the digit.
    "graph_harmonic" -> ((s, d) => {
      val (st1, st2) = kmvBallSketches(s, d)
      st1.select(col("x"), kmvEst.as("ball1_est"))
        .join(st2.select(col("x"), kmvEst.as("ball2_est")), "x")
        .select(col("x").as("node"), col("ball1_est"), col("ball2_est"),
          (col("ball1_est") + col("ball2_est") - lit(2L)).as("harm2_x2_est"))
        .orderBy("node")
    }),

    // -- the global NEIGHBORHOOD FUNCTION N(r) = Σ_x |ball_r(x)| for
    //    r ∈ {0,1,2} — the distance-distribution / effective-diameter
    //    ingredient (HyperANF's output) — as one metadata-sized row.
    //    N(0) = n and N(1) = n + 2m are exact closed forms cross-checking
    //    the sketch sums; N(2) sums the per-node KMV estimates (BIGINT sum
    //    of BIGINT estimates — order-independent, hash-safe). reach2_x1e6
    //    = floor(N(2)·1e6 / n²) is the fraction of ordered pairs within
    //    distance 2. Scale shape: the per-node frames never leave the
    //    executors; only 1-row partial sums cross the final exchange.
    "graph_nf" -> ((s, d) => {
      // the two generations hold the SAME node set, so no per-node join is
      // needed: each reduces independently to one row (map-side partials,
      // SinglePartition final), and the 1-row frames cross — at 100 TB
      // this saves a node-sized hash join whose only output was two sums
      val (st1, st2) = kmvBallSketches(s, d)
      val a1 = st1.agg(count(lit(1)).as("nodes"),
        sum(kmvEst).as("nf1_est"))
      val a2 = st2.agg(sum(kmvEst).as("nf2_est"))
      a1.crossJoin(a2)
        .select(col("nodes"), col("nf1_est"), col("nf2_est"),
          floor(col("nf2_est") * lit(1000000L) / (col("nodes") * col("nodes")))
            .cast("long").as("reach2_x1e6"))
    }),

    // -- CORENESS DECOMPOSITION by h-index iteration (Lü et al. 2016:
    //    h⁰ = degree, hⁱ⁺¹(u) = H-index of {hⁱ(v) : v ∈ N(u)}; the
    //    sequence is monotone non-increasing and converges to the core
    //    number of EVERY node simultaneously — the all-k companion of
    //    graph_kcore's single-k peel, and the decomposition a curation
    //    pipeline ranks link-graph nodes by without running one peel per
    //    k). Two fixed rounds keep the oracle a chained-CTE replay (like
    //    kcore/msf); the PRODUCTION to-fixpoint mode exists as
    //    [[corenessFixpoint]] — kcore's early-exit pattern, monotonicity
    //    asserted per round — and is exercised with invariant checks at
    //    50M nodes in the scale rehearsal (SCALE.md), where it is also
    //    equality-gated against the hub-histogram round form. Per round
    //    ([[hIndexRoundSort]]): ONE edge-sized equi-join publishing each
    //    node's current h to its neighbors, then the H-index as a
    //    per-node ordered count — max(least(rank, value)) over the
    //    neighbor values sorted descending, tie-order-invariant. All
    //    iteration state is one long per node. The row_number sort is
    //    bounded by each node's OWN degree; at crawl scale
    //    [[hIndexRoundHist]] computes the identical H-index from a
    //    bounded ≤√(2m) histogram instead (partial-agg fan-in collapse —
    //    a hub never pays a degree-sized per-key sort), and
    //    [[hIndexRound]] auto-selects it by max degree.
    "graph_coreness" -> ((s, d) => {
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      var h = sym.groupBy(col("x")).agg(count(lit(1)).as("h"))
      for (r <- 1 to 2) {
        // sort form always here: the benched graphs have no crawl-scale
        // hubs, and the oracle replays this exact shape; the histogram
        // twin ([[hIndexRoundHist]]) is equality-gated at sf0.001
        // (CorenessSpec) and at 50M (ScaleRehearsal), and
        // [[hIndexRound]] auto-selects it past maxDeg > 2·√(2m)
        val nh = graft.Caches.checkpoint(hIndexRoundSort(sym, h))
        if (r > 1) graft.Caches.release(h) // generation 0 rides on e's checkpoint
        h = nh
      }
      h.select(col("x").cast("long").as("node"), col("h").as("core_h2"))
        .orderBy("node")
    }),

    // -- coreness to FIXPOINT — graph_coreness's PRODUCTION mode on the
    //    declared, oracle-gated surface (r9 verdict item 5): the
    //    semi-naive h-index iteration ([[corenessFixpoint]]) runs until
    //    NO node changes, which is the exact Matula–Beck core number of
    //    every node (Lü et al. 2016), with per-round monotonicity
    //    REQUIRED loudly (checkMonotone=true — an h increase means the
    //    round operator is wrong). Output: the per-k histogram of
    //    converged core numbers plus a k=-1 sentinel row carrying the
    //    final round's changed-node count (0 iff converged, require()d
    //    here). The ORACLE recomputes the histogram from 24 chained
    //    h-index round CTEs — sf0.01 converges by round 18 (measured in
    //    DuckDB), and because the h-sequence is non-increasing and
    //    idempotent at the fixpoint, overshooting rounds is
    //    result-identical — and genuinely measures its own convergence
    //    as the h23-vs-h24 diff count, so the sentinel is an
    //    independently computed zero on both sides, not a pinned
    //    constant. Scale shape: identical to the 50M rehearsal's — per
    //    round one edge join against the changed frontier, one H-index
    //    recompute restricted to it (sort/histogram auto-selected by
    //    [[hIndexRound]] so a crawl-scale hub pays ≤√(2m), never a
    //    degree-sized sort), all iteration state one long per node,
    //    every generation eagerly checkpointed and the previous freed.
    "graph_coreness_fixpoint" -> ((s, d) => {
      import s.implicits._
      val e = graft.Caches.checkpoint(coPurchaseEdges(s, d))
      val sym = graft.Caches.checkpoint(
        e.select(col("u").as("x"), col("v").as("y"))
          .unionByName(e.select(col("v").as("x"), col("u").as("y"))))
      graft.Caches.release(e)
      val dst = sym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .agg(sum(col("deg")), max(col("deg"))).head()
      val arcs = dst.getLong(0) // |sym| = 2m
      val hmax = math.sqrt(arcs.toDouble).toLong
      val maxDeg = dst.getLong(1)
      // SCALE-ADAPTIVE algorithm selection (`Licenses.limits.kernelArcs`): the
      // exact peel and the h-index fixpoint compute the SAME core
      // numbers (Lü et al. 2016; gated node-for-node in
      // CorenessLouvainSpec, LicenseBoundarySpec and by this query's
      // oracle, which replays the h-index iteration to convergence in
      // DuckDB). Below the license the O(n+m) peel runs as one narrow
      // task — a 1.4M-arc subproblem must not pay 38 synchronized
      // distributed rounds; above it (the 50M rehearsal, any crawl) the
      // semi-naive broadcast-licensed fixpoint runs unchanged.
      val h = if (arcs <= Licenses.limits.kernelArcs) {
        corenessExactSmall(s, sym)
      } else {
        val (hf, rounds, converged) = corenessFixpoint(sym, hmax,
          maxDeg, maxRounds = 100, checkMonotone = true)
        require(converged,
          s"corenessFixpoint did not converge within $rounds rounds")
        hf
      }
      h.groupBy(col("h").cast("long").as("k")).agg(count(lit(1)).as("cnt"))
        .unionByName(Seq((-1L, 0L)).toDF("k", "cnt"))
        .orderBy("k")
    }),

    // -- LOUVAIN community detection, one synchronous sweep from
    //    singleton communities over the WEIGHTED co-purchase graph (the
    //    msf family's input): node u joins neighbor v's community iff the
    //    modularity gain is positive, argmax with ties to the smaller
    //    neighbor id. With singletons, ΔQ(u→{v}) ∝ w(u,v)/m −
    //    deg_w(u)·deg_w(v)/(2m²); scaled by the positive constant 2m²
    //    the decision variable is the EXACT INTEGER
    //    2m·w(u,v) − deg_w(u)·deg_w(v) — no float ever enters the argmax,
    //    so the sweep is hash-gated end to end (the same
    //    cross-multiplication trick as embed_outliers_centroid). Output
    //    is the community summary (size + internal weight + the scaled
    //    modularity numerator per community). Scale shape: degrees are
    //    one partial-aggregated pass; 2m is a 1-row driver scalar
    //    (bounded, like cluster_kmeans' centroids); the argmax is one
    //    edge-sized join + per-node max_by partial aggregate; internal
    //    weight re-joins the new labels onto the edge list — two
    //    node-sized equi-joins. Nothing materializes neighbor sets, so
    //    hubs cost their degree, not degree². Production Louvain iterates
    //    this sweep + graph coarsening; each later sweep has the same
    //    plan over a strictly smaller graph — made runnable as
    //    [[louvainSweep]] (self-loop-aware generalization) +
    //    [[coarsen]] + [[modularityScaled]], chained and
    //    invariant-checked (Q non-decreasing, Q coarsening-invariant,
    //    both as exact-integer equalities) at 50M nodes in the scale
    //    rehearsal and at sf0.001 in CorenessSpec.
    "graph_louvain" -> ((s, d) => {
      val we = graft.Caches.checkpoint(weightedCoPurchase(s, d))
      val sym = we.select(col("u").as("x"), col("v").as("y"), col("w"))
        .unionByName(we.select(col("v").as("x"), col("u").as("y"), col("w")))
      // deg is consumed three times (overflow guard + both argmax join
      // sides) — checkpoint the node-sized frame once instead of paying
      // the edge-sized aggregation per consumer
      val deg = graft.Caches.checkpoint(
        sym.groupBy(col("x")).agg(sum(col("w")).as("dw")))
      // 2m + max w: one bounded 1-row scalar (total edge weight, doubled)
      val gs = we.agg(sum(col("w")).cast("long"), max(col("w"))).head()
      val m2 = gs.getLong(0) * 2L
      requireSweepBounds("graph_louvain", m2, maxW = gs.getLong(1),
        maxDeg = deg.agg(max(col("dw"))).head().getLong(0))
      val sc = sym
        .join(deg.select(col("x"), col("dw").as("du")), "x")
        .join(deg.select(col("x").as("y"), col("dw").as("dv")), "y")
        .withColumn("score", lit(m2) * col("w") - col("du") * col("dv"))
      val lbl = sc.groupBy(col("x")).agg(
        max_by(col("y"), struct(col("score"), -col("y"))).as("best"),
        max(col("score")).as("bs"))
      val moved = graft.Caches.checkpoint(lbl.select(col("x"),
        when(col("bs") > 0, col("best")).otherwise(col("x")).as("comm")))
      val internal = we
        .join(moved.select(col("x").as("u"), col("comm").as("cu")), "u")
        .join(moved.select(col("x").as("v"), col("comm").as("cv")), "v")
        .filter(col("cu") === col("cv"))
        .groupBy(col("cu").as("comm")).agg(sum(col("w")).as("w_in"))
      moved.groupBy(col("comm")).agg(count(lit(1)).as("n_nodes"))
        .join(internal, Seq("comm"), "left")
        .select(col("comm"), col("n_nodes"),
          coalesce(col("w_in"), lit(0L)).as("w_internal"))
        .orderBy("comm")
    }),

    // -- the LOUVAIN PRODUCTION LADDER on the declared, oracle-gated
    //    surface (r9 verdict item 5): guarded sweep from singletons
    //    ([[louvainSweepMonotone]] — the raw synchronous sweep can
    //    regress Q on adversarial ties, the guard keeps the moved labels
    //    only when their exact-integer Q is ≥ the singletons', making
    //    per-level monotonicity a THEOREM), COARSEN communities to
    //    super-nodes (internal weight becomes self-loops — total weight
    //    and every node strength preserved exactly), guarded sweep again
    //    over the strictly smaller graph, then the composed labels
    //    evaluated back on the ORIGINAL graph. Output: one row per
    //    ladder level with the exact-integer Q·(2m)², 2m, community and
    //    edge counts — so the oracle gate hash-checks the full invariant
    //    set (Q₁ ≥ Q₀, coarsening leaves Q INVARIANT: level 2 == level
    //    1's integer, Q₃ ≥ Q₁, composed == level 3's integer, and m2
    //    conservation) as DATA, with DuckDB re-running both guarded
    //    sweeps and both pricings from scratch. Scale shape: each sweep
    //    is the graph_louvain plan (one edge-sized argmax join + two
    //    node-sized label joins, never materializing neighbor sets);
    //    each later sweep runs the identical plan over a strictly
    //    smaller graph; every Q pricing ends in 1-row driver scalars.
    "graph_louvain_ladder" -> ((s, d) => {
      import s.implicits._
      val we = graft.Caches.checkpoint(weightedCoPurchase(s, d))
      // edge count + node count in ONE pass (each edge contributes two
      // exploded endpoint rows, self-loops included)
      def edgeNodeCounts(g: DataFrame): (Long, Long) = {
        val r = g.select(explode(array(col("u"), col("v"))).as("x"))
          .agg((count(lit(1)) / 2).cast("long"), countDistinct(col("x")))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      val (nWe, nNodes) = edgeNodeCounts(we)
      // SCALE-ADAPTIVE algorithm selection (`Licenses.limits.kernelArcs`), the
      // corenessExactSmall decision one operator over: below the
      // license the whole ladder (2 guarded sweeps + coarsen
      // + 3 pricings, ~16 driver actions whose cost at bench SF is
      // barrier/planning floor, not data) runs as one narrow task with
      // IDENTICAL exact-integer arithmetic; above it the distributed
      // ladder below runs unchanged (and at 50M in the rehearsal).
      if (nWe <= Licenses.limits.kernelArcs) louvainLadderKernel(s, we)
      else {
      val (lbl1, q0, q1, m2, nComm1) = louvainSweepMonotone(we)
      val coarse = graft.Caches.checkpoint(coarsen(we, lbl1))
      val (nCoarse, nCoarseNodes) = edgeNodeCounts(coarse)
      val (lbl2, qc, q2, m2c, nComm2) = louvainSweepMonotone(coarse)
      val composed = lbl1.select(col("x"), col("comm").as("c1"))
        .join(lbl2.select(col("x").as("c1"), col("comm")), "c1")
        .select(col("x"), col("comm"))
      val (qComposed, m2comp, nComm4) = modularityScaledN(we, composed)
      // every value below is a bounded driver scalar already computed —
      // all backing blocks can go now
      Seq(we, lbl1, coarse, lbl2).foreach(graft.Caches.release)
      Seq(
        (0L, q0, m2, nNodes, nWe),
        (1L, q1, m2, nComm1, nWe),
        (2L, qc, m2c, nCoarseNodes, nCoarse),
        (3L, q2, m2c, nComm2, nCoarse),
        (4L, qComposed, m2comp, nComm4, nWe))
        .toDF("level", "q_scaled", "m2", "n_comm", "n_edges")
        .orderBy("level")
      }
    }),

    "graph_kcore" -> ((s, d) => {
      val rounds = 6
      // the u<v edge list is the ONLY pinned relation: symmetric degrees
      // come from an endpoint explode instead of materializing e ∪ swap(e),
      // which would compute the edge build twice and double every
      // join/shuffle input downstream
      val e = graft.Caches.pin(coPurchaseEdges(s, d))
      def degOf(edges: DataFrame): DataFrame = edges
        .select(explode(array(col("u"), col("v"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      // ONE degree pass feeds everything up front: m = Σdeg/2, n = |deg|,
      // and round 1 — whose two alive-joins against the full node set are
      // identity filters — is just deg ≥ k. Saves two full edge-set
      // aggregations vs computing m/n and round 1 separately.
      val deg = graft.Caches.checkpoint(degOf(e))
      val mn = deg.agg((sum(col("deg")) / 2).cast("long").as("m"),
        count(lit(1)).as("n")).head()
      val k = math.max(1L, mn.getLong(0) / mn.getLong(1))
      // alive₁ is a 2-node plan over the deg leaf — no checkpoint needed;
      // its backing store is deg's RDD, freed when the next round lands
      var alive = deg.filter(col("deg") >= k).select(col("u").as("id"))
      var aliveCk = deg
      var nAlive = alive.count()
      // fixpoint early-exit is RESULT-IDENTICAL to running all rounds:
      // next ⊆ alive always, so equal counts ⇒ equal sets ⇒ every later
      // round returns the same set. The oracle runs the full 6 CTEs; both
      // land on the same fixpoint.
      var converged = false
      for (_ <- 2 to rounds if !converged) {
        val survivors = e
          .join(alive.select(col("id").as("u")), "u")
          .join(alive.select(col("id").as("v")), "v")
        val next = graft.Caches.checkpoint(
          degOf(survivors).filter(col("deg") >= k).select(col("u").as("id")))
        val nNext = next.count()
        if (nNext == nAlive) { converged = true; graft.Caches.release(next) }
        else {
          graft.Caches.release(aliveCk) // previous generation: folded into next
          alive = next
          aliveCk = next
          nAlive = nNext
        }
      }
      degOf(e
          .join(alive.select(col("id").as("u")), "u")
          .join(alive.select(col("id").as("v")), "v"))
        .select(col("u").cast("long").as("node"), col("deg").as("core_deg"))
        .orderBy("node")
    }))

  /** Shared DuckDB CTE for the co-purchase edge set (u < v, distinct). */
  private val edgesCte =
    """e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""

  /** Exact replay of the bottom-16 KMV estimates at radii 1 and 2 (for
    * graph_harmonic / graph_nf): the naive distinct balls, modular hashes,
    * row_number bottom-k, and the same BIGINT `(k-1)·M // kth` estimate as
    * the Spark sketches — estimator and exact path agree to the digit.
    * Expects the `e` CTE ([[edgesCte]]) in scope; yields `e1`/`e2` as
    * (node, est). */
  private val kmvReplayCtes =
    s"""sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
       ball1 AS (SELECT DISTINCT node, w FROM (
         SELECT x AS node, y AS w FROM sym
         UNION ALL SELECT DISTINCT x AS node, x AS w FROM sym)),
       ball2 AS (SELECT DISTINCT node, w FROM (
         SELECT x AS node, y AS w FROM sym
         UNION ALL
         SELECT s1.x AS node, s2.y AS w FROM sym s1 JOIN sym s2 ON s2.x = s1.y
         UNION ALL
         SELECT DISTINCT x AS node, x AS w FROM sym)),
       h1 AS (SELECT DISTINCT node, (w * 2654435761) % 1000000007 + 1 AS h
         FROM ball1),
       h2 AS (SELECT DISTINCT node, (w * 2654435761) % 1000000007 + 1 AS h
         FROM ball2),
       r1 AS (SELECT node, h,
           row_number() OVER (PARTITION BY node ORDER BY h) AS rn FROM h1),
       r2 AS (SELECT node, h,
           row_number() OVER (PARTITION BY node ORDER BY h) AS rn FROM h2),
       s1 AS (SELECT node, COUNT(*) AS cnt,
           MAX(CASE WHEN rn = 16 THEN h END) AS hk
         FROM r1 WHERE rn <= 16 GROUP BY node),
       s2 AS (SELECT node, COUNT(*) AS cnt,
           MAX(CASE WHEN rn = 16 THEN h END) AS hk
         FROM r2 WHERE rn <= 16 GROUP BY node),
       e1 AS (SELECT node, CASE WHEN cnt < 16 THEN cnt
           ELSE ${15L * 1000000007L} // hk END AS est FROM s1),
       e2 AS (SELECT node, CASE WHEN cnt < 16 THEN cnt
           ELSE ${15L * 1000000007L} // hk END AS est FROM s2)"""

  /** The 16 chained doubling CTEs for graph_scc's oracle — MATERIALIZED,
    * because each s_k is referenced twice and DuckDB would otherwise
    * inline the chain into 2^16 copies of the scan. */
  private val sccDoublingCtes: String = (0 until 16).map { k =>
    s"""s${k + 1} AS MATERIALIZED (SELECT a.i, b.p, LEAST(a.m, b.m) AS m
        FROM s$k a JOIN s$k b ON b.i = a.p)"""
  }.mkString(",\n         ")

  /** Chained h-index round CTEs for graph_coreness_fixpoint's oracle:
    * round i reads h(i-1) over `sym`, publishes each node's h to its
    * neighbors, and takes the per-node H-index as MAX(LEAST(rank, value))
    * over the neighbor values sorted descending — the exact shape the
    * graph_coreness oracle replays twice, chained `rounds` deep.
    * MATERIALIZED: h(i) is read by round i+1 AND (for the last two) the
    * convergence diff. */
  private def hIndexRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""n$i AS (SELECT s.x, h${i - 1}.h AS hv FROM sym s
           JOIN h${i - 1} ON h${i - 1}.x = s.y),
         r$i AS (SELECT x, hv, CAST(ROW_NUMBER() OVER (PARTITION BY x
             ORDER BY hv DESC) AS BIGINT) AS rn FROM n$i),
         h$i AS MATERIALIZED (SELECT x, MAX(LEAST(rn, hv)) AS h
           FROM r$i GROUP BY x)"""
    }.mkString(",\n         ")

  /** Exact-integer Q·(2m)² pricing CTEs for the louvain-ladder oracle:
    * labels `l`(x, comm) over edges `t`(u, v, w; self-loops allowed,
    * A_uu = 2w) → `${p}q`(q, m2) — the SQL twin of [[modularityScaled]],
    * integer end to end. */
  private def qPriceCtes(p: String, t: String, l: String): String =
    s"""${p}m AS (SELECT 2 * CAST(SUM(w) AS BIGINT) AS m2 FROM $t),
       ${p}a AS (SELECT COALESCE(2 * CAST(SUM(t.w) AS BIGINT), 0) AS ain
           FROM $t t JOIN $l la ON la.x = t.u JOIN $l lb ON lb.x = t.v
           WHERE la.comm = lb.comm),
       ${p}s AS (SELECT x, CAST(SUM(s) AS BIGINT) AS dw FROM (
           SELECT u AS x, CASE WHEN u = v THEN 2 * w ELSE w END AS s FROM $t
           UNION ALL SELECT v, w FROM $t WHERE u <> v) GROUP BY x),
       ${p}d AS (SELECT COALESCE(CAST(SUM(dc * dc) AS BIGINT), 0) AS sumdc2
           FROM (SELECT l.comm, CAST(SUM(st.dw) AS BIGINT) AS dc
             FROM ${p}s st JOIN $l l ON l.x = st.x GROUP BY l.comm)),
       ${p}q AS (SELECT m.m2 * a.ain - d.sumdc2 AS q, m.m2 AS m2
           FROM ${p}m m, ${p}a a, ${p}d d)"""

  /** One GUARDED louvain sweep for the ladder oracle — the SQL twin of
    * [[louvainSweepMonotone]] over edges `t`(u, v, w; self-loops
    * allowed): symmetrize the non-loops, strengths include self-loops as
    * 2w, exact-integer argmax (2m·w − dᵤ·dᵥ, move iff > 0, ties to the
    * smaller id), then keep the moved labels only when their Q prices at
    * least the singletons' — yielding `${p}lbl`(x, comm) plus the two
    * pricing CTEs `${p}mvq`/`${p}sgq`. */
  private def louvainSweepCtes(p: String, t: String): String =
    s"""${p}sym AS (SELECT u AS x, v AS y, w FROM $t WHERE u <> v
           UNION ALL SELECT v, u, w FROM $t WHERE u <> v),
       ${p}deg AS MATERIALIZED (SELECT x, CAST(SUM(w) AS BIGINT) AS dw FROM (
           SELECT x, w FROM ${p}sym
           UNION ALL SELECT u AS x, 2 * w AS w FROM $t WHERE u = v)
           GROUP BY x),
       ${p}mm AS (SELECT CAST(SUM(dw) AS BIGINT) AS m2 FROM ${p}deg),
       ${p}sc AS (SELECT s.x, s.y, m.m2 * s.w - a.dw * b.dw AS score
           FROM ${p}sym s JOIN ${p}deg a ON a.x = s.x
           JOIN ${p}deg b ON b.x = s.y, ${p}mm m),
       ${p}arg AS (SELECT x, y AS best, score AS bs, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY score DESC, y) AS rk FROM ${p}sc),
       ${p}moved AS MATERIALIZED (SELECT d.x,
           CASE WHEN a.bs > 0 THEN a.best ELSE d.x END AS comm
           FROM ${p}deg d LEFT JOIN ${p}arg a ON a.x = d.x AND a.rk = 1),
       ${p}single AS (SELECT x, x AS comm FROM ${p}deg),
       ${qPriceCtes(p + "mv", t, p + "moved")},
       ${qPriceCtes(p + "sg", t, p + "single")},
       ${p}lbl AS MATERIALIZED (SELECT m.x, CASE WHEN
           (SELECT q FROM ${p}mvq) >= (SELECT q FROM ${p}sgq)
           THEN m.comm ELSE m.x END AS comm FROM ${p}moved m)"""

  /** One Borůvka round of graph_msf's oracle: cross edges under comp$r-1,
    * per-component argmin (sel), mutual-pair break (brk), root pointers ∪
    * isolated self-loops, 15 materialized doubling CTEs, relabel. Mirrors
    * the Spark loop CTE-for-stage. */
  private def msfRoundCtes(r: Int, doublings: Int): String = {
    val prev = s"comp${r - 1}"
    val d = (0 until doublings).map { k =>
      s"""ptr${r}_${k + 1} AS MATERIALIZED (SELECT a.c, b.p
          FROM ptr${r}_$k a JOIN ptr${r}_$k b ON b.c = a.p)"""
    }.mkString(",\n         ")
    s"""ec$r AS (SELECT e.pk, a.comp AS cu, b.comp AS cv
         FROM we e JOIN $prev a ON a.id = e.u JOIN $prev b ON b.id = e.v
         WHERE a.comp <> b.comp),
       inc$r AS (SELECT cu AS c, cv AS o, pk FROM ec$r
                 UNION ALL SELECT cv, cu, pk FROM ec$r),
       sel$r AS MATERIALIZED (SELECT c, min_by(o, pk) AS p, MIN(pk) AS mk
         FROM inc$r GROUP BY c),
       brk$r AS (SELECT a.c,
           CASE WHEN b.p = a.c THEN LEAST(a.c, a.p) ELSE a.p END AS p
         FROM sel$r a JOIN sel$r b ON b.c = a.p),
       ptr${r}_0 AS MATERIALIZED (
         SELECT c, p FROM brk$r
         UNION ALL
         SELECT comp AS c, comp AS p
         FROM (SELECT DISTINCT comp FROM $prev) t
         WHERE comp NOT IN (SELECT c FROM sel$r)),
       $d,
       comp$r AS MATERIALIZED (SELECT n.id, t.p AS comp
         FROM $prev n JOIN ptr${r}_$doublings t ON t.c = n.comp)"""
  }

  val oracleSql: Map[String, String] = Map(
    "graph_adamic_adar" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         sym AS (SELECT u AS x, v AS y FROM e
           UNION ALL SELECT v, u FROM e),
         deg AS (SELECT x, COUNT(*) AS dg FROM sym GROUP BY 1),
         d1 AS (SELECT x AS s, y AS w FROM sym WHERE x % 17 = 0),
         wedges AS (SELECT d1.s, d1.w, sym.y AS t,
             1000000 // length(bin(deg.dg)) AS aw
           FROM d1
           JOIN deg ON deg.x = d1.w
           JOIN sym ON sym.x = d1.w
           WHERE sym.y <> d1.s),
         pruned AS (SELECT p.s, p.t, p.aw FROM wedges p
           LEFT JOIN d1 q ON q.s = p.s AND q.w = p.t
           WHERE q.s IS NULL)
         SELECT s, t, CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(aw) AS BIGINT) AS aa_e6
         FROM pruned GROUP BY s, t
         ORDER BY aa_e6 DESC, s, t LIMIT 100""",
    "graph_truss" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         s0 AS (SELECT u AS a, v AS b FROM e0
           UNION ALL SELECT v, u FROM e0),
         p0 AS (SELECT e0.u, e0.v, COUNT(s2.b) AS sup
           FROM e0 LEFT JOIN s0 s1 ON s1.a = e0.u
           LEFT JOIN s0 s2 ON s2.a = e0.v AND s2.b = s1.b
           GROUP BY e0.u, e0.v),
         e1 AS MATERIALIZED (SELECT u, v FROM p0 WHERE sup >= 8),
         s1 AS (SELECT u AS a, v AS b FROM e1
           UNION ALL SELECT v, u FROM e1),
         p1 AS (SELECT e1.u, e1.v, COUNT(s2.b) AS sup
           FROM e1 LEFT JOIN s1 x1 ON x1.a = e1.u
           LEFT JOIN s1 s2 ON s2.a = e1.v AND s2.b = x1.b
           GROUP BY e1.u, e1.v),
         e2 AS MATERIALIZED (SELECT u, v FROM p1 WHERE sup >= 8),
         s2t AS (SELECT u AS a, v AS b FROM e2
           UNION ALL SELECT v, u FROM e2),
         p2 AS (SELECT e2.u, e2.v, COUNT(y2.b) AS sup
           FROM e2 LEFT JOIN s2t y1 ON y1.a = e2.u
           LEFT JOIN s2t y2 ON y2.a = e2.v AND y2.b = y1.b
           GROUP BY e2.u, e2.v)
         SELECT CAST(sup AS BIGINT) AS sup,
           CAST(COUNT(*) AS BIGINT) AS n_edges
         FROM p2 GROUP BY sup ORDER BY sup""",
    "graph_msf" ->
      s"""WITH we AS MATERIALIZED (
           SELECT u, v, w, w * 17592186044416 + u * 4194304 + v AS pk FROM (
             SELECT a.l_partkey AS u, b.l_partkey AS v,
               COUNT(DISTINCT a.l_orderkey) AS w
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2)),
         comp0 AS MATERIALIZED (SELECT id, id AS comp FROM
           (SELECT u AS id FROM we UNION SELECT v FROM we)),
         ${msfRoundCtes(1, 15)},
         ${msfRoundCtes(2, 15)},
         ch AS (SELECT CAST(1 AS BIGINT) AS round, mk
                FROM (SELECT DISTINCT mk FROM sel1)
                UNION ALL
                SELECT CAST(2 AS BIGINT), mk
                FROM (SELECT DISTINCT mk FROM sel2))
         SELECT ch.round, we.u, we.v, CAST(we.w AS BIGINT) AS w
         FROM ch JOIN we ON we.pk = ch.mk
         ORDER BY round, u, v""",
    "graph_coreness" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
         h0 AS MATERIALIZED (SELECT x, CAST(COUNT(*) AS BIGINT) AS h
           FROM sym GROUP BY x),
         n1 AS (SELECT s.x, h0.h AS hv FROM sym s JOIN h0 ON h0.x = s.y),
         r1 AS (SELECT x, hv, CAST(ROW_NUMBER() OVER (PARTITION BY x
             ORDER BY hv DESC) AS BIGINT) AS rn FROM n1),
         h1 AS MATERIALIZED (SELECT x, MAX(LEAST(rn, hv)) AS h
           FROM r1 GROUP BY x),
         n2 AS (SELECT s.x, h1.h AS hv FROM sym s JOIN h1 ON h1.x = s.y),
         r2 AS (SELECT x, hv, CAST(ROW_NUMBER() OVER (PARTITION BY x
             ORDER BY hv DESC) AS BIGINT) AS rn FROM n2),
         h2 AS (SELECT x, MAX(LEAST(rn, hv)) AS h FROM r2 GROUP BY x)
         SELECT x AS node, h AS core_h2 FROM h2 ORDER BY node""",
    // 24 chained rounds overshoot sf0.01's measured convergence (round
    // 18); the h-sequence is non-increasing and idempotent at the
    // fixpoint, so extra rounds are result-identical — and the k=-1
    // sentinel is the GENUINE h23-vs-h24 diff count, 0 iff converged
    "graph_coreness_fixpoint" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         sym AS MATERIALIZED (SELECT u AS x, v AS y FROM e
           UNION ALL SELECT v, u FROM e),
         h0 AS MATERIALIZED (SELECT x, CAST(COUNT(*) AS BIGINT) AS h
           FROM sym GROUP BY x),
         ${hIndexRoundCtes(24)},
         hist AS (SELECT h AS k, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM h24 GROUP BY h),
         conv AS (SELECT CAST(-1 AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM h24 a JOIN h23 b ON b.x = a.x WHERE a.h <> b.h)
         SELECT k, cnt FROM conv UNION ALL SELECT k, cnt FROM hist
         ORDER BY k""",
    "graph_louvain" ->
      """WITH we AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS w
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
         sym AS (SELECT u AS x, v AS y, w FROM we
           UNION ALL SELECT v, u, w FROM we),
         deg AS MATERIALIZED (SELECT x, CAST(SUM(w) AS BIGINT) AS dw
           FROM sym GROUP BY x),
         mm AS (SELECT 2 * CAST(SUM(w) AS BIGINT) AS m2 FROM we),
         sc AS (SELECT s.x, s.y, mm.m2 * s.w - a.dw * b.dw AS score
           FROM sym s JOIN deg a ON a.x = s.x JOIN deg b ON b.x = s.y, mm),
         arg AS (SELECT x, y AS best, score AS bs,
             ROW_NUMBER() OVER (PARTITION BY x
               ORDER BY score DESC, y) AS rk FROM sc),
         moved AS MATERIALIZED (SELECT x,
             CASE WHEN bs > 0 THEN best ELSE x END AS comm
           FROM arg WHERE rk = 1),
         internal AS (SELECT a.comm, CAST(SUM(we.w) AS BIGINT) AS w_in
           FROM we JOIN moved a ON a.x = we.u JOIN moved b ON b.x = we.v
           WHERE a.comm = b.comm GROUP BY a.comm),
         sizes AS (SELECT comm, CAST(COUNT(*) AS BIGINT) AS n_nodes
           FROM moved GROUP BY comm)
         SELECT s.comm, s.n_nodes,
           COALESCE(i.w_in, CAST(0 AS BIGINT)) AS w_internal
         FROM sizes s LEFT JOIN internal i ON i.comm = s.comm
         ORDER BY s.comm""",
    // full guarded-sweep ladder replayed in SQL: both sweeps, both Q
    // pricings, the coarsening, and the composed labels — every level's
    // Q·(2m)² an exact integer computed from scratch on the DuckDB side
    "graph_louvain_ladder" ->
      s"""WITH we AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS w
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
         ${louvainSweepCtes("s1", "we")},
         coarse AS MATERIALIZED (SELECT LEAST(la.comm, lb.comm) AS u,
             GREATEST(la.comm, lb.comm) AS v,
             CAST(SUM(we.w) AS BIGINT) AS w
           FROM we JOIN s1lbl la ON la.x = we.u
           JOIN s1lbl lb ON lb.x = we.v
           GROUP BY 1, 2),
         ${louvainSweepCtes("s2", "coarse")},
         composed AS MATERIALIZED (SELECT l1.x, l2.comm FROM s1lbl l1
           JOIN s2lbl l2 ON l2.x = l1.comm),
         ${qPriceCtes("cp", "we", "composed")}
         SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS level,
             (SELECT q FROM s1sgq) AS q_scaled,
             (SELECT m2 FROM s1sgq) AS m2,
             (SELECT COUNT(*) FROM s1deg) AS n_comm,
             (SELECT COUNT(*) FROM we) AS n_edges
           UNION ALL
           SELECT 1, GREATEST((SELECT q FROM s1mvq), (SELECT q FROM s1sgq)),
             (SELECT m2 FROM s1sgq),
             (SELECT COUNT(DISTINCT comm) FROM s1lbl),
             (SELECT COUNT(*) FROM we)
           UNION ALL
           SELECT 2, (SELECT q FROM s2sgq), (SELECT m2 FROM s2sgq),
             (SELECT COUNT(*) FROM s2deg),
             (SELECT COUNT(*) FROM coarse)
           UNION ALL
           SELECT 3, GREATEST((SELECT q FROM s2mvq), (SELECT q FROM s2sgq)),
             (SELECT m2 FROM s2sgq),
             (SELECT COUNT(DISTINCT comm) FROM s2lbl),
             (SELECT COUNT(*) FROM coarse)
           UNION ALL
           SELECT 4, (SELECT q FROM cpq), (SELECT m2 FROM cpq),
             (SELECT COUNT(DISTINCT comm) FROM composed),
             (SELECT COUNT(*) FROM we)
         ) ORDER BY level""",
    "graph_scc" ->
      s"""WITH nodes AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS pk
           FROM lineitem),
         idx AS MATERIALIZED (SELECT pk,
             ROW_NUMBER() OVER (ORDER BY pk) - 1 AS i FROM nodes),
         nn AS (SELECT COUNT(*) AS n FROM idx),
         f AS (SELECT i, (i * i + 1) % nn.n AS fi FROM idx, nn),
         s0 AS MATERIALIZED (SELECT i, fi AS p, i AS m FROM f),
         $sccDoublingCtes,
         oc AS (SELECT DISTINCT p AS i FROM s16),
         res AS (SELECT s.i, s.m,
             CASE WHEN oc.i IS NOT NULL THEN 1 ELSE 0 END AS on_cycle
           FROM s16 s LEFT JOIN oc ON oc.i = s.i)
         SELECT a.pk AS node, CAST(res.on_cycle AS BIGINT) AS on_cycle,
           CASE WHEN res.on_cycle = 1 THEN b.pk ELSE a.pk END AS scc_node
         FROM idx a JOIN res ON res.i = a.i JOIN idx b ON b.i = res.m
         ORDER BY node""",
    "graph_hits" ->
      s"""WITH $edgesCte,
         a1 AS (SELECT v, COUNT(*) AS a1 FROM e GROUP BY v),
         h1 AS (SELECT e.u, SUM(a1.a1) AS h1 FROM e JOIN a1 ON e.v = a1.v GROUP BY e.u),
         a2 AS (SELECT e.v, SUM(h1.h1) AS a2 FROM e JOIN h1 ON e.u = h1.u GROUP BY e.v),
         n AS (SELECT u AS id FROM e UNION SELECT v AS id FROM e)
         SELECT n.id, CAST(COALESCE(h1.h1, 0) AS BIGINT) AS hub,
           CAST(COALESCE(a2.a2, 0) AS BIGINT) AS auth
         FROM n LEFT JOIN h1 ON n.id = h1.u LEFT JOIN a2 ON n.id = a2.v
         ORDER BY id""",
    "basket_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         pairs AS (SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c_ab
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         items AS (SELECT pk, COUNT(*) AS c FROM li GROUP BY pk),
         nn AS (SELECT COUNT(DISTINCT ok) AS n FROM li)
         SELECT u, v, c_ab,
           ia.c AS c_a, ib.c AS c_b,
           CAST(c_ab * 1000000 // ia.c AS BIGINT) AS conf_ab_e6,
           CAST(c_ab * 1000000 // ib.c AS BIGINT) AS conf_ba_e6,
           CAST(c_ab * nn.n * 1000000 // (ia.c * ib.c) AS BIGINT)
             AS lift_e6
         FROM pairs JOIN items ia ON ia.pk = pairs.u
           JOIN items ib ON ib.pk = pairs.v CROSS JOIN nn
         ORDER BY lift_e6 DESC, u, v LIMIT 20""",
    "graph_knn_degree" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         sym AS MATERIALIZED (
           SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         deg AS MATERIALIZED (SELECT x, COUNT(*) AS dg FROM sym GROUP BY x),
         nk AS (SELECT dg AS k, COUNT(*) AS n_k FROM deg GROUP BY dg),
         snd AS (SELECT dx.dg AS k, CAST(SUM(dy.dg) AS BIGINT) AS snd
           FROM sym s
           JOIN deg dx ON dx.x = s.x
           JOIN deg dy ON dy.x = s.y
           GROUP BY 1)
         SELECT snd.k, nk.n_k,
           CAST(snd.snd * 1000000 // (snd.k * nk.n_k) AS BIGINT) AS knn_e6
         FROM snd JOIN nk ON nk.k = snd.k ORDER BY snd.k""",
    // same 2 LPA rounds as graph_lpa, then the undivided integer pair
    // (q_num, q_den) — see the query's scaladoc.
    "graph_modularity" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         sym AS MATERIALIZED (
           SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         l1 AS (SELECT x, LEAST(x, MIN(y)) AS lbl FROM sym GROUP BY x),
         l2 AS MATERIALIZED (SELECT s.x, LEAST(o.lbl, MIN(n.lbl)) AS lbl
           FROM sym s JOIN l1 n ON n.x = s.y JOIN l1 o ON o.x = s.x
           GROUP BY s.x, o.lbl),
         mm AS (SELECT COUNT(*) AS m FROM e),
         dcs AS (SELECT l.lbl AS label, COUNT(*) AS dc
           FROM sym s JOIN l2 l ON l.x = s.x GROUP BY 1),
         ecs AS (SELECT lu.lbl AS label, COUNT(*) AS ec
           FROM e JOIN l2 lu ON lu.x = e.u JOIN l2 lv ON lv.x = e.v
           WHERE lu.lbl = lv.lbl GROUP BY 1),
         t AS (SELECT d.dc, COALESCE(ecs.ec, 0) AS ec
           FROM dcs d LEFT JOIN ecs ON ecs.label = d.label)
         SELECT (SELECT m FROM mm) AS n_edges,
           COUNT(*) AS n_comms,
           CAST(SUM(4 * (SELECT m FROM mm) * ec - dc * dc) AS BIGINT)
             AS q_num,
           CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS BIGINT)
             AS q_den
         FROM t""",
    "graph_lpa" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         l1 AS (SELECT x, LEAST(x, MIN(y)) AS lbl FROM sym GROUP BY x),
         l2 AS (SELECT s.x, LEAST(o.lbl, MIN(n.lbl)) AS lbl
           FROM sym s JOIN l1 n ON n.x = s.y JOIN l1 o ON o.x = s.x
           GROUP BY s.x, o.lbl)
         SELECT x AS node, lbl AS label FROM l2 ORDER BY node""",
    "graph_mis" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         sym AS MATERIALIZED (
           SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         nodes AS (SELECT DISTINCT x FROM sym),
         m1 AS (SELECT x, MIN((y * 2654435761 % 1000000007) * 4194304 + y) AS mn
           FROM sym GROUP BY x),
         in1 AS MATERIALIZED (SELECT n.x FROM nodes n LEFT JOIN m1 ON m1.x = n.x
           WHERE m1.mn IS NULL
              OR (n.x * 2654435761 % 1000000007) * 4194304 + n.x < m1.mn),
         out1 AS MATERIALIZED (
           SELECT DISTINCT s.x FROM sym s JOIN in1 i ON i.x = s.y),
         u1 AS MATERIALIZED (
           SELECT x FROM nodes
           EXCEPT SELECT x FROM in1
           EXCEPT SELECT x FROM out1),
         sym2 AS MATERIALIZED (SELECT s.x, s.y FROM sym s
           JOIN u1 a ON a.x = s.x JOIN u1 b ON b.x = s.y),
         m2 AS (SELECT x, MIN((y * 2654435761 % 1000000007) * 4194304 + y) AS mn
           FROM sym2 GROUP BY x),
         in2 AS MATERIALIZED (SELECT u.x FROM u1 u LEFT JOIN m2 ON m2.x = u.x
           WHERE m2.mn IS NULL
              OR (u.x * 2654435761 % 1000000007) * 4194304 + u.x < m2.mn),
         out2 AS MATERIALIZED (
           SELECT DISTINCT s.x FROM sym2 s JOIN in2 i ON i.x = s.y),
         u2 AS (SELECT x FROM u1
           EXCEPT SELECT x FROM in2
           EXCEPT SELECT x FROM out2)
         SELECT x AS node, rnd, st FROM (
           SELECT x, CAST(1 AS BIGINT) AS rnd, 'in' AS st FROM in1
           UNION ALL SELECT x, 1, 'out' FROM out1
           UNION ALL SELECT x, 2, 'in' FROM in2
           UNION ALL SELECT x, 2, 'out' FROM out2
           UNION ALL SELECT x, 0, 'undecided' FROM u2)
         ORDER BY node""",
    "graph_betweenness2" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         sym AS MATERIALIZED (
           SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         d1 AS MATERIALIZED (
           SELECT x AS s, y AS w FROM sym WHERE x % 17 = 0),
         paths AS MATERIALIZED (
           SELECT p.s, p.w, n.y AS t
           FROM d1 p JOIN sym n ON n.x = p.w
           WHERE n.y <> p.s
             AND NOT EXISTS (SELECT 1 FROM d1 a
                             WHERE a.s = p.s AND a.w = n.y)),
         sigma AS (SELECT s, t, COUNT(*) AS sigma FROM paths GROUP BY s, t)
         SELECT p.w AS node, CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(SUM(1000000 // g.sigma) AS BIGINT) AS bc2_e6
         FROM paths p JOIN sigma g ON g.s = p.s AND g.t = p.t
         GROUP BY p.w ORDER BY node""",
    "graph_ball2" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         d1 AS (SELECT x AS node, y AS w FROM sym WHERE x % 17 = 0),
         hop2 AS (SELECT d1.node, s.y AS w FROM d1 JOIN sym s ON s.x = d1.w),
         ball AS (SELECT DISTINCT node, w FROM (
           SELECT node, w FROM d1
           UNION ALL SELECT node, w FROM hop2
           UNION ALL SELECT DISTINCT node, node AS w FROM d1)),
         deg AS (SELECT node, COUNT(*) AS n1 FROM d1 GROUP BY node),
         b AS (SELECT node, COUNT(*) AS ball2 FROM ball GROUP BY node)
         SELECT b.node, CAST(deg.n1 AS BIGINT) AS n1,
           CAST(b.ball2 AS BIGINT) AS ball2,
           CAST(deg.n1 * 2 + (b.ball2 - 1 - deg.n1) AS BIGINT) AS harm2_x2
         FROM b JOIN deg ON b.node = deg.node ORDER BY b.node""",
    "graph_hyperball" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         ball AS (SELECT DISTINCT node, w FROM (
           SELECT x AS node, y AS w FROM sym
           UNION ALL
           SELECT s1.x AS node, s2.y AS w FROM sym s1 JOIN sym s2 ON s2.x = s1.y
           UNION ALL
           SELECT DISTINCT x AS node, x AS w FROM sym)),
         hh AS (SELECT DISTINCT node, (w * 2654435761) % 1000000007 + 1 AS h
           FROM ball),
         r AS (SELECT node, h,
             row_number() OVER (PARTITION BY node ORDER BY h) AS rn FROM hh),
         sk AS (SELECT node, COUNT(*) AS cnt,
             MAX(CASE WHEN rn = 16 THEN h END) AS hk
           FROM r WHERE rn <= 16 GROUP BY node)
         SELECT node, CAST(cnt AS BIGINT) AS n_sk,
           CAST(CASE WHEN cnt < 16 THEN cnt
                ELSE ${15L * 1000000007L} // hk END AS BIGINT) AS ball2_est
         FROM sk ORDER BY node""",
    "graph_harmonic" ->
      s"""WITH $edgesCte, $kmvReplayCtes
         SELECT e1.node, CAST(e1.est AS BIGINT) AS ball1_est,
           CAST(e2.est AS BIGINT) AS ball2_est,
           CAST(e1.est + e2.est - 2 AS BIGINT) AS harm2_x2_est
         FROM e1 JOIN e2 ON e2.node = e1.node ORDER BY e1.node""",
    "graph_nf" ->
      s"""WITH $edgesCte, $kmvReplayCtes
         SELECT CAST(COUNT(*) AS BIGINT) AS nodes,
           CAST(SUM(e1.est) AS BIGINT) AS nf1_est,
           CAST(SUM(e2.est) AS BIGINT) AS nf2_est,
           CAST(FLOOR(SUM(e2.est) * 1000000 / (COUNT(*) * COUNT(*)))
             AS BIGINT) AS reach2_x1e6
         FROM e1 JOIN e2 ON e2.node = e1.node""",
    "graph_random_walk" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         seeds AS (SELECT DISTINCT x AS node, x AS cur FROM sym WHERE x % 17 = 0),
         m1 AS (SELECT node, MIN(((cur * 1103515245 + 1 * 12345 + y * 2654435761)
             % 1000000007) * 1000000000 + y) AS mk
           FROM seeds JOIN sym ON sym.x = seeds.cur GROUP BY node),
         s1 AS (SELECT node, mk % 1000000000 AS cur FROM m1),
         m2 AS (SELECT node, MIN(((cur * 1103515245 + 2 * 12345 + y * 2654435761)
             % 1000000007) * 1000000000 + y) AS mk
           FROM s1 JOIN sym ON sym.x = s1.cur GROUP BY node),
         s2 AS (SELECT node, mk % 1000000000 AS cur FROM m2),
         m3 AS (SELECT node, MIN(((cur * 1103515245 + 3 * 12345 + y * 2654435761)
             % 1000000007) * 1000000000 + y) AS mk
           FROM s2 JOIN sym ON sym.x = s2.cur GROUP BY node),
         s3 AS (SELECT node, mk % 1000000000 AS cur FROM m3)
         SELECT s1.node, s1.cur AS s1, s2.cur AS s2, s3.cur AS s3
         FROM s1 JOIN s2 ON s1.node = s2.node JOIN s3 ON s1.node = s3.node
         ORDER BY s1.node""",
    "graph_jaccard_neighbors" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e
                 UNION ALL SELECT v AS x, u AS y FROM e),
         deg AS (SELECT x, COUNT(*) AS dg FROM sym GROUP BY x),
         com AS (SELECT e.u, e.v, COUNT(*) AS n_common
           FROM e JOIN sym a ON a.x = e.u JOIN sym b ON b.x = e.v AND b.y = a.y
           GROUP BY e.u, e.v),
         j AS (SELECT e.u, e.v,
             CAST(du.dg AS BIGINT) AS deg_u, CAST(dv.dg AS BIGINT) AS deg_v,
             CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common
           FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
           LEFT JOIN com c ON c.u = e.u AND c.v = e.v)
         SELECT u, v, deg_u, deg_v, n_common,
           CAST(FLOOR(n_common * 1000000.0 / (deg_u + deg_v - n_common))
             AS BIGINT) AS jac_e6
         FROM j ORDER BY jac_e6 DESC, u, v LIMIT 100""",
    "graph_assortativity" ->
      s"""WITH $edgesCte,
         deg AS (SELECT x, COUNT(*) AS deg
           FROM (SELECT unnest([u, v]) AS x FROM e) GROUP BY x),
         j AS (SELECT du.deg AS du, dv.deg AS dv
           FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
         s AS (SELECT CAST(COUNT(*) * 2 AS BIGINT) AS n_samples,
             CAST(SUM(du + dv) AS BIGINT) AS sx,
             CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx,
             CAST(2 * SUM(du * dv) AS BIGINT) AS sxy
           FROM j)
         SELECT n_samples, sx, sxx, sxy,
           CAST(FLOOR(CAST(n_samples * sxy - sx * sx AS DOUBLE) * 1000000000.0
             / CAST(n_samples * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS assort_e9
         FROM s""",
    "bv_pagerank" -> {
      // 3 chained iteration CTEs; each contribution sum has at most one
      // term (every order node has exactly one in-edge), so the doubles
      // are accumulation-order-free and the floor'd e9 value hash-matches
      val iterCtes = (1 to 3).map { k =>
        s"""c$k AS (SELECT e.dst AS id, SUM(p.pr / od.odeg) AS csum
             FROM e JOIN p${k - 1} p ON p.id = e.src
             JOIN od ON od.src = e.src GROUP BY e.dst),
           p$k AS (SELECT nodes.id,
               0.15 + 0.85 * COALESCE(c$k.csum, CAST(0.0 AS DOUBLE)) AS pr
             FROM nodes LEFT JOIN c$k ON c$k.id = nodes.id)"""
      }.mkString(",\n         ")
      s"""WITH e AS MATERIALIZED (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
         nodes AS MATERIALIZED (SELECT unnest(generate_series(0,
             (SELECT greatest(max(src), max(dst)) FROM e))) AS id),
         od AS MATERIALIZED (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
         p0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
         $iterCtes
         SELECT id, CAST(FLOOR(pr * 1000000000.0) AS BIGINT) AS pr_e9
         FROM p3 ORDER BY id"""
    },
    "graph_pagerank" ->
      """WITH deg AS (SELECT o_custkey, COUNT(*) AS odeg FROM orders GROUP BY 1)
         SELECT id, pr_e9 FROM (
           SELECT o_custkey AS id,
             CAST(FLOOR(0.15 * 1000000000.0) AS BIGINT) AS pr_e9
           FROM orders GROUP BY o_custkey
           UNION ALL
           SELECT o.o_orderkey + 1000000 AS id,
             CAST(FLOOR((0.15 + 0.85 * (0.15 / d.odeg)) * 1000000000.0) AS BIGINT) AS pr_e9
           FROM orders o JOIN deg d ON o.o_custkey = d.o_custkey)
         ORDER BY id""",
    "graph_topo_layers" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         deg AS (SELECT x, COUNT(*) AS dg FROM sym GROUP BY x),
         dir AS (SELECT
             CASE WHEN a.dg < b.dg OR (a.dg = b.dg AND e.u < e.v)
               THEN e.u ELSE e.v END AS s,
             CASE WHEN a.dg < b.dg OR (a.dg = b.dg AND e.u < e.v)
               THEN e.v ELSE e.u END AS t
           FROM e JOIN deg a ON a.x = e.u JOIN deg b ON b.x = e.v),
         n0 AS (SELECT DISTINCT x FROM sym),
         d0 AS (SELECT x, CAST(0 AS BIGINT) AS d FROM n0),
         d1 AS (SELECT x, MAX(d) AS d FROM (
             SELECT x, d FROM d0
             UNION ALL SELECT dir.t AS x, d0.d + 1 FROM dir JOIN d0 ON d0.x = dir.s)
           GROUP BY x),
         d2 AS (SELECT x, MAX(d) AS d FROM (
             SELECT x, d FROM d1
             UNION ALL SELECT dir.t AS x, d1.d + 1 FROM dir JOIN d1 ON d1.x = dir.s)
           GROUP BY x),
         d3 AS (SELECT x, MAX(d) AS d FROM (
             SELECT x, d FROM d2
             UNION ALL SELECT dir.t AS x, d2.d + 1 FROM dir JOIN d2 ON d2.x = dir.s)
           GROUP BY x)
         SELECT x AS node, CAST(d AS BIGINT) AS depth3 FROM d3 ORDER BY node""",
    "graph_sssp" -> {
      // 4 chained min-plus relaxation rounds; MATERIALIZED is load-bearing
      // (each round references the previous twice — inlined CTEs would
      // expand the chain into 2^4 copies of the weighted edge build).
      // COUNT(DISTINCT orderkey) replays the engine's per-order collect_set
      // (a part listed twice in one order still contributes one pair).
      val rounds = (1 to 4).map { r =>
        s"""d$r AS MATERIALIZED (SELECT x, MIN(dist) AS dist FROM (
             SELECT x, dist FROM d${r - 1}
             UNION ALL SELECT und.b AS x, d${r - 1}.dist + und.w
               FROM und JOIN d${r - 1} ON d${r - 1}.x = und.a)
           GROUP BY x)"""
      }.mkString(",\n         ")
      s"""WITH ew AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
             COUNT(DISTINCT a.l_orderkey) AS w
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
         und AS MATERIALIZED (SELECT u AS a, v AS b, w FROM ew
           UNION ALL SELECT v, u, w FROM ew),
         d0 AS MATERIALIZED (SELECT (SELECT MIN(u) FROM ew) AS x,
           CAST(0 AS BIGINT) AS dist),
         $rounds
         SELECT x AS node, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY node"""
    },
    "graph_diameter_sweep" -> {
      // two chained 4-round BFS pyramids; MATERIALIZED for the same
      // inlining reason as kcore/sssp. `far` replays the engine's
      // (dist DESC, id ASC) farthest-node pick exactly.
      def rounds(tag: String, prev0: String) = (1 to 4).map { r =>
        val prev = if (r == 1) prev0 else s"$tag${r - 1}"
        s"""$tag$r AS MATERIALIZED (SELECT x, MIN(dist) AS dist FROM (
             SELECT x, dist FROM $prev
             UNION ALL SELECT und.b AS x, $prev.dist + 1
               FROM und JOIN $prev ON $prev.x = und.a)
           GROUP BY x)"""
      }.mkString(",\n         ")
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         und AS MATERIALIZED (SELECT u AS a, v AS b FROM e
           UNION ALL SELECT v, u FROM e),
         a0 AS MATERIALIZED (SELECT (SELECT MIN(u) FROM e) AS x,
           CAST(0 AS BIGINT) AS dist),
         ${rounds("a", "a0")},
         b0 AS MATERIALIZED (SELECT (SELECT x FROM a4
           ORDER BY dist DESC, x LIMIT 1) AS x, CAST(0 AS BIGINT) AS dist),
         ${rounds("b", "b0")}
         SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
         FROM b4 GROUP BY dist ORDER BY dist"""
    },
    "graph_ppr" ->
      s"""WITH $edgesCte,
         sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
         deg AS (SELECT x, COUNT(*) AS dg FROM sym GROUP BY x),
         n0 AS (SELECT DISTINCT x FROM sym),
         r0 AS (SELECT x, CAST(CASE WHEN x % 17 = 0
             THEN 1000000000 ELSE 0 END AS BIGINT) AS r FROM n0),
         c1 AS (SELECT s.y AS x, SUM((85 * r.r) // (100 * d.dg)) AS sc
           FROM sym s JOIN r0 r ON r.x = s.x JOIN deg d ON d.x = s.x
           GROUP BY s.y),
         r1 AS (SELECT n0.x,
             CAST(CASE WHEN n0.x % 17 = 0 THEN 150000000 ELSE 0 END
               + COALESCE(c1.sc, 0) AS BIGINT) AS r
           FROM n0 LEFT JOIN c1 ON c1.x = n0.x),
         c2 AS (SELECT s.y AS x, SUM((85 * r.r) // (100 * d.dg)) AS sc
           FROM sym s JOIN r1 r ON r.x = s.x JOIN deg d ON d.x = s.x
           GROUP BY s.y),
         r2 AS (SELECT n0.x,
             CASE WHEN n0.x % 17 = 0 THEN 150000000 ELSE 0 END
               + COALESCE(c2.sc, 0) AS r
           FROM n0 LEFT JOIN c2 ON c2.x = n0.x)
         SELECT x AS node, CAST(r AS BIGINT) AS ppr_e9 FROM r2
         ORDER BY node""",
    "graph_reciprocity" ->
      """WITH de AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_linenumber < b.l_linenumber
            AND a.l_partkey <> b.l_partkey),
         r AS (SELECT COUNT(*) AS n_recip FROM de x
           WHERE EXISTS (SELECT 1 FROM de y WHERE y.u = x.v AND y.v = x.u))
         SELECT (SELECT COUNT(*) FROM de) AS n_edges,
           CAST(n_recip AS BIGINT) AS n_recip,
           CAST(n_recip * 1000000 // (SELECT COUNT(*) FROM de) AS BIGINT)
             AS recip_x1e6
         FROM r""",
    "graph_clustering_coeff" ->
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         deg AS (SELECT x, COUNT(*) AS dg
           FROM (SELECT unnest([u, v]) AS x FROM e) GROUP BY x),
         tri AS (SELECT COUNT(*) AS t
           FROM e e1 JOIN e e2 ON e2.u = e1.v
                     JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         wed AS (SELECT SUM(dg * (dg - 1) // 2) AS w FROM deg)
         SELECT CAST(tri.t AS BIGINT) AS triangles,
           CAST(wed.w AS BIGINT) AS wedges,
           CAST(3 * tri.t * 1000000 // wed.w AS BIGINT) AS cc_x1e6
         FROM tri, wed""",
    "graph_triangles" ->
      s"""WITH $edgesCte,
         tri AS (SELECT COUNT(*) AS triangles
           FROM e e1 JOIN e e2 ON e2.u = e1.v
                     JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT (SELECT COUNT(*) FROM e) AS n_edges, triangles FROM tri""",
    // id total order (e already has u < v); the engine's degree order
    // yields the same invariant total — see the query's scaladoc. The
    // p = 1/4 vertex sample (pk % 4) is content-addressed, so both
    // engines count the identical sampled subgraph exactly.
    "graph_squares" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0),
         und AS MATERIALIZED (
           SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
         p2 AS (SELECT d.u AS v, und.y AS w, COUNT(*) AS c
           FROM e d JOIN und ON und.x = d.v
           WHERE und.y > d.u
           GROUP BY d.u, und.y)
         SELECT (SELECT COUNT(*) FROM e) AS n_edges_sample,
           CAST((SELECT COALESCE(SUM(c * (c - 1) // 2), 0) FROM p2)
             AS BIGINT) AS squares_sample,
           CAST((SELECT COALESCE(SUM(c * (c - 1) // 2), 0) FROM p2) * 256
             AS BIGINT) AS squares_est""",
    // same p = 1/4 content-addressed sample; id total order (a<b<c<d)
    // as a 6-condition join — the engine's degree-oriented DAG count is
    // orientation-invariant, so the totals must agree exactly.
    "graph_4cliques" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0),
         k4 AS (SELECT COUNT(*) AS k FROM e ab
           JOIN e ac ON ac.u = ab.u AND ac.v > ab.v
           JOIN e ad ON ad.u = ab.u AND ad.v > ac.v
           JOIN e bc ON bc.u = ab.v AND bc.v = ac.v
           JOIN e bd ON bd.u = ab.v AND bd.v = ad.v
           JOIN e cd ON cd.u = ac.v AND cd.v = ad.v)
         SELECT (SELECT COUNT(*) FROM e) AS n_edges_sample,
           CAST(k AS BIGINT) AS k4_sample,
           CAST(k * 256 AS BIGINT) AS k4_est
         FROM k4""",
    "graph_bfs" ->
      s"""WITH RECURSIVE $edgesCte,
         und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         walk AS (
           SELECT (SELECT MIN(u) FROM e) AS id, 0 AS dist
           UNION
           SELECT und.b, walk.dist + 1
           FROM walk JOIN und ON und.a = walk.id
           WHERE walk.dist < 20
         )
         SELECT id, CAST(MIN(dist) AS BIGINT) AS dist
         FROM walk GROUP BY id ORDER BY id""",
    "graph_kcore" -> {
      // 6 chained peel rounds; MATERIALIZED is load-bearing — each round
      // references the previous twice, and inlined CTEs would expand the
      // chain into 2^6 copies of the edge build. k replays the engine's
      // data-derived max(1, floor(m/n)) with exact integer division.
      val peels = (1 to 6).map { r =>
        s"""a$r AS MATERIALIZED (SELECT und.u AS id FROM und
             JOIN a${r - 1} x ON und.u = x.id
             JOIN a${r - 1} y ON und.v = y.id
             GROUP BY und.u HAVING COUNT(*) >= (SELECT k FROM kk))"""
      }.mkString(",\n         ")
      s"""WITH ${edgesCte.replace("e AS (", "e AS MATERIALIZED (")},
         und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         kk AS MATERIALIZED (SELECT GREATEST(1, (SELECT COUNT(*) FROM e)
           // (SELECT COUNT(DISTINCT u) FROM und)) AS k),
         a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM und),
         $peels
         SELECT und.u AS node, COUNT(*) AS core_deg FROM und
           JOIN a6 x ON und.u = x.id
           JOIN a6 y ON und.v = y.id
         GROUP BY und.u ORDER BY node"""
    })
}
