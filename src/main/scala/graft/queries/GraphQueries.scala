package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** The reference's query surface (SURVEY.md §2.1 Q1–Q4) re-expressed
  * Spark-first over an edge list derived from the parquet testdata, so the
  * DuckDB oracle can recompute every result.
  *
  * Edge model mirrors the reference's `(id, successors)` rows
  * (`/root/reference/src/main/java/de/l3s/mapreduce/webgraph/io/WebGraphInputFormat.java:16`):
  * edges := orders(o_custkey -> o_orderkey), i.e. each customer node points
  * at its order nodes. Successor lists are strictly ascending and
  * duplicate-free, matching the BV format invariant
  * (`patched/HdfsBVGraph.java:172-195`).
  *
  * Scale notes: adjacency building is one hash-shuffle on src (unavoidable
  * — it IS the grouping); explosion back to edges is a narrow Generate, no
  * shuffle; degree distribution re-aggregates the already-shuffled
  * adjacency. GraphX handoff (README.md:37-48 of the reference) is covered
  * in tests; here everything stays DataFrame-native for oracle parity.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Edge list `(src, dst)` derived from orders. */
  def edges(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))

  /** Compress the orders-derived adjacency to a sharded BVGraph under the
    * JVM temp dir (write-once per SF dir) via the fully distributed DSv2
    * sink — range shuffle on id, one stream-encoded shard per task, no
    * data ever passes through the driver — and return the basename. */
  def bvFixture(s: SparkSession, d: String): String = {
    // key the /tmp basename on the sanitized SF-dir path, not a hashCode
    // (hashCodes collide across dirs, and math.abs(Int.MinValue) < 0) —
    // PLUS the source table's (mtime, size), like the jsonl/csv fixtures:
    // the driver regenerates /root/testdata between rounds, and a
    // path-only key would serve a stale graph against a fresh oracle.
    // Derived fixtures (_T/_S/_G transpose/symmetrize/subgraph) append
    // suffixes to this base, so they inherit the stamp.
    val src = java.nio.file.Paths.get(d, "orders.parquet")
    val stamp = s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}" +
      s"_${java.nio.file.Files.size(src)}"
    val key = s"${d}_$stamp".replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"${sys.props("java.io.tmpdir")}/graft_bv_$key"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(base + ".shards"))) {
      val e = edges(s, d).select(col("src").cast("int").as("src"),
        col("dst").cast("int").as("dst"))
      val n = e.agg(greatest(max(col("src")), max(col("dst")))).head().getInt(0) + 1
      // only ids WITH successors are written; the `nodes` option densifies
      // to [0, n) at commit via metadata-only empty shards — no dense
      // range join (at 100 TB that join would shuffle n rows just to
      // materialize degree-0 sinks the sink can pad for free)
      val adjacency = e.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("successors"))
        .select(col("src").as("id"), col("successors"))
        .withColumn("outdegree", size(col("successors")))
      adjacency.write.format("bvgraph").option("basename", base)
        .option("shards", 8).option("nodes", n).mode("overwrite").save()
    }
    base
  }

  /** >2³¹ global-id ("big") fixture: the same orders-derived adjacency
    * shifted past 2³³, compressed through the sharded sink with BIGINT
    * ids (`idwidth=long`). No `nodes` pad — a big graph is sparse by
    * construction (padding [0, 12e9) would be ~1.4 GB of metadata for
    * nothing); shard manifests address the Long id space directly. */
  def bvBigFixture(s: SparkSession, d: String): String = {
    val src = java.nio.file.Paths.get(d, "orders.parquet")
    val stamp = s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}" +
      s"_${java.nio.file.Files.size(src)}"
    val key = s"${d}_$stamp".replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"${sys.props("java.io.tmpdir")}/graft_bvbig_$key"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(base + ".shards"))) {
      val e = edges(s, d).select(
        (col("src") + lit(BIG_BASE)).cast("long").as("src"),
        (col("dst") + lit(BIG_BASE)).cast("long").as("dst"))
      e.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("successors"))
        .select(col("src").as("id"), col("successors"))
        .withColumn("outdegree", size(col("successors")))
        .write.format("bvgraph").option("basename", base)
        .option("idwidth", "long").option("shards", 8)
        .mode("overwrite").save()
    }
    base
  }

  /** 12e9 > 2³³: catches both 32-bit truncation and sign-bit wraps. */
  val BIG_BASE = 12_000_000_000L

  /** The advisor's exact per-bucket bit-cost model — the residual-only
    * stream (windowsize=0, minintervallength=0: outdegree γ + zigzag'd
    * first residual + gaps) priced under γ / δ / ζ₃ with pure integer
    * arithmetic (bit lengths via bin(); no logs, no floats). The formulas
    * are BitIO.writeGamma/Delta/Zeta's cost functions, asserted
    * bit-for-bit against the real encoder in BvAdvisorSpec, and the
    * SAME frame backs both the `bv_coding_advisor` query and the 10M-node
    * rehearsal's measured advisor section. Input must be
    * (id: long, odeg: long, succ: array<int>) covering the dense node
    * space; output one row per `bucketSize`-id bucket with totals and the
    * argmin coding. */
  private[graft] def codingCostFrame(g: DataFrame, bucketSize: Long): DataFrame = {
    def blen(v: Column): Column = length(bin(v)).cast("long")
    def gBits(x: Column): Column = lit(2L) * blen(x + 1L) - lit(1L)
    def dBits(x: Column): Column =
      blen(x + 1L) - lit(1L) + lit(2L) * blen(blen(x + 1L)) - lit(1L)
    def zBits(x: Column): Column = {
      val n = blen(x + 1L)
      val h = floor((n - lit(1L)) / lit(3.0)).cast("long")
      h + lit(1L) + h * lit(3L) + lit(2L) +
        when(n > h * lit(3L) + lit(1L), lit(1L)).otherwise(lit(0L))
    }
    val vals = g.filter(col("odeg") > 0)
      .select(expr(s"id div $bucketSize").as("bkt"),
        explode(transform(sequence(lit(1), size(col("succ"))), i => {
          val cur = element_at(col("succ"), i).cast("long")
          val prev = element_at(col("succ"), i - lit(1)).cast("long")
          val diff = cur - col("id")
          when(i === 1,
            when(diff >= 0, diff * 2).otherwise(-diff * 2 - 1))
            .otherwise(cur - prev - 1)
        })).as("v"))
    val res = vals.groupBy("bkt").agg(
      count(lit(1)).as("n_links"),
      sum(gBits(col("v"))).as("rg"),
      sum(dBits(col("v"))).as("rd"),
      sum(zBits(col("v"))).as("rz"))
    g.select(expr(s"id div $bucketSize").as("bkt"), col("odeg"))
      .groupBy("bkt")
      .agg(count(lit(1)).as("n_nodes"), sum(gBits(col("odeg"))).as("odb"))
      .join(res, Seq("bkt"), "left")
      .select(col("bkt"), col("n_nodes"),
        coalesce(col("n_links"), lit(0L)).as("n_links"),
        (col("odb") + coalesce(col("rg"), lit(0L))).as("bits_gamma"),
        (col("odb") + coalesce(col("rd"), lit(0L))).as("bits_delta"),
        (col("odb") + coalesce(col("rz"), lit(0L))).as("bits_zeta3"))
      .withColumn("best",
        when(col("bits_gamma") <= col("bits_delta") &&
          col("bits_gamma") <= col("bits_zeta3"), lit("gamma"))
          .when(col("bits_delta") <= col("bits_zeta3"), lit("delta"))
          .otherwise(lit("zeta3")))
  }

  /** Dense rank of every node under (outdegree DESC, id ASC) WITHOUT a
    * global window: bucket by (outdeg, id DIV 4096), count per bucket,
    * cumsum the counts on the metadata-sized bucket relation (the only
    * single-partition step — |degrees| × |id ranges| rows), then
    * row_number only WITHIN each bounded bucket. The seq_pack two-phase
    * cumsum shape applied to rank computation: no stage drags the node
    * table into one task even when one degree class holds most of the
    * graph. Returns (old_id, new_id). `private[graft]` so the plan gate
    * can assert the window shapes on the build itself. */
  private[graft] def degreeOrderPerm(g: DataFrame): DataFrame =
    keyOrderPerm(g.select(col("id"),
      (-col("outdegree").cast("long")).as("okey")))

  /** The generic two-phase rank behind every data-derived ordering: dense
    * rank of (id) under (okey ASC, id ASC) from an (id, okey) frame.
    * Bucket by (okey, id DIV 4096), count per bucket, cumsum the counts on
    * the metadata-sized bucket relation (the only single-partition step),
    * then row_number only WITHIN each bounded bucket. Shared by
    * [[degreeOrderPerm]] (okey = −outdeg) and bv_permute_lpa
    * (okey = cluster label).
    *
    * SCALE ASSUMPTION: the cumsum relation holds |distinct (okey, idb)|
    * rows — bounded by ~n/4096 only while okey cardinality ≪ n. Degrees
    * satisfy this structurally (|distinct degrees| = O(√m)). LPA labels
    * usually do (labels = communities), but a weakly-clustered graph can
    * emit near-unique labels and drag ~n bucket rows into the one-task
    * window — if an okey family approaches key-per-node, use the
    * sort-based rank instead (orderBy + zipWithIndex, bv_subgraph's
    * shape): range-partitioned, no single-task stage at any cardinality. */
  private[graft] def keyOrderPerm(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = g.select(col("id"), col("okey"))
      .withColumn("idb", expr("id div 4096"))
    val counts = bucketed.groupBy(col("okey"), col("idb"))
      .agg(count(lit(1)).as("c"))
    val wOff = Window.orderBy(col("okey"), col("idb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
    val wIn = Window.partitionBy(col("okey"), col("idb")).orderBy(col("id"))
    bucketed
      .join(offs.select(col("okey"), col("idb"), col("off")), Seq("okey", "idb"))
      .withColumn("new_id", col("off") + row_number().over(wIn) - 1)
      .select(col("id").as("old_id"), col("new_id"))
  }

  /** Two-round deterministic min-label LPA over the graph's symmetric
    * closure — the cheap clustering that stands in for LLP as an ordering
    * source: l₀ = id, each round l(v) ← min over the CLOSED neighborhood.
    * Returns (id, label) for the full dense node space (isolated nodes
    * keep their own id). Same per-round shape as graph_lpa: one
    * edge-partitioned join + a partial-aggregated min per round. */
  private[graft] def lpaLabels(g: DataFrame): DataFrame = {
    val e = g.select(col("id").as("x"), explode(col("successors")).as("y"))
    val sym = e.unionByName(e.select(col("y").as("x"), col("x").as("y")))
    val nodes = g.select(col("id"))
    val nm1 = sym.groupBy(col("x")).agg(min(col("y")).as("mn"))
    val l1 = nodes.join(nm1.withColumnRenamed("x", "id"), Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mn"), col("id"))).as("l"))
    val nm2 = sym.join(l1.select(col("id").as("y"), col("l")), "y")
      .groupBy(col("x")).agg(min(col("l")).as("mn"))
    l1.join(nm2.withColumnRenamed("x", "id"), Seq("id"), "left")
      .select(col("id"),
        least(col("l"), coalesce(col("mn"), col("l"))).as("label"))
  }

  /** The bv_union merge frame: base snapshot (BV decode) ∪ delta batch
    * (lineitem's order→part links), deduped on (src, dst). `private[graft]`
    * so the plan gate can assert the WRITE pipeline's shape (the read-back
    * side of the query is just a scan once the fixture exists). */
  private[graft] def unionEdges(s: SparkSession, d: String): DataFrame = {
    val base = bvFixture(s, d)
    val g = s.read.format("bvgraph").option("basename", base).load()
    val e1 = g.select(col("id").cast("int").as("src"),
      explode(col("successors")).as("dst"))
    val e2 = lineitem(s, d).select(col("l_orderkey").cast("int").as("src"),
      col("l_partkey").cast("int").as("dst"))
    e1.unionByName(e2).distinct()
  }

  val queries: Map[String, Q] = Map(
    // -- Q1-equivalent: adjacency rows (id, successors). Successors surface
    //    as a comma-joined ascending string so the hash compare is
    //    engine-neutral (array<->list representations differ across engines).
    "adjacency_list" -> ((s, d) => {
      edges(s, d)
        .groupBy(col("src"))
        .agg(
          array_join(transform(array_sort(collect_list(col("dst"))),
            x => x.cast("string")), ",").as("successors"),
          count(lit(1)).as("outdegree"))
    }),

    // -- Q2+Q3-equivalent: adjacency -> explode -> count == edge count;
    //    also node counts (the README's numVertices/numEdges pair).
    "edge_count" -> ((s, d) => {
      val adj = edges(s, d)
        .groupBy(col("src")).agg(collect_list(col("dst")).as("successors"))
      adj.select(explode(col("successors")).as("dst"), col("src"))
        .agg(
          count(lit(1)).as("m_edges"),
          countDistinct(col("src")).as("n_src"),
          countDistinct(col("dst")).as("n_dst"))
    }),

    // -- degree distribution: histogram of outdegrees
    "outdegree_dist" -> ((s, d) => {
      edges(s, d)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    }),

    // -- BV sink + DSv2 source end-to-end: derive adjacency from orders,
    //    compress it through the distributed sharded sink, scan it back
    //    with spark.read.format("bvgraph"), explode to edges. The oracle
    //    is the original orders table — so the distributed encoder AND the
    //    splittable decoder are both value-gated by DuckDB.
    "bv_roundtrip" -> ((s, d) => {
      val base = bvFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- degree-only BV scan: projects (id, outdegree), which prunes to
    //    the random-access outdegree fast path — one γ decode per node,
    //    successor data never touched (the reference's D3,
    //    HdfsBVGraph.java:69-91). All nodes appear, including degree-0
    //    sinks.
    "bv_degrees" -> ((s, d) => {
      val base = bvFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .select(col("id").cast("long").as("id"),
          col("outdegree").cast("long").as("outdeg"))
    }),

    // -- id-range predicate pushdown THROUGH the DSv2 scan: the source
    //    consumes both comparisons on `id` (clamped node ranges, no
    //    post-scan Filter), so skipped nodes cost ZERO decode I/O — the
    //    offsets index makes any id range directly addressable — and
    //    every slice plans the same Project over the scan, whose generated
    //    code Spark compiles once. At 100 TB this is the difference
    //    between decoding the whole graph and seeking straight to the
    //    queried slice. Plan shape gated in PlanQualitySpec ("id in
    //    [lo,hi)" in the scan description) and BvPushdownSpec (no Filter).
    "bv_id_slice" -> ((s, d) => {
      val base = bvFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .filter(col("id") >= 100 && col("id") < 600)
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("dd"))
        .select(col("src"), col("dd").cast("long").as("dst"))
    }),

    // -- >2^31-node ("big" WebGraph) mode end-to-end: the orders adjacency
    //    shifted past 2^33 so EVERY global id overflows Int, compressed
    //    through the sharded sink with BIGINT ids, scanned back through
    //    the Long decode kernel, exploded to edges. The reference hard-
    //    rejects such graphs (patched/HdfsBVGraph.java:362-364); upstream
    //    forks a whole it.unimi.dsi.big.webgraph hierarchy. Here the
    //    sharded layout already addresses a Long id space, so big mode
    //    costs one manifest line + a wide kernel — the last 100 TB scale
    //    ceiling (a full web crawl exceeds 2^31 URLs).
    "bv_big" -> ((s, d) => {
      val base = bvBigFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .select(col("id").as("src"), explode(col("successors")).as("dst"))
    }),

    // -- LIMIT pushdown through the DSv2 scan: `.limit(k)` reaches the
    //    source (SupportsPushDownLimit) and plans a k-node PREFIX scan —
    //    one partition, zero decode I/O past the k-th record (offsets
    //    make the prefix directly addressable). Deterministic output:
    //    the scan's partitions are id-ordered, so the first k node rows
    //    are exactly ids [0, k). Plan-gated in BvSourceSpec.
    "bv_limit" -> ((s, d) => {
      val base = bvFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .limit(500)
        .select(col("id").cast("long").as("id"),
          col("outdegree").cast("long").as("outdeg"))
    }),

    // -- BV source composed with the relational surface: the degree-only
    //    fast path (one γ decode per node, successors never touched)
    //    feeds a broadcast dimension join — per-nation order counts
    //    computed from the COMPRESSED graph plus the customer dim. This
    //    is the integration shape a webgraph warehouse runs daily:
    //    graph-side metadata scan (no adjacency I/O), dim broadcast, one
    //    partial-aggregated rollup. The oracle recomputes from the raw
    //    orders table, so the whole encode→decode→join→agg chain is
    //    value-gated.
    "bv_enrich_join" -> ((s, d) => {
      val base = bvFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .filter(col("outdegree") > 0) // custkey nodes; orderkey ids are sinks
        .select(col("id").cast("long").as("custkey"),
          col("outdegree").cast("long").as("n_orders"))
        .join(broadcast(customer(s, d).select(
          col("c_custkey").as("custkey"), col("c_nationkey"))), "custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"), sum(col("n_orders")).as("n_orders"))
        .orderBy("c_nationkey")
    }),

    // -- graph transposition THROUGH the engine's own sink: scan the BV
    //    fixture, swap edge endpoints, re-compress the reversed adjacency
    //    as a new sharded BVGraph (range shuffle + stream-encode), scan
    //    it back. The WebGraph ecosystem's standard `transpose` job,
    //    expressed as read -> explode -> swap -> sink -> read; the oracle
    //    is the swapped edge list, so BOTH directions of the engine's
    //    codec and the distributed sink are value-gated in one query.
    //    At 100 TB this is exactly one range shuffle on the new source
    //    id (the sort the BV format needs anyway) — same cost shape as
    //    the original compression job.
    "bv_transpose" -> ((s, d) => {
      val base = bvFixture(s, d)
      val tbase = base + "_T"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tbase + ".shards"))) {
        val g = s.read.format("bvgraph").option("basename", base).load()
        val n = g.agg(max(col("id"))).head().getInt(0) + 1
        g.select(col("id"), explode(col("successors")).as("dst"))
          .groupBy(col("dst"))
          .agg(sort_array(collect_list(col("id"))).as("successors"))
          .select(col("dst").as("id"), col("successors"))
          .withColumn("outdegree", size(col("successors")))
          .write.format("bvgraph").option("basename", tbase)
          .option("shards", 8).option("nodes", n).mode("overwrite").save()
      }
      s.read.format("bvgraph").option("basename", tbase).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- induced subgraph + dense renumbering (WebGraph's Transform.map
    //    job): keep nodes with id % 3 == 0, relabel them densely by rank,
    //    keep edges whose BOTH endpoints survive, re-compress through the
    //    sink. The relabel is sort + zipWithIndex — the scalable dense
    //    rank (a global row_number window would single-partition the
    //    sort); edges then equi-join the rank table on each endpoint
    //    (two hash shuffles). The oracle exploits that the fixture's node
    //    space is dense, so rank(id) == id / 3 exactly.
    "bv_subgraph" -> ((s, d) => {
      val base = bvFixture(s, d)
      val gbase = base + "_G"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(gbase + ".shards"))) {
        val g = s.read.format("bvgraph").option("basename", base).load()
        val kept = g.select(col("id")).filter(col("id") % 3 === 0)
        import s.implicits._
        val ranks = kept.orderBy("id").rdd.map(_.getInt(0))
          .zipWithIndex().toDF("old_id", "new_id")
        val nNew = ranks.count().toInt
        val e = g.select(col("id").as("src"), explode(col("successors")).as("dst"))
          .filter(col("src") % 3 === 0 && col("dst") % 3 === 0)
        e.join(ranks.select(col("old_id").as("src"), col("new_id").as("nsrc")), "src")
          .join(ranks.select(col("old_id").as("dst"), col("new_id").as("ndst")), "dst")
          .groupBy(col("nsrc"))
          .agg(sort_array(collect_list(col("ndst").cast("int"))).as("successors"))
          .select(col("nsrc").cast("int").as("id"), col("successors"))
          .withColumn("outdegree", size(col("successors")))
          .write.format("bvgraph").option("basename", gbase)
          .option("shards", 4).option("nodes", nNew).mode("overwrite").save()
      }
      s.read.format("bvgraph").option("basename", gbase).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- symmetrization (the WebGraph-standard undirected closure: every
    //    published graph ships a `-sym` variant): edges ∪ swapped edges,
    //    dedup, re-compress through the sink, scan back. Self-loops from
    //    ids that are both endpoints survive dedup; the oracle is the
    //    UNION (set semantics) of both edge directions. Cost shape at
    //    100 TB: one distinct-shuffle + the sink's range shuffle.
    "bv_symmetrize" -> ((s, d) => {
      val base = bvFixture(s, d)
      val sbase = base + "_S"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sbase + ".shards"))) {
        val g = s.read.format("bvgraph").option("basename", base).load()
        val n = g.agg(max(col("id"))).head().getInt(0) + 1
        val e = g.select(col("id").as("src"), explode(col("successors")).as("dst"))
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("successors"))
          .select(col("src").as("id"), col("successors"))
          .withColumn("outdegree", size(col("successors")))
          .write.format("bvgraph").option("basename", sbase)
          .option("shards", 8).option("nodes", n).mode("overwrite").save()
      }
      s.read.format("bvgraph").option("basename", sbase).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- degree-ordered renumbering (WebGraph's Transform.map with a
    //    DATA-DERIVED permutation — the compression-ordering workload: BV
    //    gap coding rewards orderings that cluster high-degree nodes, and
    //    degree order is the classic cheap baseline before LLP). The dense
    //    global rank over (outdeg DESC, id) is computed WITHOUT a global
    //    window: bucket nodes by (outdeg, id DIV 4096), count per bucket,
    //    cumsum the counts on the metadata-sized bucket relation, then
    //    row_number only WITHIN each bounded bucket — the seq_pack
    //    two-phase shape, so no stage drags the node table into one task
    //    even when one degree class holds most of the graph. Endpoint
    //    mapping is two equi-joins on the node-sized perm table
    //    (co-partitioned at 100 TB); the permuted adjacency re-compresses
    //    through the distributed sink and is scanned back — encoder AND
    //    decoder re-gated on a non-identity ordering.
    "bv_permute" -> ((s, d) => {
      val base = bvFixture(s, d)
      val pbase = base + "_P"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pbase + ".shards"))) {
        val g = s.read.format("bvgraph").option("basename", base).load()
        val n = g.agg(max(col("id"))).head().getInt(0) + 1
        val perm = degreeOrderPerm(g)
        val e = g.select(col("id").as("src"), explode(col("successors")).as("dst"))
        e.join(perm.select(col("old_id").as("src"), col("new_id").as("nsrc")), "src")
          .join(perm.select(col("old_id").as("dst"), col("new_id").as("ndst")), "dst")
          .groupBy(col("nsrc"))
          .agg(sort_array(collect_list(col("ndst").cast("int"))).as("successors"))
          .select(col("nsrc").cast("int").as("id"), col("successors"))
          .withColumn("outdegree", size(col("successors")))
          .write.format("bvgraph").option("basename", pbase)
          .option("shards", 8).option("nodes", n).mode("overwrite").save()
      }
      s.read.format("bvgraph").option("basename", pbase).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- CLUSTER-ordered renumbering (the LLP-shaped ordering workload —
    //    Boldi-Rosa-Santini-Vigna 2011: BV compression pays for orderings
    //    that place same-cluster nodes consecutively; LPA labels are the
    //    cheap stand-in for full layered label propagation). Two rounds of
    //    deterministic min-label LPA over the graph's symmetric closure
    //    give each node a cluster label; the permutation is the dense rank
    //    under (label, id) via the SAME two-phase bucketed cumsum as
    //    bv_permute (no global window), and the relabeled graph
    //    re-compresses through the distributed sink. On this fixture the
    //    clusters are exactly the customer stars, so the ordering makes
    //    every successor list CONSECUTIVE — the best-case gap stream
    //    (interval coding eats it) and the measurable point of
    //    cluster-ordering. Scale shape: two LPA rounds (edge join +
    //    partial min each), the rank's bucket cumsum, two node-sized
    //    endpoint joins, one sink range shuffle.
    "bv_permute_lpa" -> ((s, d) => {
      val base = bvFixture(s, d)
      val pbase = base + "_PL"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pbase + ".shards"))) {
        val g = s.read.format("bvgraph").option("basename", base).load()
        val n = g.agg(max(col("id"))).head().getInt(0) + 1
        val perm = keyOrderPerm(lpaLabels(g)
          .select(col("id"), col("label").cast("long").as("okey")))
        val e = g.select(col("id").as("src"), explode(col("successors")).as("dst"))
        e.join(perm.select(col("old_id").as("src"), col("new_id").as("nsrc")), "src")
          .join(perm.select(col("old_id").as("dst"), col("new_id").as("ndst")), "dst")
          .groupBy(col("nsrc"))
          .agg(sort_array(collect_list(col("ndst").cast("int"))).as("successors"))
          .select(col("nsrc").cast("int").as("id"), col("successors"))
          .withColumn("outdegree", size(col("successors")))
          .write.format("bvgraph").option("basename", pbase)
          .option("shards", 8).option("nodes", n).mode("overwrite").save()
      }
      s.read.format("bvgraph").option("basename", pbase).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- graph union THROUGH the sink (WebGraph's Transform.union job —
    //    the incremental-crawl merge: yesterday's compressed snapshot ∪
    //    today's delta batch re-compressed as one graph). Delta edges come
    //    from a second relation (lineitem's order→part links) over the
    //    same id space; the merged edge set is deduped (an arc present in
    //    both inputs must appear once — BV adjacency is a set) and
    //    re-compressed through the distributed sharded sink, then scanned
    //    back. Cost shape at 100 TB: the base side is a narrow BV decode,
    //    the union is one distinct-shuffle on (src, dst), plus the sink's
    //    range shuffle — same as the original compression job; nothing is
    //    ever collected.
    "bv_union" -> ((s, d) => {
      val base = bvFixture(s, d)
      val ubase = base + "_U"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(ubase + ".shards"))) {
        val e = unionEdges(s, d)
        val n = e.agg(greatest(max(col("src")), max(col("dst"))))
          .head().getInt(0) + 1
        e.groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("successors"))
          .select(col("src").as("id"), col("successors"))
          .withColumn("outdegree", size(col("successors")))
          .write.format("bvgraph").option("basename", ubase)
          .option("shards", 8).option("nodes", n).mode("overwrite").save()
      }
      s.read.format("bvgraph").option("basename", ubase).load()
        .select(col("id").cast("long").as("src"),
          explode(col("successors")).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
    }),

    // -- snapshot DIFF between two compressed graphs (the crawl-delta
    //    report: which arcs appeared / disappeared between yesterday's and
    //    today's graph). Two derived snapshots are written through the
    //    sink (A drops dst ≡ 0 mod 7 arcs, B drops dst ≡ 0 mod 5 — both
    //    real sharded BVGraphs), then diffed with one full-outer join on
    //    the exploded edge sets: A-only arcs are `removed`, B-only
    //    `added`. Scale shape: two narrow BV decodes + ONE hash shuffle
    //    on (src, dst) for the join — the diff never materializes either
    //    adjacency beyond its own decode, and the output is delta-sized.
    "bv_diff" -> ((s, d) => {
      val base = bvFixture(s, d)
      def snap(suffix: String, drop: Int): String = {
        val sbase = base + suffix
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sbase + ".shards"))) {
          val g = s.read.format("bvgraph").option("basename", base).load()
          val n = g.agg(max(col("id"))).head().getInt(0) + 1
          g.select(col("id"), explode(col("successors")).as("dst"))
            .filter(col("dst") % drop =!= 0)
            .groupBy(col("id"))
            .agg(sort_array(collect_list(col("dst"))).as("successors"))
            .withColumn("outdegree", size(col("successors")))
            .write.format("bvgraph").option("basename", sbase)
            .option("shards", 4).option("nodes", n).mode("overwrite").save()
        }
        sbase
      }
      def edgesOf(b: String): DataFrame =
        s.read.format("bvgraph").option("basename", b).load()
          .select(col("id").cast("long").as("src"),
            explode(col("successors")).as("dd"))
          .select(col("src"), col("dd").cast("long").as("dst"))
      val a = edgesOf(snap("_DA", 7)).withColumn("in_a", lit(1))
      val b = edgesOf(snap("_DB", 5)).withColumn("in_b", lit(1))
      a.join(b, Seq("src", "dst"), "full_outer")
        .filter(col("in_a").isNull || col("in_b").isNull)
        .select(col("src"), col("dst"),
          when(col("in_a").isNull, lit("added")).otherwise(lit("removed"))
            .as("change"))
    }),

    // -- integrity check / fsck (the storage-ops workload: validate a
    //    compressed graph against its format invariants after any
    //    write/transform, without trusting the writer): per 2048-id
    //    bucket, node and arc totals plus violation counts for the three
    //    decode invariants — successors strictly ascending and
    //    duplicate-free, outdegree == |successors|, successor ids inside
    //    [0, n). The oracle recomputes the totals from the SOURCE table
    //    and pins every violation count at zero, so a decoder or encoder
    //    defect anywhere in the pipeline surfaces as a hash mismatch —
    //    not just a spec failure. One narrow decode pass + a bucket-keyed
    //    partial agg; the report is manifest-sized at any graph size.
    "bv_check" -> ((s, d) => {
      val base = bvFixture(s, d)
      val g = s.read.format("bvgraph").option("basename", base).load()
      val n = g.agg(max(col("id"))).head().getInt(0) + 1
      g.select(expr("id div 2048").as("bkt"),
          col("outdegree").cast("long").as("odeg"),
          col("successors").as("succ"))
        .withColumn("unsorted",
          when(col("succ") === array_sort(array_distinct(col("succ"))), 0L)
            .otherwise(1L))
        .withColumn("deg_bad",
          when(col("odeg") === size(col("succ")).cast("long"), 0L).otherwise(1L))
        .withColumn("range_bad",
          when(size(filter(col("succ"), x => x < 0 || x >= lit(n))) > 0, 1L)
            .otherwise(0L))
        .groupBy("bkt")
        .agg(count(lit(1)).as("n_nodes"), sum(col("odeg")).as("n_arcs"),
          sum(col("unsorted")).as("n_unsorted"),
          sum(col("deg_bad")).as("n_degree_mismatch"),
          sum(col("range_bad")).as("n_out_of_range"))
        .orderBy("bkt")
    }),

    // -- codec cost advisor (the layout-planning workload: choose each
    //    shard's residual coding from ONE metadata-pass cost model instead
    //    of trial-encoding the shard three times). For every 2048-id
    //    bucket: the EXACT bit cost of the residual-only stream
    //    (windowsize=0, minintervallength=0 → outdegree γ + zigzag'd
    //    first residual + gap stream) under γ / δ / ζ₃, plus the argmin
    //    coding. All integer arithmetic — bit lengths via bin(), no logs,
    //    no floats; the formulas ARE BitIO.writeGamma/Delta/Zeta's cost
    //    (asserted bit-for-bit against the real encoder output in
    //    BvAdvisorSpec). Scale shape: gap transform inside the scan stage
    //    (narrow), one partial-agg shuffle on the bucket key, output is
    //    manifest-sized — per-shard coding choice stays free at 100 TB.
    "bv_coding_advisor" -> ((s, d) => {
      val base = bvFixture(s, d)
      val g = s.read.format("bvgraph").option("basename", base).load()
        .select(col("id").cast("long").as("id"),
          col("outdegree").cast("long").as("odeg"),
          col("successors").as("succ"))
      codingCostFrame(g, bucketSize = 2048L).orderBy("bkt")
    }),

    // -- connected components via GraphX (the reference README's GraphX
    //    handoff, /root/reference/README.md:37-48, driving a real graph
    //    algorithm end-to-end). Node space: customers as-is, orders
    //    shifted past 1e6 so the two id ranges are provably disjoint —
    //    every component is then a customer star whose min-id label is
    //    the customer key, which is what makes the result exactly
    //    SQL-expressible for the oracle (GraphX still has to DISCOVER
    //    that structure; arbitrary-topology correctness is union-find
    //    cross-checked in GraphXInteropSpec). Pregel iterations are
    //    join-shuffles on the vertex partitioning; iteration count is
    //    graph diameter (2 here, ~log n in practice at 100 TB).
    "graph_cc" -> ((s, d) => {
      import org.apache.spark.graphx._
      import s.implicits._
      val off = 1000000L
      val edgeRdd = orders(s, d)
        .select(col("o_custkey").cast("long"), col("o_orderkey").cast("long"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1) + off, ()))
        // fat partitions: superstep task overhead >> message work here
        .coalesce(math.max(2, s.sparkContext.defaultParallelism / 4))
      val g0 = Graph.fromEdges(edgeRdd, ())
      val res = g0.connectedComponents()
      // release the GraphX-internal caches with this query's pins (the
      // bfs query does the same; without it every cc run leaks its
      // input+result graph into storage until the next hard sweep)
      graft.Caches.defer(s) {
        res.unpersistVertices(blocking = false)
        res.edges.unpersist(blocking = false)
        g0.unpersistVertices(blocking = false)
        g0.edges.unpersist(blocking = false)
      }
      res.vertices.map { case (id, comp) => (id, comp) }
        .toDF("id", "component")
    }),

    // -- host-graph contraction (the WebGraph-ecosystem standard job: a
    //    page-level web graph collapsed to its host/domain level, cf. the
    //    reference's host-graph workloads): scan the BV fixture through
    //    the DSv2 source, contract both endpoints id -> id DIV 64 (the
    //    fixture's synthetic "host" bucketing — on a real crawl this is
    //    the node->host map), and aggregate parallel edges into weights.
    //    Scale shape: the contraction is a narrow projection inside the
    //    scan stage (no pre-shuffle), then ONE hash shuffle on the
    //    (src_host, dst_host) pair with partial map-side counting — the
    //    contracted graph is orders of magnitude smaller than the input,
    //    so the exchange carries host pairs, never page edges.
    "host_graph" -> ((s, d) => {
      val base = bvFixture(s, d)
      s.read.format("bvgraph").option("basename", base).load()
        .select(expr("CAST(id AS BIGINT) div 64").as("src_host"),
          explode(col("successors")).as("dd"))
        .select(col("src_host"), expr("CAST(dd AS BIGINT) div 64").as("dst_host"))
        .groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("weight"))
        .orderBy("src_host", "dst_host")
    }),

    // -- top-k by indegree (TakeOrderedAndProject — scales to 100 TB where
    //    a global sort would not)
    "top_indegree" -> ((s, d) => {
      val e1 = orders(s, d).select(col("o_custkey").as("src"), col("o_orderkey").as("mid"))
      val e2 = lineitem(s, d).select(col("l_orderkey").as("mid"), col("l_partkey").as("dst"))
      e1.join(e2, "mid")
        .groupBy(col("dst"))
        .agg(count(lit(1)).as("indeg"))
        .orderBy(col("indeg").desc, col("dst"))
        .limit(10)
    }))

  val oracleSql: Map[String, String] = Map(
    "bv_enrich_join" ->
      """WITH a AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
         SELECT c_nationkey, COUNT(*) AS n_customers,
           CAST(SUM(n) AS BIGINT) AS n_orders
         FROM a JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY 1""",
    "bv_roundtrip" ->
      """SELECT o_custkey AS src, o_orderkey AS dst
         FROM orders ORDER BY src, dst""",
    "bv_degrees" ->
      """WITH ids AS (SELECT unnest(generate_series(0,
             (SELECT greatest(max(o_custkey), max(o_orderkey)) FROM orders))) AS i)
         SELECT ids.i AS id, COALESCE(c.cnt, 0) AS outdeg
         FROM ids
         LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt
                    FROM orders GROUP BY o_custkey) c ON ids.i = c.o_custkey
         ORDER BY id""",
    "bv_id_slice" ->
      """SELECT o_custkey AS src, o_orderkey AS dst FROM orders
         WHERE o_custkey >= 100 AND o_custkey < 600
         ORDER BY src, dst""",
    "bv_big" ->
      """SELECT o_custkey + 12000000000 AS src,
         o_orderkey + 12000000000 AS dst FROM orders""",
    "bv_limit" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 499)) AS i)
         SELECT CAST(ids.i AS BIGINT) AS id,
           CAST(COALESCE(c.cnt, 0) AS BIGINT) AS outdeg
         FROM ids
         LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt
                    FROM orders GROUP BY o_custkey) c ON ids.i = c.o_custkey""",
    "adjacency_list" ->
      """SELECT o_custkey AS src,
         STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS successors,
         COUNT(*) AS outdegree
         FROM orders GROUP BY o_custkey ORDER BY src""",
    "edge_count" ->
      """SELECT COUNT(*) AS m_edges, COUNT(DISTINCT o_custkey) AS n_src,
         COUNT(DISTINCT o_orderkey) AS n_dst FROM orders""",
    "outdegree_dist" ->
      """SELECT deg, COUNT(*) AS n_nodes FROM
         (SELECT o_custkey, COUNT(*) AS deg FROM orders GROUP BY o_custkey) t
         GROUP BY deg ORDER BY deg""",
    "host_graph" ->
      """SELECT o_custkey // 64 AS src_host, o_orderkey // 64 AS dst_host,
         COUNT(*) AS weight
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    "top_indegree" ->
      """SELECT l_partkey AS dst, COUNT(*) AS indeg
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY l_partkey ORDER BY indeg DESC, dst LIMIT 10""",
    "graph_cc" ->
      """SELECT o_custkey AS id, o_custkey AS component
         FROM orders GROUP BY o_custkey
         UNION ALL
         SELECT o_orderkey + 1000000 AS id, o_custkey AS component FROM orders
         ORDER BY id""",
    "bv_transpose" ->
      """SELECT o_orderkey AS src, o_custkey AS dst
         FROM orders ORDER BY src, dst""",
    "bv_diff" ->
      """WITH e AS (SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
         a AS (SELECT src, dst FROM e WHERE dst % 7 <> 0),
         b AS (SELECT src, dst FROM e WHERE dst % 5 <> 0)
         SELECT COALESCE(a.src, b.src) AS src,
           COALESCE(a.dst, b.dst) AS dst,
           CASE WHEN a.src IS NULL THEN 'added' ELSE 'removed' END AS change
         FROM a FULL OUTER JOIN b ON a.src = b.src AND a.dst = b.dst
         WHERE a.src IS NULL OR b.src IS NULL
         ORDER BY src, dst""",
    "bv_union" ->
      """SELECT src, dst FROM (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders
           UNION
           SELECT l_orderkey AS src, l_partkey AS dst FROM lineitem)
         ORDER BY src, dst""",
    "bv_symmetrize" ->
      """SELECT src, dst FROM (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders
           UNION
           SELECT o_orderkey AS src, o_custkey AS dst FROM orders)
         ORDER BY src, dst""",
    "bv_subgraph" ->
      """SELECT o_custkey // 3 AS src, o_orderkey // 3 AS dst
         FROM orders
         WHERE o_custkey % 3 = 0 AND o_orderkey % 3 = 0
         ORDER BY src, dst""",
    "bv_permute" ->
      """WITH e AS MATERIALIZED (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
         nodes AS (SELECT unnest(generate_series(0,
             (SELECT greatest(max(src), max(dst)) FROM e))) AS id),
         deg AS (SELECT nodes.id, COALESCE(c.c, 0) AS odeg
           FROM nodes LEFT JOIN (
             SELECT src, COUNT(*) AS c FROM e GROUP BY src) c
             ON c.src = nodes.id),
         perm AS (SELECT id,
             ROW_NUMBER() OVER (ORDER BY odeg DESC, id) - 1 AS new_id
           FROM deg)
         SELECT pa.new_id AS src, pb.new_id AS dst
         FROM e JOIN perm pa ON pa.id = e.src
                JOIN perm pb ON pb.id = e.dst
         ORDER BY src, dst""",
    "bv_permute_lpa" ->
      """WITH e AS MATERIALIZED (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
         nodes AS (SELECT unnest(generate_series(0,
             (SELECT greatest(max(src), max(dst)) FROM e))) AS id),
         sym AS (SELECT src AS x, dst AS y FROM e
                 UNION ALL SELECT dst, src FROM e),
         l1 AS (SELECT n.id,
             LEAST(n.id, COALESCE(m.mn, n.id)) AS l
           FROM nodes n LEFT JOIN (
             SELECT x, MIN(y) AS mn FROM sym GROUP BY x) m ON m.x = n.id),
         l2 AS (SELECT n.id,
             LEAST(a.l, COALESCE(m.mn, a.l)) AS label
           FROM nodes n JOIN l1 a ON a.id = n.id
           LEFT JOIN (SELECT s.x, MIN(b.l) AS mn
             FROM sym s JOIN l1 b ON b.id = s.y GROUP BY s.x) m
             ON m.x = n.id),
         perm AS (SELECT id,
             ROW_NUMBER() OVER (ORDER BY label, id) - 1 AS new_id
           FROM l2)
         SELECT pa.new_id AS src, pb.new_id AS dst
         FROM e JOIN perm pa ON pa.id = e.src
                JOIN perm pb ON pb.id = e.dst
         ORDER BY src, dst""",
    "bv_check" ->
      """WITH e AS MATERIALIZED (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
         nodes AS (SELECT unnest(generate_series(0,
             (SELECT greatest(max(src), max(dst)) FROM e))) AS id),
         deg AS (SELECT nodes.id, COALESCE(c.c, 0) AS odeg
           FROM nodes LEFT JOIN (
             SELECT src, COUNT(*) AS c FROM e GROUP BY src) c
             ON c.src = nodes.id)
         SELECT id // 2048 AS bkt, COUNT(*) AS n_nodes,
           CAST(SUM(odeg) AS BIGINT) AS n_arcs,
           CAST(0 AS BIGINT) AS n_unsorted,
           CAST(0 AS BIGINT) AS n_degree_mismatch,
           CAST(0 AS BIGINT) AS n_out_of_range
         FROM deg GROUP BY 1 ORDER BY 1""",
    "bv_coding_advisor" ->
      """WITH e AS MATERIALIZED (
           SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
         nodes AS (SELECT unnest(generate_series(0,
             (SELECT greatest(max(src), max(dst)) FROM e))) AS id),
         adj AS (SELECT src AS id, list_sort(list(dst)) AS succ
           FROM e GROUP BY src),
         nd AS (SELECT nodes.id, COALESCE(len(a.succ), 0) AS odeg, a.succ
           FROM nodes LEFT JOIN adj a ON a.id = nodes.id),
         nb AS (SELECT id // 2048 AS bkt, COUNT(*) AS n_nodes,
             SUM(2 * length(bin(odeg + 1)) - 1) AS odb
           FROM nd GROUP BY 1),
         vals AS (SELECT id // 2048 AS bkt, unnest(list_transform(
             generate_series(1, len(succ)), i -> CASE WHEN i = 1 THEN
               (CASE WHEN succ[1] - id >= 0 THEN (succ[1] - id) * 2
                     ELSE (id - succ[1]) * 2 - 1 END)
               ELSE succ[i] - succ[i-1] - 1 END)) AS v
           FROM nd WHERE odeg > 0),
         c AS (SELECT bkt, COUNT(*) AS n_links,
             SUM(2 * length(bin(v + 1)) - 1) AS rg,
             SUM(length(bin(v + 1)) - 1
               + 2 * length(bin(length(bin(v + 1)))) - 1) AS rd,
             SUM((length(bin(v + 1)) - 1) // 3 + 1
               + ((length(bin(v + 1)) - 1) // 3) * 3 + 2
               + CASE WHEN length(bin(v + 1)) >
                   ((length(bin(v + 1)) - 1) // 3) * 3 + 1
                 THEN 1 ELSE 0 END) AS rz
           FROM vals GROUP BY 1)
         SELECT nb.bkt, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(c.n_links, 0) AS BIGINT) AS n_links,
           CAST(nb.odb + COALESCE(c.rg, 0) AS BIGINT) AS bits_gamma,
           CAST(nb.odb + COALESCE(c.rd, 0) AS BIGINT) AS bits_delta,
           CAST(nb.odb + COALESCE(c.rz, 0) AS BIGINT) AS bits_zeta3,
           CASE WHEN nb.odb + COALESCE(c.rg, 0) <= nb.odb + COALESCE(c.rd, 0)
                 AND nb.odb + COALESCE(c.rg, 0) <= nb.odb + COALESCE(c.rz, 0)
                THEN 'gamma'
                WHEN nb.odb + COALESCE(c.rd, 0) <= nb.odb + COALESCE(c.rz, 0)
                THEN 'delta' ELSE 'zeta3' END AS best
         FROM nb LEFT JOIN c ON c.bkt = nb.bkt ORDER BY nb.bkt""")
}
