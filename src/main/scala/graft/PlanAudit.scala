package graft

/** Physical-plan audit over the whole declared query surface: executes
  * every query at a small SF (so AQE settles to its final plan) and
  * records the plan shape — join strategies, exchange count, codegen
  * spans, top-k operator, and the two scale red flags (CartesianProduct /
  * BroadcastNestedLoopJoin) — into PLANS.md. The point is a standing,
  * regenerable answer to "is this the plan you'd want at 100 TB?" for
  * every operator, not just the ones PlanQualitySpec pins.
  *
  * Run: java -cp "target/scala-2.13/classes:<spark jars>" \
  *   graft.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    // 8 cpus, explicitly: the committed PLANS.md was generated at
    // local[8] with 8 shuffle partitions
    val spark = Graft.session(cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of every declared query\n\n")
    sb.append(s"Generated by `graft.PlanAudit` at `$sfDir` (AQE final plans after\n")
    sb.append("execution). Columns: join strategies present, exchange count,\n")
    sb.append("WholeStageCodegen span count, top-k operator, and red flags\n")
    sb.append("(CartesianProduct / BroadcastNestedLoopJoin — the two shapes that\n")
    sb.append("do not survive a 100x scale-up). `dedup_embed`'s inherent all-pairs\n")
    sb.append("compute runs as a block-partitioned equi-join, hence no flag.\n\n")
    sb.append("A BNLJ whose broadcast side is a HANDFUL of rows (the probe vectors\n")
    sb.append("in `sim_topk`/`sim_int8_topk`, the nlist centroids in `sim_ann_ivf`)\n")
    sb.append("is the intended plan — the corpus streams once past a tiny build\n")
    sb.append("side; those are annotated `bnlj-tiny-build` instead of flagged.\n")
    sb.append("Codegen = count of whole-stage spans (`*(n)`) in the final plan.\n\n")
    sb.append("Perf note (`graph_cc`, round-5 audit): its bench time rose from\n")
    sb.append("2.6 s (round 2) to ~5-7 s because the bench now hard-sweeps all\n")
    sb.append("caches before every run — GraphX's connectedComponents internally\n")
    sb.append("builds and caches its vertex/edge RDD generations per run, which the\n")
    sb.append("round-2 warm bench never charged. The executing plan is unchanged\n")
    sb.append("(profiled cold 6.4 s / warm 2.0 s on the same build); the cost is\n")
    sb.append("GraphX cache construction, not a new exchange, so no rewrite is\n")
    sb.append("warranted. The query now releases those internal caches via\n")
    sb.append("`Caches.defer`, same as `graph_bfs`.\n\n")
    sb.append("| query | joins | exch | codegen | top-k | flags |\n")
    sb.append("|---|---|---|---|---|---|\n")

    // BNLJ-by-design: the broadcast side is O(probes)/O(nlist) rows
    // (sim_*), or a 1-row / per-source scalar aggregate cross-joined back
    // over the scan (mix_rebalance's totals, text_collocations' bigram
    // total, q22's balance threshold, quantile_hist's min/max bounds,
    // q11's 1-row nation total, bm25_search's 1-row corpus stats,
    // sample_negatives' 1-row node count) — bounded builds at ANY data
    // scale
    val tinyBuildBnlj = Set("sim_topk", "sim_int8_topk", "sim_ann_ivf",
      "mix_rebalance", "text_collocations", "q22_idle_customers",
      "quantile_hist", "q11_important_stock", "bm25_search",
      "sample_negatives",
      // 1-row bm25 stats + 1-row query vector broadcast into the ladder
      "search_two_stage",
      // sources × buckets histogram grid — both sides metadata-sized
      "profile_drift",
      // two 1-row aggregate frames cross at the end
      "graph_nf",
      // 5-row-per-side sketch pair join on an inequality
      "distinct_kmv_pairs",
      // 1-row edge-count frame crossed into the communities relation
      "graph_modularity",
      // 1-row (t, ssq) stats frame crossed into the sources relation —
      // mix_rebalance's exact shape; whether it prints as BHJ or BNLJ
      // varies with AQE's runtime choice on the 1-row side
      "mix_temperature",
      // 1-row order-count frame crossed into the supported-pair
      // relation — text_collocations' exact shape
      "basket_rules",
      // sources × buckets dense grid + a 1-row (nn, nb) totals frame —
      // profile_drift's exact shape
      "anon_tcloseness",
      // nlist-row centroid table crossed into the probe assignment —
      // sim_ann_ivf's exact shape feeding the PQ candidate join
      "sim_ann_ivfpq")

    // Walk only the plan that EXECUTES: descend through AQE wrappers and
    // query stages, but never into an InMemoryTableScan's cached build
    // plan or a ReusedExchange's original — a persisted/iterative query
    // would otherwise recount its cached subtree's exchanges once per
    // reference (graph_triangles read 502 exchanges under the old string
    // count; its live plan has a handful).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def liveChildren(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: InMemoryTableScanExec => Nil
      case _: ReusedExchangeExec => Nil
      // subquery plans (scalar subqueries, DPP filters) execute too —
      // without them a decorrelated-subquery query would under-count
      case other => other.children ++ other.subqueries
    }
    def liveNodes(p: SparkPlan): Seq[String] =
      p.nodeName +: liveChildren(p).flatMap(liveNodes)

    case class Audit(joins: String, exchanges: Int, codegen: Int,
        topk: Boolean, flags: String)
    def auditOne(name: String, dir: String): Either[String, Audit] =
      try {
        // a hard sweep first: the audit must see each query's REAL plan,
        // not an InMemoryTableScan over whatever ran first (memoized pair
        // tables, leftover GraphX caches); the run drives AQE to the
        // final plan
        val nodes = liveNodes(Profile.runOnce(spark, dir, name)._1.executedPlan)
        def has(tok: String): Boolean = nodes.exists(_.contains(tok))
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
          .filter(has).map(_.replace("Join", "")).mkString("+")
        val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(has)
          .map(f => if (f == "BroadcastNestedLoopJoin" && tinyBuildBnlj(name))
            "bnlj-tiny-build" else s"**$f**")
          .mkString("+")
        Right(Audit(joins, nodes.count(_.contains("Exchange")),
          nodes.count(_.contains("WholeStageCodegen")),
          has("TakeOrderedAndProject"), flags))
      } catch {
        case e: Throwable => Left(e.getClass.getSimpleName)
      }
    def row(name: String, a: Either[String, Audit],
        extra: String = ""): String = a match {
      case Left(err) => s"| $name | ERROR $err | | | | |$extra\n"
      case Right(a) =>
        s"| $name | ${if (a.joins.isEmpty) "-" else a.joins} " +
          s"| ${a.exchanges} | ${a.codegen} " +
          s"| ${if (a.topk) "TOP" else "-"} " +
          s"| ${if (a.flags.isEmpty) "-" else a.flags} |$extra\n"
    }

    val smallAudits = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> auditOne(name, sfDir)
    }
    smallAudits.foreach { case (n, a) => sb.append(row(n, a)) }

    // ---- deep audit: re-audit the slowest queries at BENCH scale.
    // AQE's broadcast/shuffle decisions flip with input size, so a plan
    // gate passed at sf0.001 can differ from the sf0.1 plan the bench
    // actually measures. Re-run the top-N most expensive queries (by the
    // committed bench record's medians) at the deep SF with the bench's
    // shuffle partitioning, and name every join-strategy change — a
    // small→large BHJ→SortMerge flip is AQE doing its job ONCE IT'S
    // VISIBLE; the audit exists so no flip is silent.
    val deepDir = args.lift(2).getOrElse("")
    if (deepDir.nonEmpty) {
      val deepN = args.lift(3).map(_.toInt).getOrElse(25)
      val benchPath = java.nio.file.Paths.get("BENCH.md")
      val slowest: Seq[String] =
        if (java.nio.file.Files.exists(benchPath)) {
          val txt = java.nio.file.Files.readString(benchPath)
          val qobj = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
            .map(_.group(1)).getOrElse("")
          """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(qobj)
            .map(m => m.group(1) -> m.group(2).toDouble).toSeq
            .filter { case (n, _) => SparkEntry.queries.contains(n) }
            .sortBy(-_._2).take(deepN).map(_._1)
        } else Seq.empty
      spark.conf.set("spark.sql.shuffle.partitions", "32") // bench parity
      sb.append(s"\n## Deep audit at `$deepDir` — the $deepN slowest ")
      sb.append("queries by the committed bench record\n\n")
      sb.append("Same columns, AQE final plans at the SF the bench measures ")
      sb.append("(shuffle.partitions=32, bench parity). `vs small` names any ")
      sb.append("join-strategy difference against the small-SF row above — ")
      sb.append("a BHJ→SortMerge flip past the broadcast threshold is AQE's ")
      sb.append("intended size response, listed so it is never silent.\n\n")
      sb.append("| query | joins | exch | codegen | top-k | flags | vs small |\n")
      sb.append("|---|---|---|---|---|---|---|\n")
      var flips = List.empty[String]
      slowest.foreach { name =>
        val deep = auditOne(name, deepDir)
        val small = smallAudits.collectFirst {
          case (`name`, Right(a)) => a }
        val cmp = (deep, small) match {
          case (Right(d), Some(s)) if d.joins == s.joins => "same"
          case (Right(d), Some(s)) =>
            flips ::= name
            s"**flip: ${if (s.joins.isEmpty) "-" else s.joins} → " +
              s"${if (d.joins.isEmpty) "-" else d.joins}**"
          case _ => "?"
        }
        sb.append(row(name, deep, extra = s" $cmp |"))
      }
      println(s"deep-audit join-strategy flips: ${flips.size}" +
        (if (flips.nonEmpty) s" (${flips.reverse.mkString(", ")})" else ""))
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
