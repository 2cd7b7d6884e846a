package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Rehearsal.timed

/** Relational scale rehearsal — the third axis next to [[ScaleRehearsal]]
  * (graph) and [[TextScaleRehearsal]] (curation): drive the core
  * relational shapes (scan-dominant partial aggregation, fact⋈dim join +
  * rollup, top-k, exact distinct) at ~50M rows, with every stage checked
  * against a CLOSED-FORM expected value, not just timed.
  *
  * The fact table is a pure function of `id` over `spark.range(n)` —
  * generated distributed, nothing materialized driver-side:
  *
  *   key   = id % K          (K = n/50 → exactly 50 rows per key)
  *   flag  = id % 4          (the q1-style report class)
  *   qty   = (id % 50) + 1
  *   price = (id % M) + 1    (M = 99991, prime, coprime with 4)
  *
  * Closed forms (all proven by brute force in RelationalRehearsalSpec):
  *  - per-flag count is n/4 exactly;
  *  - per-flag Σqty: ids ≡ f (mod 4) walk the 25 even-offset residues of
  *    id%50 once per 100-block — a 25-term driver loop × n/100 blocks;
  *  - per-flag Σprice: gcd(4, M) = 1, so a flag class walks ALL M
  *    residues once per M steps — full cycles contribute M(M−1)/2 each,
  *    the partial cycle is a ≤M-term driver loop;
  *  - per-seg join rollup: K ≡ 0 (mod 50) makes id%50 a function of the
  *    key alone, so the joined Σqty collapses to a 5-term sum per seg.
  *
  * Requires n ≡ 0 (mod 10000) so every closed form has no edge remainder.
  *
  * Usage: RelationalScaleRehearsal [rows]   (default 50,000,000)
  */
object RelationalScaleRehearsal {
  val M = 99991L

  /** The deterministic fact relation (id, key, flag, qty, price). */
  def fact(spark: SparkSession, n: Long): DataFrame = {
    val k = n / 50
    spark.range(n).select(
      col("id"),
      (col("id") % k).as("key"),
      (col("id") % 4).cast("int").as("flag"),
      (col("id") % 50 + 1).as("qty"),
      (col("id") % M + 1).as("price"))
  }

  // ---- closed forms (pure, spec-checked) ---------------------------------

  def expFlagCount(n: Long): Long = n / 4

  /** Σ((id%50)+1) over ids ≡ f (mod 4) in [0, n), n ≡ 0 (mod 100). */
  def expFlagSumQty(n: Long, f: Int): Long = {
    require(n % 100 == 0)
    var block = 0L
    var j = 0
    while (j < 25) { block += (f + 4L * j) % 50 + 1; j += 1 }
    block * (n / 100)
  }

  /** Σ((id%M)+1) over ids ≡ f (mod 4) in [0, n). */
  def expFlagSumPrice(n: Long, f: Int): BigInt = {
    val cnt = n / 4
    val cycles = cnt / M
    val rem = cnt % M
    var partial = BigInt(0)
    var v = f.toLong % M
    var i = 0L
    while (i < rem) { partial += v; v = (v + 4) % M; i += 1 }
    BigInt(cycles) * (BigInt(M) * (M - 1) / 2) + partial + cnt
  }

  def expSegCount(n: Long): Long = n / 10

  /** Joined Σqty per seg: keys ≡ s (mod 10), each key carries n/K rows of
    * qty = (key%50)+1; key%50 walks {s, s+10, s+20, s+30, s+40}. */
  def expSegSumQty(n: Long, s: Int): Long = {
    require(n % 10000 == 0)
    val k = n / 50
    var per = 0L
    var j = 0
    while (j < 5) { per += s + 10L * j + 1; j += 1 }
    // (K/50) keys share each of the 5 residues; 50 rows per key
    per * (k / 50) * 50
  }

  def main(args: Array[String]): Unit =
    Rehearsal.run(args, defaultSize = 50000000L)(rehearse)

  private def rehearse(spark: SparkSession, n: Long): Seq[(String, Any)] = {
    require(n % 10000 == 0, "n must be a multiple of 10000")
    val k = n / 50
    val base = fact(spark, n)

    // stage 1: q1-shape report — scan-dominant partial+final aggregation
    // into 4 groups; the map side reduces n rows to 4×cpus partials
    val (aggRows, tAgg) = timed {
      base.groupBy("flag")
        .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sq"),
          sum(col("price")).as("sp"))
        .orderBy("flag").collect()
    }
    val aggOk = aggRows.length == 4 && aggRows.forall { r =>
      val f = r.getInt(0)
      r.getLong(1) == expFlagCount(n) &&
        r.getLong(2) == expFlagSumQty(n, f) &&
        BigInt(r.getLong(3)) == expFlagSumPrice(n, f)
    }

    // stage 2: fact ⋈ dim on the key (dim = K rows, seg = key%10) + seg
    // rollup — the star-join spine; AQE picks broadcast vs shuffle from
    // the dim's runtime size
    val (joinRows, tJoin) = timed {
      val dim = spark.range(k).select(col("id").as("key"),
        (col("id") % 10).cast("int").as("seg"))
      base.join(dim, "key")
        .groupBy("seg")
        .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sq"))
        .orderBy("seg").collect()
    }
    val joinOk = joinRows.length == 10 && joinRows.forall { r =>
      val s = r.getInt(0)
      r.getLong(1) == expSegCount(n) && r.getLong(2) == expSegSumQty(n, s)
    }

    // stage 3: top-10 by (price, id) — must be TakeOrderedAndProject
    // (per-partition heaps, 10 rows to the driver), and the max price is
    // exactly M by construction
    val (top, tTop) = timed {
      val q = base.orderBy(col("price").desc, col("id")).limit(10)
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      (rows, plan.contains("TakeOrderedAndProject"))
    }
    val topOk = top._2 && top._1.length == 10 &&
      top._1.head.getAs[Long]("price") == M

    // stage 4: exact distinct keys — one shuffle on the key, must equal K
    val (nKeys, tDist) = timed {
      base.agg(countDistinct(col("key"))).head().getLong(0)
    }
    val distOk = nKeys == k

    def mrate(t: Double): Double = n / t / 1e6
    Seq("rows" -> n, "keys" -> k,
      "agg_sec" -> tAgg, "agg_mrows_per_sec" -> mrate(tAgg), "agg_ok" -> aggOk,
      "join_sec" -> tJoin, "join_mrows_per_sec" -> mrate(tJoin), "join_ok" -> joinOk,
      "topk_sec" -> tTop, "topk_mrows_per_sec" -> mrate(tTop), "topk_ok" -> topOk,
      "distinct_sec" -> tDist, "distinct_mrows_per_sec" -> mrate(tDist),
      "distinct_ok" -> distOk,
      "checks" -> (aggOk && joinOk && topOk && distOk))
  }
}
