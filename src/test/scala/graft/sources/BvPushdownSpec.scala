package graft.sources

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture
import graft.bv.BvEncoder

/** Exact id-range pushdown: the bvgraph source consumes every comparison
  * on `id`, so Spark plans no `Filter` above its scan, and the LIMIT and
  * COUNT/MIN/MAX pushdowns that Spark offers only over a filter-free scan
  * answer from the clamped ranges. Every read is checked against an
  * unfiltered read of the same graph filtered on the driver, on three
  * graphs: an encoder-written unsharded graph, a sharded sink graph with a
  * leading gap and gaps between its shards, and a BIGINT graph above 2^33.
  */
class BvPushdownSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with PredicateHelper {
  import SparkSessionFixture._
  import BvPushdownSpec._

  private def long(v: Any): Long = v.asInstanceOf[Number].longValue

  private def load(name: String, base: String): Graph = {
    val read = spark.read.format("bvgraph").option("basename", base).load()
    val rows = read.collect().map(r =>
      long(r.get(0)) -> (r.getInt(2), r.getSeq[Any](1).map(long))).toMap
    Graph(name, base, read.schema("id").dataType == LongType,
      BvShards.layout(base).manifest.shards.map(s => (s.from, s.until)), rows)
  }

  private def tempBase(): String =
    java.nio.file.Files.createTempDirectory("bvpush").toString + "/g"

  private lazy val unsharded: Graph = {
    val rnd = new Random(17L)
    val n = 400
    val adj = Array.tabulate(n) { _ =>
      val s = scala.collection.mutable.SortedSet.empty[Int]
      (0 until rnd.nextInt(9)).foreach(_ => s += rnd.nextInt(n))
      s.toArray
    }
    val base = tempBase()
    BvEncoder().write(base, adj)
    load("unsharded", base)
  }

  /** A sink write of three 40-id blocks starting at `origin` + 1000, 3000
    * and 7000, three shards, no `nodes` pad: no id below the first block
    * or between two blocks is materialized. */
  private def gapGraph(name: String, origin: Long, big: Boolean): Graph = {
    val starts = Seq(1000L, 3000L, 7000L).map(origin + _)
    val ids = starts.flatMap(s => s until s + 40)
    val rnd = new Random(origin ^ 29L)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("successors", ArrayType(LongType, containsNull = false), nullable = false)))
    val rows = ids.map(id => Row(id, Seq.fill(rnd.nextInt(7))(ids(rnd.nextInt(ids.size))).distinct.sorted))
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val df = if (big) wide
      else wide.select(col("id").cast("int").as("id"), col("successors").cast("array<int>").as("successors"))
    val base = tempBase()
    val w = df.withColumn("outdegree", size(col("successors")))
      .write.format("bvgraph").option("basename", base).option("shards", 3)
    (if (big) w.option("idwidth", "long") else w).mode("overwrite").save()
    val g = load(name, base)
    assert(g.big == big)
    // the fixture's point: a leading gap and a gap between every two shards
    assert(g.ranges == starts.map(s => (s, s + 40)), s"$name: shards ${g.ranges}")
    g
  }

  private lazy val gaps: Graph = gapGraph("sharded-gaps", 0L, big = false)
  private lazy val bigGraph: Graph = gapGraph("bigint", 12_000_000_000L, big = true)

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
  private def filters(df: DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }
  private def descriptions(df: DataFrame): String = scans(df).map(_.scan.description()).mkString("\n")

  /** A conjunct the source answers exactly: `id` compared with a literal. */
  private def isIdComparison(e: Expression): Boolean = e match {
    case c: BinaryComparison => (c.left, c.right) match {
      case (a: AttributeReference, _: Literal) => a.name == "id"
      case (_: Literal, a: AttributeReference) => a.name == "id"
      case _ => false
    }
    case _ => false
  }

  private val extremes = Seq(Int.MinValue.toLong, Int.MaxValue.toLong, Long.MinValue, Long.MaxValue)

  /** An id literal: near or inside the graph, at a shard boundary, far
    * outside it, or an Int/Long extreme. */
  private def literal(g: Graph, rnd: Random, extreme: Boolean): Long = {
    val (lo, hi) = (g.ranges.head._1, g.ranges.last._2)
    rnd.nextInt(8) match {
      case 0 if extreme => extremes(rnd.nextInt(extremes.size))
      case 1 => if (rnd.nextBoolean()) lo - 1 - rnd.nextInt(5000) else hi + rnd.nextInt(5000)
      case 2 | 3 =>
        val (f, u) = g.ranges(rnd.nextInt(g.ranges.size))
        (if (rnd.nextBoolean()) f else u) + rnd.nextInt(3) - 1
      case _ => lo - 2 + (rnd.nextDouble() * (hi - lo + 4)).toLong
    }
  }

  private def comparison(g: Graph, rnd: Random): Pred = {
    val v = literal(g, rnd, extreme = true)
    val (id, l, flip) = (col("id"), g.lit(v, asInt = rnd.nextBoolean()), rnd.nextBoolean())
    rnd.nextInt(5) match {
      case 0 => Pred(s"id > $v", if (flip) l < id else id > l, (x, _) => x > v, "cmp")
      case 1 => Pred(s"id >= $v", if (flip) l <= id else id >= l, (x, _) => x >= v, "cmp")
      case 2 => Pred(s"id < $v", if (flip) l > id else id < l, (x, _) => x < v, "cmp")
      case 3 => Pred(s"id <= $v", if (flip) l >= id else id <= l, (x, _) => x <= v, "cmp")
      case _ => Pred(s"id = $v", if (flip) l === id else id === l, (x, _) => x == v, "eq")
    }
  }

  private def residual(g: Graph, rnd: Random): Pred = rnd.nextInt(3) match {
    case 0 =>
      val (a, b) = (literal(g, rnd, extreme = false), literal(g, rnd, extreme = false))
      Pred(s"id < $a OR id >= $b", col("id") < g.lit(a) || col("id") >= g.lit(b),
        (x, _) => x < a || x >= b, "or")
    case 1 =>
      val vs = Seq.fill(2 + rnd.nextInt(3))(literal(g, rnd, extreme = false)).distinct
      val in = if (vs.size < 2) vs :+ (vs.head + 1) else vs
      Pred(s"id IN (${in.mkString(",")})",
        col("id").isin((if (g.big) in else in.map(_.toInt)): _*), (x, _) => in.contains(x), "in")
    case _ =>
      val k = rnd.nextInt(6)
      if (rnd.nextBoolean()) Pred(s"outdegree >= $k", col("outdegree") >= k, (_, d) => d >= k, "outdegree")
      else Pred(s"outdegree < $k", col("outdegree") < k, (_, d) => d < k, "outdegree")
  }

  private val projections = Seq(Seq("id"), Seq("id", "outdegree"), Seq("id", "outdegree", "successors"))

  /** A projected row: id, outdegree (-1 when not read), successors. */
  private type Out = (Long, Int, Seq[Long])

  private def out(cols: Seq[String])(r: Row): Out =
    (long(r.get(0)), if (cols.contains("outdegree")) r.getInt(1) else -1,
      if (cols.contains("successors")) r.getSeq[Any](2).map(long) else Nil)

  private def expected(g: Graph, cols: Seq[String], keep: (Long, Int) => Boolean): Seq[Out] =
    g.ids.filter(x => keep(x, g.rows(x)._1)).map { x =>
      val (d, s) = g.rows(x)
      (x, if (cols.contains("outdegree")) d else -1, if (cols.contains("successors")) s else Nil)
    }

  /** Draws `sets` predicate conjunctions over `g` and checks each read's
    * rows and plan; returns how often each predicate kind was drawn. */
  private def exactness(g: Graph, sets: Int, seed: Long): Map[String, Int] = {
    val rnd = new Random(seed)
    val drawn = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (1 to sets).foreach { i =>
      val preds = i % 10 match {
        case 0 => Seq(comparison(g, rnd), Pred("outdegree >= 2", col("outdegree") >= 2, (_, d) => d >= 2, "outdegree"))
        case 1 | 2 | 3 => Seq.fill(1 + rnd.nextInt(3))(comparison(g, rnd))
        case _ => Seq.fill(1 + rnd.nextInt(3))(if (rnd.nextInt(3) == 0) residual(g, rnd) else comparison(g, rnd))
      }
      preds.foreach(p => drawn(p.kind) += 1)
      if (preds.forall(_.consumed)) drawn("all-consumed") += 1
      if (preds.exists(_.consumed) && preds.exists(_.kind == "outdegree")) drawn("id+outdegree") += 1
      val cols = projections(rnd.nextInt(projections.size))
      val what = s"${g.name} set $i: ${preds.map(_.desc).mkString(" AND ")} -> ${cols.mkString(",")}"
      val df = g.read().filter(preds.map(_.col).reduce(_ && _)).select(cols.map(col): _*)
      val got = df.collect().map(out(cols)).sortBy(_._1).toSeq
      assert(got == expected(g, cols, (x, d) => preds.forall(_.holds(x, d))), what)
      if (scans(df).nonEmpty) { // else the optimizer folded the conjunction to false
        val fs = filters(df)
        if (preds.forall(_.consumed)) assert(fs.isEmpty, s"$what: a Filter remains\n${df.queryExecution.executedPlan}")
        else {
          // constant propagation may fold an id residual through an
          // `id = v` conjunct; an outdegree residual never folds
          if (preds.exists(_.kind == "outdegree") || !preds.exists(_.kind == "eq"))
            assert(fs.nonEmpty, s"$what: the residual was dropped\n${df.queryExecution.executedPlan}")
          fs.flatMap(f => splitConjunctivePredicates(f.condition)).foreach { c =>
            assert(!isIdComparison(c), s"$what: consumed comparison $c re-evaluated\n${df.queryExecution.executedPlan}")
          }
        }
      }
    }
    drawn.toMap
  }

  test("id pushdown is exact on random predicate sets over three graphs (fixed seed)") {
    val drawn = Seq(unsharded -> 71L, gaps -> 72L, bigGraph -> 73L)
      .map { case (g, seed) => exactness(g, 70, seed) }
      .reduce((a, b) => (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap)
    // the draw covers every predicate kind
    Seq("cmp", "eq", "or", "in", "outdegree", "all-consumed", "id+outdegree").foreach { k =>
      assert(drawn.getOrElse(k, 0) >= 10, s"only ${drawn.getOrElse(k, 0)} draws of $k: $drawn")
    }
  }

  test("Int/Long extreme literals bound the scan without wrapping") {
    for (g <- Seq(unsharded, gaps, bigGraph); v <- extremes; op <- 0 until 5) {
      val id = col("id")
      val (c, keep): (Column, Long => Boolean) = op match {
        case 0 => (id > g.lit(v), _ > v)
        case 1 => (id >= g.lit(v), _ >= v)
        case 2 => (id < g.lit(v), _ < v)
        case 3 => (id <= g.lit(v), _ <= v)
        case _ => (id === g.lit(v), _ == v)
      }
      val df = g.read().filter(c).select("id")
      assert(df.collect().map(r => long(r.get(0))).sorted.toSeq == g.ids.filter(keep),
        s"${g.name}: op $op literal $v")
      assert(filters(df).isEmpty, s"${g.name}: op $op literal $v\n${df.queryExecution.executedPlan}")
    }
  }

  test("idBounds: saturating comparisons, an IN envelope, residual literal types") {
    import BvGraphScan.{IdBounds, idBounds}
    val (min, max) = (Long.MinValue, Long.MaxValue)
    assert(idBounds(sources.GreaterThan("id", max)) == Some(IdBounds(max, max, exact = true)))
    assert(idBounds(sources.LessThanOrEqual("id", max)) == Some(IdBounds(min, max, exact = true)))
    assert(idBounds(sources.EqualTo("id", max)) == Some(IdBounds(max, max, exact = true)))
    assert(idBounds(sources.GreaterThanOrEqual("id", min)) == Some(IdBounds(min, max, exact = true)))
    assert(idBounds(sources.LessThan("id", min)) == Some(IdBounds(min, min, exact = true)))
    assert(idBounds(sources.GreaterThan("id", Int.MaxValue)) ==
      Some(IdBounds(Int.MaxValue + 1L, max, exact = true)))
    assert(idBounds(sources.In("id", Array[Any](9L, 3L, 7L))) == Some(IdBounds(3, 10, exact = false)))
    assert(idBounds(sources.In("id", Array[Any](max, 3L))) == Some(IdBounds(3, max, exact = false)))
    assert(idBounds(sources.In("id", Array.empty[Any])).isEmpty)
    assert(idBounds(sources.In("id", Array[Any](3, null))).isEmpty)
    for (v <- Seq[Any](5.toByte, new java.math.BigDecimal(5), 5.0, "5", null))
      assert(idBounds(sources.GreaterThan("id", v)).isEmpty, s"literal $v")
    assert(idBounds(sources.GreaterThan("outdegree", 5)).isEmpty)
    // the builder consumes the exact filters only and reports every bound
    val b = new BvGraphScanBuilder(unsharded.base, None)
    val in = sources.In("id", Array[Any](10, 20))
    val od = sources.GreaterThan("outdegree", 1)
    val cmp = sources.GreaterThanOrEqual("id", 5)
    val byte = sources.LessThan("id", 50.toByte)
    assert(b.pushFilters(Array(cmp, in, od, byte)).toSeq == Seq(in, od, byte))
    assert(b.pushedFilters().toSeq == Seq(cmp, in))
    assert(b.build().description().contains("id in [10,21)"))
  }

  test("20 distinct id slices after a warm one compile no code") {
    val g = unsharded
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def slice(lo: Int): Long = {
      val df = g.read().filter(col("id") >= lo && col("id") < lo + 15).select("id", "successors")
      assert(filters(df).isEmpty, df.queryExecution.executedPlan.toString)
      df.queryExecution.toRdd
        .mapPartitions(rows => Iterator(rows.map(_.getArray(1).numElements().toLong).sum))
        .collect().sum
    }
    def arcs(lo: Int): Long = g.ids.filter(x => x >= lo && x < lo + 15).map(g.rows(_)._1.toLong).sum
    assert(slice(0) == arcs(0))
    val c0 = compiles
    (1 to 20).foreach(i => assert(slice(i * 17) == arcs(i * 17), s"slice ${i * 17}"))
    assert(compiles - c0 == 0, s"20 slices compiled ${compiles - c0} classes")
  }

  /** [lo, hi) id ranges per graph: inside one shard, across shard gaps,
    * inside a gap, before and past every id, and the whole graph. */
  private def ranges(g: Graph): Seq[(Long, Long)] = {
    val (lo, hi) = (g.ranges.head._1, g.ranges.last._2)
    val fixed = Seq((lo + 5, lo + 25), (lo - 100, lo + 1), (hi - 1, hi + 100), (hi, hi + 50),
      (lo - 50, lo), (lo, hi), (Long.MinValue, Long.MaxValue), (lo + 10, lo + 10)) ++
      g.ranges.sliding(2).flatMap {
        case Seq((_, u), (f, _)) => Seq((u - 5, f + 5), (u, f))
        case _ => Nil // one shard
      }
    val rnd = new Random(g.base.length)
    fixed ++ Seq.fill(6) {
      val (a, b) = (lo - 10 + rnd.nextInt((hi - lo + 20).toInt), lo - 10 + rnd.nextInt((hi - lo + 20).toInt))
      (math.min(a, b), math.max(a, b))
    }
  }

  private def inRange(g: Graph, lo: Long, hi: Long): Column =
    col("id") >= g.lit(lo) && col("id") < g.lit(hi)

  test("COUNT(*)/MIN(id)/MAX(id) under an id range push down and equal the unpushed values") {
    for (g <- Seq(unsharded, gaps, bigGraph); (lo, hi) <- ranges(g)) {
      val what = s"${g.name} [$lo,$hi)"
      val df = g.read().filter(inRange(g, lo, hi)).agg(count(lit(1)), min("id"), max("id"))
      val r = df.head()
      val want = g.ids.filter(x => x >= lo && x < hi)
      if (scans(df).nonEmpty) // else the optimizer folded the range to false
        assert(descriptions(df).contains("PushedAggregates: COUNT(*),MIN(id),MAX(id)"),
          s"$what\n${df.queryExecution.executedPlan}")
      assert(r.getLong(0) == want.size, what)
      if (want.isEmpty) assert(r.isNullAt(1) && r.isNullAt(2), what)
      else assert(long(r.get(1)) == want.min && long(r.get(2)) == want.max, what)
    }
  }

  test("SUM(outdegree) under an id range stays unpushed and correct") {
    for (g <- Seq(unsharded, gaps, bigGraph); (lo, hi) <- ranges(g).take(6)) {
      val df = g.read().filter(inRange(g, lo, hi)).agg(sum("outdegree"))
      val want = g.ids.filter(x => x >= lo && x < hi).map(g.rows(_)._1.toLong)
      val r = df.head()
      assert(!descriptions(df).contains("PushedAggregates"), descriptions(df))
      if (want.isEmpty) assert(r.isNullAt(0)) else assert(r.getLong(0) == want.sum, s"${g.name} [$lo,$hi)")
    }
  }

  test("a filtered LIMIT k pushes down and returns min(k, |range|) rows of the range") {
    for (g <- Seq(unsharded, gaps, bigGraph); (lo, hi) <- ranges(g); k <- Seq(1, 7, 60)) {
      val what = s"${g.name} [$lo,$hi) limit $k"
      val cols = projections.last
      val df = g.read().filter(inRange(g, lo, hi)).select(cols.map(col): _*).limit(k)
      val got = df.collect().map(out(cols)).toSeq
      val want = g.ids.filter(x => x >= lo && x < hi)
      if (scans(df).nonEmpty)
        assert(descriptions(df).contains(s"PushedLimit: $k"), s"$what\n${df.queryExecution.executedPlan}")
      assert(got.length == math.min(k, want.size), what)
      assert(got.map(_._1).distinct.length == got.length, what)
      got.foreach { case row @ (x, d, succ) =>
        assert(x >= lo && x < hi, s"$what: id $x")
        assert((d, succ) == g.rows(x), s"$what: row $row")
      }
    }
  }
}

object BvPushdownSpec {
  import SparkSessionFixture.spark

  /** A fixture graph: its shards' id ranges and the rows of an unfiltered
    * read, id -> (outdegree, successors). */
  final case class Graph(name: String, base: String, big: Boolean,
      ranges: Seq[(Long, Long)], rows: Map[Long, (Int, Seq[Long])]) {
    val ids: Seq[Long] = rows.keys.toSeq.sorted
    def read(): DataFrame = spark.read.format("bvgraph").option("basename", base).load()
    /** `v` as an INT literal when it fits and the graph is INT (or
      * `asInt` asks for one), else BIGINT: Spark unwraps the cast of an
      * INT `id`, or folds the comparison when `v` lies outside Int range. */
    def lit(v: Long, asInt: Boolean = false): Column =
      if (v.isValidInt && (!big || asInt)) functions.lit(v.toInt) else functions.lit(v)
  }

  /** One generated predicate, its driver-side model, and its kind: `cmp`
    * and `eq` are id comparisons the source consumes; `or`, `in` and
    * `outdegree` stay residuals. */
  final case class Pred(desc: String, col: Column, holds: (Long, Int) => Boolean, kind: String) {
    def consumed: Boolean = kind == "cmp" || kind == "eq"
  }
}
