package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/** Long-id ("big") BVGraph mode: global node ids past 2³¹ through the
  * sharded sink and DSv2 source (SCALE.md Ceilings / SURVEY.md §7.4(6)).
  * The reference hard-rejects such graphs (patched/HdfsBVGraph.java:362-364
  * caps nodes at 2³¹); upstream WebGraph splits into a separate
  * it.unimi.dsi.big.webgraph hierarchy. Here the SHARDED layout already
  * addresses a Long global id space, so big mode = BIGINT schema + the
  * Long decode kernel, with each shard's LOCAL node count still
  * Int-bounded — no 2³¹-row materialization needed to exercise it.
  */
class BvBigSpec extends AnyFunSuite {
  import SparkSessionFixture._

  /** 12e9 > 2³³: catches 32-bit truncation AND sign-bit wraps. */
  private val BASE = 12_000_000_000L

  /** Sparse adjacency around BASE: ids BASE..BASE+n, plus cross-shard and
    * long-range successors (gaps > Int.MaxValue between successors). */
  private def writeFixture(n: Int, shards: Int): (String, Map[Long, Seq[Long]]) = {
    val rnd = new scala.util.Random(77L)
    val adj: Seq[(Long, Seq[Long])] = (0 until n).map { i =>
      val id = BASE + i
      val d = rnd.nextInt(8)
      val succ = scala.collection.mutable.SortedSet.empty[Long]
      (0 until d).foreach { _ => succ += BASE + rnd.nextInt(n) }
      // one long-range arc for every 10th node: a successor gap that
      // cannot fit an Int delta (id-relative residual ≈ ±2^35)
      if (i % 10 == 0) succ += BASE + 34_359_738_368L + rnd.nextInt(100)
      (id, succ.toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("bvbig").toString
    val base = s"$dir/g"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("successors", ArrayType(LongType, containsNull = false),
        nullable = false)))
    val rows = adj.map { case (id, s) => Row(id, s) }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      .withColumn("outdegree", size(col("successors")))
      .write.format("bvgraph").option("basename", base)
      .option("idwidth", "long")
      .option("shards", shards).mode("overwrite").save()
    (base, adj.toMap)
  }

  test("manifest records idwidth=long and schema surfaces BIGINT") {
    val (base, _) = writeFixture(200, 3)
    val mf = BvShards.readManifest(base).get
    assert(mf.big)
    assert(mf.shards.forall(_.from >= BASE))
    val df = spark.read.format("bvgraph").option("basename", base).load()
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("successors").dataType ==
      ArrayType(LongType, containsNull = false))
    assert(df.schema("outdegree").dataType == IntegerType)
  }

  test("full scan round-trips ids and successor values past 2^31") {
    val (base, adj) = writeFixture(500, 4)
    val got = spark.read.format("bvgraph").option("basename", base).load()
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    // the sink materializes every id in [min, max] of each shard's range;
    // interior gap ids come back with empty successor lists
    adj.foreach { case (id, succ) =>
      assert(got(id) == succ, s"node $id")
    }
    assert(got.keys.min == BASE)
    assert(got.values.flatten.max > BASE + (1L << 35) - 1,
      "long-range successors survived")
  }

  test("degree-only scan takes the random-access path with Long ids") {
    val (base, adj) = writeFixture(300, 3)
    val got = spark.read.format("bvgraph").option("basename", base).load()
      .select(col("id"), col("outdegree"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    adj.foreach { case (id, succ) =>
      assert(got(id) == succ.length, s"node $id")
    }
  }

  test("id range filters push down past 2^31 and prune shards") {
    val (base, adj) = writeFixture(400, 4)
    val lo = BASE + 100L
    val hi = BASE + 200L
    val df = spark.read.format("bvgraph").option("basename", base).load()
      .filter(col("id") >= lo && col("id") < hi)
      .select(col("id"))
    val ids = df.collect().map(_.getLong(0)).sorted
    assert(ids.head >= lo && ids.last < hi)
    assert(ids.length == 100) // dense inside the written shard ranges
    // plan-gate: the scan description carries the pushed Long bounds
    val desc = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.mkString
    assert(desc.contains(s"id in [$lo,$hi)"), desc)
  }

  test("metadata aggregates answer from Long shard ranges without a scan") {
    val (base, adj) = writeFixture(250, 3)
    val row = spark.read.format("bvgraph").option("basename", base).load()
      .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
    val mf = BvShards.readManifest(base).get
    assert(row.getLong(0) == mf.shards.map(s => s.until - s.from).sum)
    assert(row.getLong(1) == BASE)
    assert(row.getLong(2) == mf.shards.map(_.until).max - 1)
  }

  test("offsets regeneration decodes big shards through the Long kernel") {
    val (base, _) = writeFixture(150, 2)
    val mf = BvShards.readManifest(base).get
    val sh = mf.shards.head
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sh.base + ".offsets"))
    graft.bv.BvOffsets.regenerate(sh.base)
    val after = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sh.base + ".offsets"))
    assert(java.util.Arrays.equals(before, after))
  }

  test("the Int views of a big shard throw naming node and value; nodeIteratorLong returns the lists") {
    val (base, adj) = writeFixture(200, 2)
    val sh = BvShards.readManifest(base).get.shards.head
    val g = graft.bv.BvGraph.load(sh.base)
    try {
      val written = (0 until g.n).map(x => adj.getOrElse(sh.from + x, Seq.empty))
      val x = written.indexWhere(_.nonEmpty)
      val v = written(x).head
      assert(v > Int.MaxValue)
      val e = intercept[ArithmeticException](g.nodeIterator(0, g.n).foreach(_ => ()))
      assert(e.getMessage.contains(s"node $x: successor $v "), e.getMessage)
      intercept[ArithmeticException](g.successorArray(x))
      val got = g.nodeIteratorLong(0, g.n).map { case (y, s) => y -> s.toSeq }.toSeq
      assert(got == written.zipWithIndex.map { case (s, y) => y -> s })
    } finally g.release()
  }

  test("classic INT graphs are unaffected: no idwidth line, INT schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bvbig_int").toString
    val base = s"$dir/g"
    Seq((0, Seq(1, 2)), (1, Seq(2)), (2, Seq.empty[Int]))
      .toDF("id", "successors")
      .withColumn("outdegree", size(col("successors")))
      .write.format("bvgraph").option("basename", base)
      .option("shards", 1).mode("overwrite").save()
    assert(!BvShards.readManifest(base).get.big)
    val df = spark.read.format("bvgraph").option("basename", base).load()
    assert(df.schema("id").dataType == IntegerType)
    assert(df.select(sum(size(col("successors")))).head().getLong(0) == 3L)
  }
}
