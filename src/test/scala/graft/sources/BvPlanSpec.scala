package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, In, LessThan}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture
import graft.bv.BvEncoder

/** The one read planner: every layout plans from [[BvShards.layout]], an
  * unsharded graph as a one-shard manifest, and `splits` cuts each scanned
  * shard. */
class BvPlanSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private def randomAdj(n: Int, seed: Long): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n) { _ =>
      val d = 2 + rnd.nextInt(8)
      val s = scala.collection.mutable.SortedSet.empty[Int]
      while (s.size < d) s += rnd.nextInt(n)
      s.toArray
    }
  }

  private def sinkWrite(adj: Array[Array[Int]], shards: Int): String = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("bvplan").toString + "/g"
    adj.zipWithIndex.map { case (succ, id) => (id, succ) }.toSeq.toDF("id", "successors")
      .select(col("id").cast("int"), col("successors").cast("array<int>"))
      .withColumn("outdegree", size(col("successors")))
      .write.format("bvgraph").option("basename", base).option("shards", shards)
      .mode("overwrite").save()
    base
  }

  private def encoderWrite(adj: Array[Array[Int]]): String = {
    val base = java.nio.file.Files.createTempDirectory("bvplan").toString + "/g"
    BvEncoder().write(base, adj)
    base
  }

  private def partitions(scan: BvGraphScan): Seq[BvInputPartition] =
    scan.planInputPartitions().toSeq.collect { case p: BvInputPartition => p }

  test("splits cuts every shard of a sharded graph: 3 shards x 4 = 12 partitions, same rows") {
    val adj = randomAdj(1200, 3L)
    val base = sinkWrite(adj, 3)
    assert(BvShards.readManifest(base).get.shards.size == 3)
    val df = spark.read.format("bvgraph").option("basename", base)
      .option("splits", 4).load()
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val parts = scans.head.partitions.flatten.collect { case p: BvInputPartition => p }
    assert(parts.size == 12, parts.mkString(", "))
    assert(parts.exists(p => p.from > 0 && p.idOffset != 0), parts.mkString(", "))
    assert(parts.map(p => p.until - p.from).sum == adj.length)
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray)
    assert(got.length == adj.length)
    got.foreach { case (x, succ) => assert(succ.sameElements(adj(x)), s"node $x") }
  }

  test("an encoder-written graph and a one-shard sink write plan the same ranges") {
    val adj = randomAdj(900, 9L)
    val unsharded = encoderWrite(adj)
    val sharded = sinkWrite(adj, 1)
    def plan(base: String, splits: Option[Int], lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue, limit: Option[Int] = None,
        runtime: Array[Filter] = Array.empty): Seq[(Int, Int, Long)] = {
      val scan = new BvGraphScan(base, splits, BvGraphTable.SCHEMA, lo, hi, limit = limit)
      if (runtime.nonEmpty) scan.filter(runtime)
      partitions(scan).map(p => (p.from, p.until, p.idOffset))
    }
    for (splits <- Seq(None, Some(5))) {
      def same(what: String, f: String => Seq[(Int, Int, Long)]): Unit = {
        val (u, s) = (f(unsharded), f(sharded))
        assert(u.nonEmpty && u == s, s"$what, splits=$splits: $u vs $s")
      }
      same("unbounded", plan(_, splits))
      same("pushed bounds", plan(_, splits, 120, 640))
      same("runtime In", plan(_, splits,
        runtime = Array[Filter](In("id", Array[Any](200, 333, 701)))))
      same("runtime range", plan(_, splits,
        runtime = Array[Filter](GreaterThanOrEqual("id", 50), LessThan("id", 60))))
      same("limit", plan(_, splits, limit = Some(37)))
    }
    assert(plan(unsharded, None) == Seq((0, 900, 0L)))
    assert(plan(unsharded, Some(5)).size == 5)
    assert(plan(unsharded, None, 120, 640) == Seq((120, 640, 0L)))
    assert(plan(unsharded, None, runtime = Array[Filter](In("id", Array[Any](200, 333, 701))))
      == Seq((200, 702, 0L)))
    // a pushed limit keeps one prefix partition whatever `splits` asks
    assert(plan(unsharded, Some(5), limit = Some(37)) == Seq((0, 37, 0L)))
  }

  test("unsharded partitions carry the .graph file's block hosts") {
    val base = encoderWrite(randomAdj(400, 4L))
    for (splits <- Seq(None, Some(3))) {
      val parts = partitions(new BvGraphScan(base, splits, BvGraphTable.SCHEMA))
      assert(parts.nonEmpty)
      parts.foreach(p => assert(p.hosts.nonEmpty, s"splits=$splits: $p"))
    }
  }

  test("layout: an unsharded graph is one shard of its .properties counts") {
    val adj = randomAdj(300, 5L)
    val base = encoderWrite(adj)
    val lay = BvShards.layout(base)
    val bytes = new java.io.File(base + ".graph").length
    assert(lay.manifest == BvShards.Manifest(300, adj.map(_.length.toLong).sum,
      Seq(BvShards.Shard(base, 0, 300, bytes))))
    assert(lay.status(base).map(_.getLen).contains(bytes))
  }
}
