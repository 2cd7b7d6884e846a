package graft.sources

import org.apache.hadoop.io.IntWritable
import org.apache.spark.graphx.Graph
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture
import graft.bv.BvEncoder
import graft.hadoop.{IntArrayWritable, WebGraphInputFormat}

/** Replays the reference README's published usage verbatim (only the
  * import changes): the Spark load flow (/root/reference/README.md:14-29)
  * and the GraphX flow (README.md:37-48), checked against the encoder's
  * input and the DSv2 source on the same fixture.
  */
class WebGraphCompatSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private lazy val fixture: (String, Array[Array[Int]]) = {
    val rnd = new scala.util.Random(123L)
    val n = 600
    val adj = Array.tabulate(n) { _ =>
      val d = rnd.nextInt(10)
      val s = scala.collection.mutable.SortedSet.empty[Int]
      while (s.size < math.min(d, n)) s += rnd.nextInt(n)
      s.toArray
    }
    val dir = java.nio.file.Files.createTempDirectory("wgcompat").toString
    val base = s"$dir/g"
    BvEncoder().write(base, adj)
    (base, adj)
  }

  private def loadRdd(splits: Int) = {
    val sc = spark.sparkContext
    // README.md:14-17, import line adjusted
    WebGraphInputFormat.setBasename(sc.hadoopConfiguration, fixture._1)
    WebGraphInputFormat.setNumberOfSplits(sc.hadoopConfiguration, splits)
    sc.newAPIHadoopRDD(sc.hadoopConfiguration, classOf[WebGraphInputFormat],
      classOf[IntWritable], classOf[IntArrayWritable])
  }

  test("README load flow: (id, successors) tuples match the encoder input") {
    val (_, adj) = fixture
    val rdd = loadRdd(100) // README's default split count
    // README.md:22 — the published tuple transform
    val adjacencyList = rdd.map { case (id, out) => (id.get, out.values) }
    val got = adjacencyList.collect().toMap
    assert(got.size == adj.length)
    adj.indices.foreach(x => assert(got(x).sameElements(adj(x)), s"node $x"))
  }

  test("README edge count flow matches the DSv2 scan") {
    val (base, adj) = fixture
    // README.md:28 — count the number of edges in the graph
    val rdd = loadRdd(7)
    val m = rdd.map { case (id, out) => out.values.length }
      .fold(0)(_ + _)
    assert(m == adj.map(_.length).sum)
    import org.apache.spark.sql.functions._
    val viaDsv2 = spark.read.format("bvgraph").option("basename", base).load()
      .agg(sum(col("outdegree"))).head().getLong(0)
    assert(m.toLong == viaDsv2)
  }

  test("README GraphX flow: numVertices / numEdges") {
    val (_, adj) = fixture
    val rdd = loadRdd(13)
    // README.md:37-48 verbatim
    val edges = rdd.flatMap { case (id, out) =>
      out.values.map(outId => (id.get.toLong, outId.toLong))
    }
    val graph = Graph.fromEdgeTuples(edges, true)
    assert(graph.numEdges == adj.map(_.length.toLong).sum)
    // fromEdgeTuples materializes only endpoint-touched vertices
    val touched =
      (adj.indices.filter(adj(_).nonEmpty).toSeq ++ adj.flatten.toSeq).distinct
    assert(graph.numVertices == touched.size)
    graph.unpersist(blocking = false)
  }

  test("split law matches the reference: ceil(n/splits) nodes per range") {
    val rdd = loadRdd(7)
    // 600 nodes / 7 splits -> ceil = 86 -> 7 ranges (last short)
    assert(rdd.getNumPartitions == 7)
    val perPart = rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.take(6).forall(_ == 86) && perPart.last == 600 - 6 * 86)
  }
}
