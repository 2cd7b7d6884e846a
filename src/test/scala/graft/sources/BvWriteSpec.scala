package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/** Distributed BV sink: df.write.format("bvgraph") range-shuffles by id,
  * stream-encodes one shard per task, commits a manifest; the reader plans
  * one partition per shard. Round-trip equality is the gate. */
class BvWriteSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private def adjDf(adj: Array[Array[Int]]) = {
    import spark.implicits._
    adj.zipWithIndex.map { case (succ, id) => (id, succ) }
      .toSeq.toDF("id", "successors")
      .select(col("id").cast("int").as("id"),
        col("successors").cast("array<int>").as("successors"))
      .withColumn("outdegree", size(col("successors")))
  }

  private def randomAdj(n: Int, seed: Long): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n) { _ =>
      val d = rnd.nextInt(10)
      val s = scala.collection.mutable.SortedSet.empty[Int]
      while (s.size < d) s += rnd.nextInt(n)
      s.toArray
    }
  }

  test("distributed write -> sharded read round-trips") {
    val adj = randomAdj(2000, 77L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj)
      .write.format("bvgraph").option("basename", base).option("shards", 7)
      .mode("overwrite").save()

    val mf = BvShards.readManifest(base)
    assert(mf.isDefined && mf.get.shards.length > 1, s"expected shards: $mf")
    assert(mf.get.nodes == 2000)
    assert(mf.get.arcs == adj.map(_.length.toLong).sum)
    // shards tile [0, 2000) contiguously
    val ranges = mf.get.shards.map(sh => (sh.from, sh.until)).sortBy(_._1)
    assert(ranges.head._1 == 0 && ranges.last._2 == 2000)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 == b._1, s"gap between $a and $b")
      case _ =>
    }

    val back = spark.read.format("bvgraph").option("basename", base).load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    assert(back.size == 2000)
    adj.indices.foreach(x => assert(back(x).sameElements(adj(x)), s"node $x"))
  }

  test("shard-base anchoring: compressed size is independent of the shard's global base") {
    import spark.implicits._
    // the same web-ish adjacency (successors clustered near the node id)
    // written at base 0 and shifted to base 3,000,000: without the
    // `firstnode` anchor every node in the shifted graph pays
    // ≈ zigzag(base) bits on its first value delta (measured 5x bloat
    // under Golomb at a 2M-node rehearsal); with it the encodings are
    // structurally identical, so sizes must agree exactly
    val n = 4000
    val off = 3000000
    val rnd = new scala.util.Random(11L)
    val adj = Array.tabulate(n) { x =>
      val d = 1 + rnd.nextInt(8)
      val s = scala.collection.mutable.SortedSet.empty[Int]
      while (s.size < d) s += math.max(0, math.min(n - 1, x + rnd.nextInt(400) - 200))
      s.toArray
    }
    def bytesOf(base: String): Long = {
      val d = new java.io.File(base + ".d")
      d.listFiles.filter(_.getName.endsWith(".graph")).map(_.length).sum
    }
    def write(base: String, shift: Int): Unit =
      adj.zipWithIndex.map { case (succ, id) => (id + shift, succ.map(_ + shift)) }
        .toSeq.toDF("id", "successors")
        .select(col("id").cast("int").as("id"),
          col("successors").cast("array<int>").as("successors"))
        .withColumn("outdegree", size(col("successors")))
        .write.format("bvgraph").option("basename", base).option("shards", 4)
        .option("compressionflags", "RESIDUALS_GOLOMB")
        .option("golombmodulus", "64")
        .mode("overwrite").save()
    val dir = java.nio.file.Files.createTempDirectory("bvanchor").toString
    write(s"$dir/g0", 0)
    write(s"$dir/gS", off)
    // not exact equality: the range partitioner's sample seed derives from
    // the RDD id, so the two writes may cut shard boundaries a few nodes
    // apart. The bug this gates is a 2-5x bloat; 2% covers boundary jitter.
    val (b0, bS) = (bytesOf(s"$dir/g0"), bytesOf(s"$dir/gS"))
    assert(bS <= b0 * 1.02,
      s"shifted graph is $bS B vs $b0 B at base 0 — the firstnode anchor " +
        "is not reaching the encoder")
    // and the shifted graph round-trips to the shifted adjacency
    val back = spark.read.format("bvgraph").option("basename", s"$dir/gS").load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    adj.indices.foreach(x => assert(
      back(x + off).sameElements(adj(x).map(_ + off)), s"node $x"))
  }

  test("a file: write goes through the fork-free FileSystem and leaves Hadoop's cache alone") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val conf = HadoopConf.shared
    val cached = FileSystem.get(java.net.URI.create("file:///"), conf)
    val adj = randomAdj(500, 5L)
    val dir = java.nio.file.Files.createTempDirectory("bvw")
    val base = dir.toString + "/g"
    // `nodes` past the last id adds a driver-written pad shard
    adjDf(adj).write.format("bvgraph").option("basename", base).option("shards", 3)
      .option("nodes", 600).mode("overwrite").save()
    val fs = HadoopConf.fs(new Path(base))
    assert(fs.isInstanceOf[graft.hadoop.LocalFileSystem])
    assert(HadoopConf.fs(new Path("file:" + base)) eq fs, "one instance per JVM")
    val now = FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(now eq cached, "the sink replaced the cached file: FileSystem")
    assert(!now.isInstanceOf[graft.hadoop.LocalFileSystem])
    // every shard file and the manifest carry Hadoop's checksum file
    val mf = BvShards.readManifest(base).get
    assert(mf.shards.length == 4 && mf.nodes == 600)
    for (sh <- mf.shards; sfx <- Seq(".graph", ".offsets", ".properties")) {
      val f = java.nio.file.Paths.get(sh.base + sfx)
      assert(java.nio.file.Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
    }
    assert(java.nio.file.Files.exists(dir.resolve(".g.shards.crc")))
    val back = spark.read.format("bvgraph").option("basename", base).load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    assert(back.size == 600)
    adj.indices.foreach(x => assert(back(x).sameElements(adj(x)), s"node $x"))
  }

  test("sharded read: scan parallelism equals shard count; pruned id scan works") {
    val adj = randomAdj(600, 5L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base).mode("overwrite").save()
    val df = spark.read.format("bvgraph").option("basename", base).load()
    val nShards = BvShards.readManifest(base).get.shards.length
    assert(df.rdd.getNumPartitions == nShards)
    assert(df.select("id").count() == 600)
    assert(df.agg(sum(size(col("successors")))).head().getLong(0)
      == adj.map(_.length.toLong).sum)
  }

  test("oversized shards are sub-split at planning time") {
    // a single-shard write of a graph larger than 2x the split target
    // must still scan with multiple partitions (sub-split on the shard's
    // own offsets index). We can't cheaply write 64 MiB in a unit test,
    // so assert the sub-split logic through the public splits math: a
    // one-shard graph plans 1 partition (under threshold), and the same
    // data written with shards=5 plans 5 — while an unsharded fixture of
    // identical content honors .option("splits").
    val adj = randomAdj(1500, 13L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 1).mode("overwrite").save()
    val one = spark.read.format("bvgraph").option("basename", base).load()
    assert(one.rdd.getNumPartitions == 1)
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 5).mode("overwrite").save()
    val five = spark.read.format("bvgraph").option("basename", base).load()
    assert(five.rdd.getNumPartitions == 5)
    assert(five.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.size(col("successors")))).head().getLong(0)
      == adj.map(_.length.toLong).sum)
  }

  test("nodes option pads leading/interior/trailing gaps to a dense [0, n)") {
    import spark.implicits._
    // ids 3,4 and 100..102 present; ids 0-2 (leading), 5-99 (inter-shard)
    // and 103-149 (trailing degree-0 sinks) must be materialized by commit
    val df = Seq((3, Array(4)), (4, Array(3)), (100, Array(3)),
      (101, Array(4)), (102, Array(3, 4)))
      .toDF("id", "successors")
      .select(col("id").cast("int"), col("successors").cast("array<int>"))
      .withColumn("outdegree", size(col("successors")))
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    df.write.format("bvgraph").option("basename", base)
      .option("shards", 2).option("nodes", 150).mode("overwrite").save()
    val mf = BvShards.readManifest(base).get
    assert(mf.nodes == 150)
    // shards now tile [0, 150) contiguously
    val ranges = mf.shards.map(sh => (sh.from, sh.until)).sortBy(_._1)
    assert(ranges.head._1 == 0 && ranges.last._2 == 150)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 == b._1, s"gap between $a and $b")
      case _ =>
    }
    val back = spark.read.format("bvgraph").option("basename", base).load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    assert(back.size == 150)
    assert(back(3).sameElements(Array(4)) && back(102).sameElements(Array(3, 4)))
    assert(back(0).isEmpty && back(50).isEmpty && back(149).isEmpty)
    // degree-only fast path sees the padded sinks too
    val degs = spark.read.format("bvgraph").option("basename", base).load()
      .select("id", "outdegree").collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(degs.size == 150 && degs(149) == 0 && degs(102) == 2)
  }

  test("manifest records shard byte sizes at commit (planning needs no RPCs)") {
    val adj = randomAdj(500, 21L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 4).mode("overwrite").save()
    val mf = BvShards.readManifest(base).get
    assert(mf.shards.nonEmpty)
    mf.shards.foreach { sh =>
      assert(sh.bytes > 0, s"missing byte size for $sh")
      val real = new java.io.File(sh.base + ".graph").length()
      assert(sh.bytes == real, s"manifest bytes ${sh.bytes} != file $real")
    }
  }

  test("sharded scan partitions carry locality hosts") {
    val adj = randomAdj(400, 33L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 3).mode("overwrite").save()
    val df = spark.read.format("bvgraph").option("basename", base).load()
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val parts = scans.head.partitions.flatten.collect { case p: BvInputPartition => p }
    assert(parts.nonEmpty)
    // local FS reports localhost block hosts — the point is the sharded
    // path populates preferredLocations like the unsharded path does
    parts.foreach(p => assert(p.hosts.nonEmpty, s"no hosts on $p"))
  }

  test("aggregate pushdown is exact on non-tiled manifests (ids not from 0)") {
    import spark.implicits._
    // ids 1000..1299 — no leading [0,1000) materialization (no nodes opt)
    val df = (1000 until 1300).map(i => (i, Array(1000 + (i + 1) % 300)))
      .toDF("id", "successors")
      .select(col("id").cast("int"), col("successors").cast("array<int>"))
      .withColumn("outdegree", size(col("successors")))
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    df.write.format("bvgraph").option("basename", base)
      .option("shards", 3).mode("overwrite").save()
    val back = spark.read.format("bvgraph").option("basename", base).load()
    // pushed COUNT/MIN/MAX must agree with the unpushed scan, not report
    // the dense [0, nodes) fiction (count=1300, min=0)
    assert(back.groupBy().count().head().getLong(0) == 300)
    val mm = back.agg(min(col("id")), max(col("id"))).head()
    assert(mm.getInt(0) == 1000 && mm.getInt(1) == 1299)
    // bounded count over a range straddling the leading gap
    assert(back.filter(col("id") < 1100).groupBy().count().head().getLong(0) == 100)
  }

  test("manifests without byte sizes (round-1 format) still plan and scan") {
    // planning must fall back to the batched directory listing when the
    // manifest predates the shard.N.bytes field
    val adj = randomAdj(300, 9L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 3).mode("overwrite").save()
    val stripped = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(base + ".shards")).toArray.map(_.toString)
      .filterNot(_.contains(".bytes=")).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(base + ".shards"), stripped)
    // the direct rewrite invalidates Hadoop LocalFileSystem's checksum sidecar
    val dir = java.nio.file.Paths.get(base).getParent
    java.nio.file.Files.deleteIfExists(dir.resolve(".g.shards.crc"))
    val mf = BvShards.readManifest(base).get
    assert(mf.shards.forall(_.bytes == -1L))
    val df = spark.read.format("bvgraph").option("basename", base).load()
    assert(df.count() == 300)
    val back = df.collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    adj.indices.foreach(x => assert(back(x).sameElements(adj(x)), s"node $x"))
    // hosts still come from the directory listing
    val scans = spark.read.format("bvgraph").option("basename", base).load()
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
    val parts = scans.head.partitions.flatten.collect { case p: BvInputPartition => p }
    parts.foreach(p => assert(p.hosts.nonEmpty, s"no hosts on $p"))
  }

  test("a manifest rewritten outside the sink is planned from on the next read") {
    // stands in for a writer in another JVM: no in-process invalidation
    // runs, so the (mtime, length) version key alone must catch the change
    val adj = randomAdj(300, 11L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 3).mode("overwrite").save()
    def read() = spark.read.format("bvgraph").option("basename", base).load()
    def ids(): Seq[Int] = read().select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(ids() == (0 until 300)) // populates the cache, listing included
    val mf = BvShards.readManifest(base).get
    assert(mf.shards.size == 3)

    val path = java.nio.file.Paths.get(base + ".shards")
    val crc = path.getParent.resolve(".g.shards.crc")
    val mtime0 = java.nio.file.Files.getLastModifiedTime(path).toMillis
    def rewrite(shards: Seq[BvShards.Shard], arcs: Long, mtime: Long): Unit = {
      val text = (Seq(s"shards=${shards.size}", s"nodes=${shards.last.until}",
        s"arcs=$arcs") ++ shards.zipWithIndex.flatMap { case (sh, i) =>
        Seq(s"shard.$i.file=${sh.base}", s"shard.$i.from=${sh.from}",
          s"shard.$i.until=${sh.until}", s"shard.$i.bytes=${sh.bytes}")
      }).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(path, text)
      java.nio.file.Files.deleteIfExists(crc) // stale checksum sidecar
      java.nio.file.Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    // 1. a shorter manifest (last shard dropped) under the OLD mtime: the
    //    length alone marks the new version
    val kept = mf.shards.init
    val keptArcs = adj.take(kept.last.until.toInt).map(_.length.toLong).sum
    rewrite(kept, keptArcs, mtime0)
    val len1 = java.nio.file.Files.size(path)
    assert(ids() == (0 until kept.last.until.toInt))

    // 2. same length, new mtime: a different arcs figure of equal width,
    //    read back through the metadata-only SUM(outdegree) pushdown
    val altArcs = if (keptArcs % 10 == 9) keptArcs - 1 else keptArcs + 1
    rewrite(kept, altArcs, mtime0 + 5000)
    assert(java.nio.file.Files.size(path) == len1)
    assert(read().agg(sum("outdegree")).head().getLong(0) == altArcs)
  }

  test("Long manifest ranges: id-filtered scans of in-range shards work past 2^31") {
    import spark.implicits._
    // a real 10-node shard, referenced twice: once at [0,10), once at a
    // global offset beyond Int.MaxValue — the escape-hatch layout from
    // SCALE.md §1 (per-shard local ids stay int; global ids are Long)
    val df = (0 until 10).map(i => (i, Array((i + 1) % 10)))
      .toDF("id", "successors")
      .select(col("id").cast("int"), col("successors").cast("array<int>"))
      .withColumn("outdegree", size(col("successors")))
    val dir = java.nio.file.Files.createTempDirectory("bvw").toString
    df.write.format("bvgraph").option("basename", s"$dir/g")
      .option("shards", 1).mode("overwrite").save()
    val shard = BvShards.readManifest(s"$dir/g").get.shards.head
    val hiFrom = Int.MaxValue.toLong + 6L
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/big.shards"),
      s"""shards=2
         |nodes=${hiFrom + 10}
         |arcs=20
         |shard.0.file=${shard.base}
         |shard.0.from=0
         |shard.0.until=10
         |shard.0.bytes=${shard.bytes}
         |shard.1.file=${shard.base}
         |shard.1.from=$hiFrom
         |shard.1.until=${hiFrom + 10}
         |shard.1.bytes=${shard.bytes}
         |""".stripMargin)
    val big = spark.read.format("bvgraph").option("basename", s"$dir/big").load()
    // a shard range past 2^31 flips the manifest to big mode: BIGINT ids
    assert(big.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // metadata aggregates see the full Long id space
    assert(big.groupBy().count().head().getLong(0) == 20)
    // an id filter prunes to the low shard: correct global ids
    val lo = big.filter(col("id") < 100).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(lo.sameElements((0 until 10).map(_.toLong)))
    // the beyond-2^31 shard actually scans (pre-long-id rounds errored
    // here): global ids = shard base + local position, no overflow
    val all = big.select("id").collect().map(_.getLong(0)).sorted
    assert(all.sameElements(
      (0 until 10).map(_.toLong) ++ (0 until 10).map(hiFrom + _)))
  }

  test("sharded offsets regeneration restores a scannable graph") {
    val adj = randomAdj(400, 61L)
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    adjDf(adj).write.format("bvgraph").option("basename", base)
      .option("shards", 3).mode("overwrite").save()
    // lose every shard's offsets index (and Hadoop's checksum sidecars)
    BvShards.readManifest(base).get.shards.foreach { sh =>
      val p = java.nio.file.Paths.get(sh.base + ".offsets")
      java.nio.file.Files.delete(p)
      java.nio.file.Files.deleteIfExists(
        p.getParent.resolve("." + p.getFileName.toString + ".crc"))
    }
    val touched = BvShards.regenerateOffsets(base)
    assert(touched.size == 3)
    val back = spark.read.format("bvgraph").option("basename", base).load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    assert(back.size == 400)
    adj.indices.foreach(x => assert(back(x).sameElements(adj(x)), s"node $x"))
  }

  test("write options choose the codec: non-default flags round-trip through the sink") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    val adj = Array.tabulate(300) { x =>
      val s = scala.collection.mutable.SortedSet.empty[Int]
      (0 until rnd.nextInt(8)).foreach(_ => s += rnd.nextInt(300))
      s.toArray
    }
    val base = java.nio.file.Files.createTempDirectory("bvwflags").toString + "/g"
    adj.zipWithIndex.map { case (s, i) => (i, s) }.toSeq.toDF("id", "successors")
      .select(col("id").cast("int"), col("successors").cast("array<int>"))
      .withColumn("outdegree", size(col("successors")))
      .write.format("bvgraph").option("basename", base).option("shards", 4)
      .option("compressionflags", "OUTDEGREES_DELTA|RESIDUALS_GOLOMB|BLOCKS_SKEWED_GOLOMB")
      .option("golombmodulus", "5").option("zetak", "2")
      .mode("overwrite").save()
    // every data shard's own sidecar carries the flags + modulus
    graft.sources.BvShards.readManifest(base).get.shards.foreach { sh =>
      val props = graft.bv.BvProperties.parse(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sh.base + ".properties")),
        java.nio.charset.StandardCharsets.ISO_8859_1))
      assert(props.codings.outdegree == graft.bv.Coding.DELTA)
      assert(props.codings.residual == graft.bv.Coding.GOLOMB)
      assert(props.golombModulus == 5)
    }
    val back = spark.read.format("bvgraph").option("basename", base).load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    adj.indices.foreach(x => assert(back(x).sameElements(adj(x)), s"node $x"))
    // Golomb-family flags without a modulus are rejected up front
    val e = intercept[Exception] {
      Seq((0, Array(1))).toDF("id", "successors")
        .select(col("id").cast("int"), col("successors").cast("array<int>"))
        .withColumn("outdegree", size(col("successors")))
        .write.format("bvgraph")
        .option("basename", base + "2")
        .option("compressionflags", "RESIDUALS_GOLOMB")
        .mode("overwrite").save()
    }
    assert(e.getMessage.contains("golombmodulus")
      || Option(e.getCause).exists(_.getMessage.contains("golombmodulus")))
  }

  test("write fills interior id gaps with empty nodes") {
    import spark.implicits._
    val df = Seq((0, Array(2, 5)), (2, Array(0)), (5, Array(0, 2)))
      .toDF("id", "successors")
      .select(col("id").cast("int"), col("successors").cast("array<int>"))
      .withColumn("outdegree", size(col("successors")))
    val base = java.nio.file.Files.createTempDirectory("bvw").toString + "/g"
    df.write.format("bvgraph").option("basename", base).mode("overwrite").save()
    val back = spark.read.format("bvgraph").option("basename", base).load()
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toArray).toMap
    assert(back.keySet == Set(0, 1, 2, 3, 4, 5))
    assert(back(1).isEmpty && back(3).isEmpty && back(4).isEmpty)
    assert(back(5).sameElements(Array(0, 2)))
  }
}
