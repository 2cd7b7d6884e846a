package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/** SURVEY §4.3 item 4, made a gate (r8 verdict item 8): a COLD pruned
  * id-range scan must open ONLY the shards whose ranges intersect the
  * pushed bounds. Planning prunes from the manifest without touching
  * shard files, so [[BvGraphCache.coldOpens]]'s delta across the scan IS
  * the set of shards opened — at 10k shards per crawl snapshot, opening
  * all of them for a 2-shard slice would be 10k wasted file opens +
  * offsets decodes PER EXECUTOR. The 50M-node rehearsal asserts the same
  * counter at scale. */
class BvShardOpenSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private def writeFixture(n: Int, shards: Int): String = {
    val base = java.nio.file.Files.createTempDirectory("bvopen").toString + "/g"
    writeTo(base, n, shards)
    base
  }

  private def writeTo(base: String, n: Int, shards: Int): Unit = {
    import spark.implicits._
    val adj = (0 until n).map { i =>
      (i, Seq((i + 1) % n, (i + 7) % n).distinct.sorted)
    }
    adj.toDF("id", "successors")
      .withColumn("outdegree", size(col("successors")))
      .write.format("bvgraph").option("basename", base)
      .option("shards", shards).option("nodes", n)
      .mode("overwrite").save()
  }

  test("cold id-range scan opens only the covering shards") {
    val n = 4000
    val base = writeFixture(n, 8) // fresh basename -> every open is cold
    val mf = BvShards.readManifest(base).get
    assert(mf.shards.size == 8)
    val lo = 1100L; val hi = 1900L // inside shards [1000,1500) + [1500,2000)
    val covering = mf.shards.count(sh => sh.from < hi && sh.until > lo)
    assert(covering == 2, s"fixture geometry drifted: $covering covering shards")
    val before = BvGraphCache.coldOpens.get()
    // collect (not an agg): metadata-only aggregates answer from the
    // manifest WITHOUT opening shards, which would vacuously pass
    val rows = spark.read.format("bvgraph").option("basename", base).load()
      .filter(col("id") >= lo && col("id") < hi)
      .select(col("id"), col("outdegree")).collect()
    val opened = BvGraphCache.coldOpens.get() - before
    assert(rows.length.toLong == hi - lo)
    assert(opened == covering,
      s"cold range scan opened $opened shards; only $covering cover [$lo,$hi)")
  }

  test("full cold scan opens every shard exactly once (cache shares across tasks)") {
    val base = writeFixture(4000, 8)
    val before = BvGraphCache.coldOpens.get()
    val edges = spark.read.format("bvgraph").option("basename", base).load()
      .select(explode(col("successors"))).count()
    val opened = BvGraphCache.coldOpens.get() - before
    assert(edges > 0)
    assert(opened == 8,
      s"full scan over 8 shards constructed $opened graphs — the " +
        "per-executor cache must dedupe per-task opens")
  }

  test("repeated planning lists the shard directory once per manifest version") {
    val base = writeFixture(4000, 8)
    def scan(): Array[(Int, Int)] =
      spark.read.format("bvgraph").option("basename", base).load()
        .select(col("id"), col("outdegree")).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).sortBy(_._1)
    def listed[T](body: => T): (T, Long) = {
      val before = BvShards.listings.get()
      val r = body
      (r, BvShards.listings.get() - before)
    }
    scan() // the first read after the write lists the new version
    val (rows, second) = listed(scan())
    assert(rows.sameElements((0 until 4000).map(_ -> 2)))
    assert(second == 0,
      s"a second planned scan of an unchanged graph listed its shards $second times")

    // in-place overwrite with a different shard count and node count
    writeTo(base, 3000, 5)
    assert(BvShards.readManifest(base).get.shards.size == 5)
    val (rowsAfter, afterOverwrite) = listed(scan())
    assert(rowsAfter.sameElements((0 until 3000).map(_ -> 2)))
    assert(afterOverwrite == 1,
      s"the first scan of a new manifest version listed $afterOverwrite times, not once")
  }
}
