package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.bv.{BvEncoder, BvProperties}

/** [[BvGraphCache]] opens cold shards outside its map lock: concurrent
  * first lookups of different shards each construct their graph exactly
  * once, and every pin is released. No Spark session. */
class BvGraphCacheSpec extends AnyFunSuite {

  private def writeShards(k: Int): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("bvcache")
    (0 until k).map { s =>
      val adj = Array.tabulate(2000)(i => Array((i + 1 + s) % 2000, (i + 1000) % 2000).sorted)
      val (g, o, p) = new BvEncoder(BvProperties(0, 0)).encode(adj)
      val base = dir.resolve(s"g$s").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(base + ".graph"), g)
      java.nio.file.Files.write(java.nio.file.Paths.get(base + ".offsets"), o)
      java.nio.file.Files.write(java.nio.file.Paths.get(base + ".properties"),
        p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      base
    }
  }

  test("8 threads cold-opening 8 shards construct each once and release every pin") {
    val shards = writeShards(8)
    val before = BvGraphCache.coldOpens.get()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val done = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          def call(): Seq[Int] = {
            start.await()
            // each thread walks all shards, starting at a different one
            (0 until 8).map { i =>
              val g = BvGraphCache.acquire(shards((t + i) % 8))
              try g.successorArray(0).length finally g.release()
            }
          }
        })
      }
      start.countDown()
      done.foreach(f => assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS).forall(_ == 2)))
    } finally pool.shutdownNow()
    assert(BvGraphCache.coldOpens.get() - before == 8)
    shards.foreach(s => assert(BvGraphCache.get(s).refCount == 1, s)) // the cache's own reference
    assert(BvGraphCache.coldOpens.get() - before == 8) // and those gets opened nothing
  }
}
