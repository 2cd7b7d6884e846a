package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint lifetime contract of [[Caches]]: a checkpoint registers
  * exactly its own `LogicalRDD`'s RDD, [[Caches.release]] frees it at once
  * (twice is a no-op, a non-checkpoint frame throws), and [[Caches.sweep]]
  * frees whatever was never released. */
class CachesSpec extends AnyFunSuite {
  import SparkSessionFixture._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.id
    case p => fail(s"a checkpoint must be a LogicalRDD, got ${p.nodeName}")
  }

  private def frame: DataFrame =
    spark.range(100).selectExpr("id AS x", "id % 7 AS y").groupBy("y").count()

  Seq(true, false).foreach { eager =>
    test(s"checkpoint(eager = $eager) registers one RDD, the LogicalRDD's, and release frees it") {
      Caches.hardSweep(spark)
      val before = persisted
      val ck = Caches.checkpoint(frame, eager)
      assert(persisted -- before == Set(rddId(ck)))
      assert(ck.count() == 7)
      assert(persisted -- before == Set(rddId(ck)),
        "materializing the checkpoint persisted a second RDD")
      Caches.release(ck)
      assert(persisted == before)
      Caches.release(ck)
      assert(persisted == before)
      Caches.sweep(spark)
      assert(persisted == before)
    }
  }

  test("release throws on a frame that is not a checkpoint") {
    val ck = Caches.checkpoint(frame)
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L))),
      StructType(Seq(StructField("x", LongType))))
    assert(rows.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    Seq(frame, ck.select("y"), rows).foreach { df =>
      intercept[IllegalArgumentException](Caches.release(df))
    }
    Caches.release(ck)
  }

  test("sweep frees every checkpoint that was never released") {
    Caches.hardSweep(spark)
    val before = persisted
    val a = Caches.checkpoint(frame)
    val b = Caches.checkpoint(frame, eager = false)
    val c = Caches.checkpoint(b.filter("y > 2"))
    Caches.release(a)
    assert(persisted -- before == Set(rddId(b), rddId(c)))
    assert(c.count() == 4)
    Caches.sweep(spark)
    assert(persisted == before)
  }
}
