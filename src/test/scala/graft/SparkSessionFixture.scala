package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (forked by sbt),
  * built by [[Graft.session]] so the suite runs the config users get. */
object SparkSessionFixture {
  lazy val spark: SparkSession = Graft.session(cpus = 4, conf = Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
