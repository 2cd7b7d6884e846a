package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The rehearsal harness's record and exit status, without a session: the
  * forked test JVM shares [[SparkSessionFixture]]'s, which a rehearsal
  * run would stop. */
class RehearsalSpec extends AnyFunSuite {
  private def emitted(record: Seq[(String, Any)]): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream
    val status = Rehearsal.emit(record, new java.io.PrintStream(buf, true, "UTF-8"))
    (status, buf.toString("UTF-8"))
  }

  test("the record is one line of valid JSON, keys in insertion order") {
    val record = Seq("zeta" -> 3L, "alpha" -> 1.5, "q" -> Seq(1L, 2L, 3L),
      "ratio" -> Double.NaN, "n" -> 42, "checks" -> true, "after" -> false)
    val (_, out) = emitted(record)
    assert(out.endsWith("\n") && out.count(_ == '\n') == 1)
    val node = new ObjectMapper().readTree(out)
    assert(node.fieldNames().asScala.toSeq == record.map(_._1))
    assert(node.get("zeta").asLong() == 3L)
    assert(out.contains("\"alpha\":1.50,"))
    assert(node.get("q").elements().asScala.map(_.asLong()).toSeq == Seq(1L, 2L, 3L))
    assert(node.get("ratio").isNull)
    assert(node.get("checks").asBoolean() && !node.get("after").asBoolean())
  }

  test("checks=false yields a non-zero exit status") {
    val (status, out) = emitted(Seq("rows" -> 10L, "checks" -> false))
    assert(status != 0)
    assert(out.trim == """{"rows":10,"checks":false}""")
  }

  test("checks=true yields exit status 0") {
    assert(emitted(Seq("rows" -> 10L, "checks" -> true))._1 == 0)
  }

  test("a record without one boolean checks key is refused, not printed") {
    for (bad <- Seq(Seq("rows" -> 1L), Seq("checks" -> "true"),
        Seq("checks" -> true, "checks" -> true))) {
      val buf = new java.io.ByteArrayOutputStream
      intercept[IllegalArgumentException](
        Rehearsal.emit(bad, new java.io.PrintStream(buf)))
      assert(buf.size() == 0)
    }
  }
}
