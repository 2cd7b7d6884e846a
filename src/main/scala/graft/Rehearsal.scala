package graft

import org.apache.spark.sql.SparkSession

/** The one harness the scale rehearsals run on: [[ScaleRehearsal]],
  * [[TextScaleRehearsal]], [[RelationalScaleRehearsal]],
  * [[EmbedScaleRehearsal]] and [[StreamScaleRehearsal]]. A rehearsal
  * supplies its generator, stages and checks; the harness owns the size
  * argument, the session, stage timing, the record and the exit status.
  *
  * The record is one JSON object on one stdout line, its keys in the
  * order the rehearsal lists them, with exactly one boolean `checks` key:
  * the conjunction of every planted or closed-form expectation. A run
  * whose `checks` is false exits 1 after printing, so
  * `tools/run_rehearsals.sh` fails closed.
  */
object Rehearsal {
  /** Run one rehearsal of size `args(0)` (else `defaultSize`) on the base
    * session config plus `conf`, print its record, stop the session, and
    * exit 1 when the record's `checks` is false. */
  def run(args: Array[String], defaultSize: Long,
      conf: Map[String, String] = Map.empty)(
      body: (SparkSession, Long) => Seq[(String, Any)]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(defaultSize)
    // disk spill on the JVM tmpdir, not Scratch's tmpfs: at rehearsal
    // scale the spill is a real fraction of RAM (see [[Scratch]])
    val spark = Graft.session(
      conf = Map("spark.local.dir" -> sys.props("java.io.tmpdir")) ++ conf)
    val status = try emit(body(spark, n)) finally spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** `f`'s result and its wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The record as one line of JSON, keys in order: doubles with two
    * decimals (a non-finite one as `null`), sequences as arrays, booleans
    * and integers as themselves. */
  private def json(record: Seq[(String, Any)]): String = {
    def value(v: Any): String = v match {
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null"
        else "%.2f".formatLocal(java.util.Locale.ROOT, d)
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case b @ (_: Boolean | _: Int | _: Long) => b.toString
      case other => throw new IllegalArgumentException(s"no JSON form for $other")
    }
    record.map { case (k, v) => s""""$k":${value(v)}""" }.mkString("{", ",", "}")
  }

  /** Print the record as one line and return the exit status: 0 when its
    * one `checks` key is true, 1 when it is false. Keys must be distinct. */
  def emit(record: Seq[(String, Any)],
      out: java.io.PrintStream = System.out): Int = {
    val keys = record.map(_._1)
    require(keys.distinct.size == keys.size, s"duplicate keys in $keys")
    val checks = record.collectFirst { case ("checks", b: Boolean) => b }
    require(checks.isDefined, "a rehearsal record needs a boolean checks key")
    out.println(json(record))
    out.flush()
    if (checks.get) 0 else 1
  }
}
