package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded web-like graph generator.
  *
  * Nodes are generated in fixed blocks of [[Block]] consecutive ids; block
  * `b` is a pure function of `(seed, b)`, so any partitioning of the block
  * range yields the same graph. Each adjacency list mixes the four shapes
  * a BV encoder is built for:
  *  - power-law outdegree (Pareto tail, a share of dangling nodes);
  *  - a copy of most of a predecessor's list, taken from inside the BV
  *    reference window (copy blocks);
  *  - runs of consecutive ids (intervals);
  *  - gaps around the source id, most of them short (residuals).
  *
  * Calibration. Two parameters come from published crawl measurements:
  * the outdegree exponent 2.72 (Broder et al., "Graph structure in the
  * Web", WWW 2000) and about 8.6 arcs per node (the WebBase crawl of
  * Boldi and Vigna, "The WebGraph Framework I: Compression Techniques",
  * WWW 2004: 118M nodes, 1G arcs). The other shape parameters (dangling,
  * copy, run and local-gap shares) have no published value behind them:
  * they are fitted so that the default BV coding (window 7, max reference
  * chain 3, min interval 4) spends about 3 bits per arc, the 3.08 bits per
  * link that paper reports for WebBase in its natural order. The 500k-node
  * graph of the benchmark has 8.9 arcs per node and 3.0 bits per arc; in a
  * 40k-node sample, 60% of the arcs were copied and 33% lay in runs.
  *
  * The generator's own arc counts and order-independent checksums (per
  * block and in total) are what every read of the compressed graph is
  * checked against. Slices of the benchmark are whole blocks, so their
  * expected values come from the same per-block table.
  */
object WebGen {
  /** Nodes per block; a 0.1% slice of a 500k-node graph is one block. */
  val Block = 500

  case class Spec(seed: Long, nodes: Int) {
    require(nodes % Block == 0, s"nodes must be a multiple of $Block")
    def blocks: Int = nodes / Block
  }

  /** Per-block (or whole-graph) expected values. */
  case class Stats(arcs: Long, arcSum: Long, degSum: Long) {
    def +(o: Stats): Stats = Stats(arcs + o.arcs, arcSum + o.arcSum, degSum + o.degSum)
  }
  val Zero: Stats = Stats(0L, 0L, 0L)

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Checksum term of arc x → y; checksums are wrapping sums of terms. */
  def arcTerm(x: Long, y: Long): Long = mix64((x << 32) ^ (y & 0xFFFFFFFFL))
  /** Checksum term of node x having outdegree d. */
  def degTerm(x: Long, d: Int): Long = mix64(x * 0x632BE59BD9B4E019L + d)

  private val Window = 7 // BV default reference window
  private val Alpha = 2.72 // outdegree density exponent (Broder et al.)
  private val MinDeg = 1.3 // Pareto scale; with the copies, about 9 arcs per node
  private val MaxDeg = 2000
  // fitted to about 3 bits per arc, see above; no crawl measurement behind them
  private val Dangling = 0.12
  private val CopyP = 0.75 // share of lists that copy a predecessor
  private val CopyKeep = 0.9 // share of the predecessor's arcs kept
  private val RunP = 0.3 // share of lists with a run of consecutive ids
  private val LocalP = 0.85 // share of residual gaps below LocalSpan
  private val LocalSpan = 200.0

  /** Adjacency lists (strictly ascending, duplicate-free) of block `b`. */
  def block(spec: Spec, b: Int): Array[Array[Int]] = {
    val rng = new java.util.SplittableRandom(mix64(spec.seed * 0x2545F4914F6CDD1DL + b))
    val n = spec.nodes
    val lo = b * Block
    val out = new Array[Array[Int]](Block)
    val logN = math.log(n / 2.0)
    val logLocal = math.log(LocalSpan)
    var buf = new Array[Int](64)
    var i = 0
    while (i < Block) {
      val x = lo + i
      var len = 0
      def add(y: Int): Unit = {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        buf(len) = y
        len += 1
      }
      val d =
        if (rng.nextDouble() < Dangling) 0
        else math.min(MaxDeg, (MinDeg * math.pow(1.0 - rng.nextDouble(), -1.0 / (Alpha - 1))).toInt)
      if (d > 0) {
        if (i > 0 && rng.nextDouble() < CopyP) {
          val ref = out(i - 1 - rng.nextInt(math.min(Window, i)))
          var k = 0
          while (k < ref.length) { if (rng.nextDouble() < CopyKeep) add(ref(k)); k += 1 }
        }
        if (rng.nextDouble() < RunP) {
          val start = math.max(0, x + 1 + rng.nextInt(64) - 32)
          val runLen = 4 + rng.nextInt(16)
          var y = start
          while (y < math.min(n, start + runLen)) { add(y); y += 1 }
        }
        while (len < d) {
          val span = if (rng.nextDouble() < LocalP) logLocal else logN
          val gap = math.exp(rng.nextDouble() * span).toInt
          val y = if (rng.nextBoolean()) x + gap else x - gap
          add(if (y < 0) -y else if (y >= n) 2 * (n - 1) - y else y)
        }
      }
      java.util.Arrays.sort(buf, 0, len)
      var w = 0
      var k = 0
      while (k < len) {
        if (w == 0 || buf(k) != buf(w - 1)) { buf(w) = buf(k); w += 1 }
        k += 1
      }
      out(i) = java.util.Arrays.copyOf(buf, w)
      i += 1
    }
    out
  }

  def stats(lo: Int, lists: Array[Array[Int]]): Stats = {
    var arcs = 0L
    var arcSum = 0L
    var degSum = 0L
    var i = 0
    while (i < lists.length) {
      val x = lo + i
      val s = lists(i)
      arcs += s.length
      degSum += degTerm(x, s.length)
      var k = 0
      while (k < s.length) { arcSum += arcTerm(x, s(k)); k += 1 }
      i += 1
    }
    Stats(arcs, arcSum, degSum)
  }

  /** Expected values of every block, computed on the cluster. */
  def blockStats(spark: SparkSession, spec: Spec): Array[Stats] =
    spark.sparkContext.parallelize(0 until spec.blocks, 16)
      .map(b => stats(b * Block, block(spec, b)))
      .collect()

  val schema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("successors", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** The graph as the sink's `(id, successors, outdegree)` rows, one row
    * per node. */
  def frame(spark: SparkSession, spec: Spec): DataFrame = {
    val rows = spark.sparkContext.parallelize(0 until spec.blocks, 16)
      .flatMap { b =>
        val lists = block(spec, b)
        Iterator.tabulate(Block)(i => Row(b * Block + i, lists(i)))
      }
    spark.createDataFrame(rows, schema)
      .withColumn("outdegree", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("successors")))
  }
}
