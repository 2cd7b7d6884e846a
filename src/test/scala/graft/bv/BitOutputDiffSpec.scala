package graft.bv

import org.scalatest.funsuite.AnyFunSuite

object BitOutputDiffSpec {
  /** The straightforward writer: one `writeBit` per bit, one stream write
    * per byte. */
  private final class OracleBitOutput(out: java.io.OutputStream) {
    private var cur = 0
    private var nbits = 0
    private var written = 0L

    def writtenBits: Long = written

    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nbits += 1
      written += 1
      if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
    }

    def writeLong(x: Long, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { writeBit(((x >>> i) & 1L).toInt); i -= 1 }
    }

    def writeUnary(n: Int): Unit = {
      var i = n
      while (i > 0) { writeBit(0); i -= 1 }
      writeBit(1)
    }

    def writeGamma(n: Long): Unit = {
      val v = n + 1
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
      writeUnary(msb)
      writeLong(v, msb)
    }

    def writeDelta(n: Long): Unit = {
      val v = n + 1
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
      writeGamma(msb)
      writeLong(v, msb)
    }

    def writeZeta(n: Long, k: Int): Unit = {
      val v = n + 1
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val h = msb / k
      writeUnary(h)
      val left = 1L << (h * k)
      if (v - left < left) writeLong(v - left, h * k + k - 1)
      else writeLong(v, h * k + k)
    }

    def writeLongMinimalBinary(x: Long, b: Long): Unit = {
      val log2b = 63 - java.lang.Long.numberOfLeadingZeros(b)
      val m = (1L << (log2b + 1)) - b
      if (x < m) writeLong(x, log2b)
      else { val y = x + m; writeLong(y >> 1, log2b); writeBit((y & 1L).toInt) }
    }

    def writeGolomb(x: Long, b: Int): Unit = {
      writeUnary((x / b).toInt)
      writeLongMinimalBinary(x % b, b.toLong)
    }

    def writeSkewedGolomb(x: Long, b: Int): Unit = {
      val i = 63 - java.lang.Long.numberOfLeadingZeros(x / b + 1)
      writeUnary(i)
      val m = ((1L << i) - 1L) * b
      writeLongMinimalBinary(x - m, (1L << i) * b)
    }

    def writeNibble(n: Long): Unit = {
      val msb = if (n == 0) 0 else 63 - java.lang.Long.numberOfLeadingZeros(n)
      var h = msb / 3
      while (h >= 0) {
        writeBit(if (h == 0) 1 else 0)
        writeLong(n >>> (h * 3), 3)
        h -= 1
      }
    }

    def writeOnes(n: Long): Unit = {
      var i = 0L
      while (i < n) { writeBit(1); i += 1 }
    }

    def flush(): Unit = {
      while (nbits != 0) writeBit(0)
      out.flush()
    }
  }

  /** One write, applied to both writers; `bits` is its [[CodeLength]]. */
  private final case class Op(name: String, real: BitOutput => Unit,
      oracle: OracleBitOutput => Unit, bits: Long)
}

/** Differential test of [[BitOutput]] against a bit-at-a-time writer kept
  * here as the oracle: random sequences of every code must yield the same
  * bytes after `flush()` and the same `writtenBits` after every write, and
  * each write must add the bits [[CodeLength]] gives for it.
  */
class BitOutputDiffSpec extends AnyFunSuite {

  import BitOutputDiffSpec._

  /** A non-negative long of random magnitude, below 2^62. */
  private def anyNat(rnd: java.util.Random): Long = rnd.nextLong() >>> (2 + rnd.nextInt(62))

  private def randomOp(rnd: java.util.Random): Op = rnd.nextInt(12) match {
    case 0 =>
      val (x, len) = (rnd.nextLong(), rnd.nextInt(65))
      Op(s"writeLong($x, $len)", _.writeLong(x, len), _.writeLong(x, len), len)
    case 1 =>
      val n = rnd.nextInt(201)
      Op(s"writeUnary($n)", _.writeUnary(n), _.writeUnary(n), CodeLength.unary(n))
    case 2 =>
      val n = anyNat(rnd)
      Op(s"writeGamma($n)", _.writeGamma(n), _.writeGamma(n), CodeLength.gamma(n))
    case 3 =>
      val n = anyNat(rnd)
      Op(s"writeDelta($n)", _.writeDelta(n), _.writeDelta(n), CodeLength.delta(n))
    case 4 =>
      // below 2^(62-k), so the longest ζ_k word stays within 64 bits
      val k = 1 + rnd.nextInt(7)
      val n = anyNat(rnd) >>> k
      Op(s"writeZeta($n, $k)", _.writeZeta(n, k), _.writeZeta(n, k), CodeLength.zeta(n, k))
    case 5 =>
      val b = 1 + rnd.nextInt(1024)
      val x = (rnd.nextInt(200 * b)).toLong
      Op(s"writeGolomb($x, $b)", _.writeGolomb(x, b), _.writeGolomb(x, b),
        CodeLength.golomb(x, b))
    case 6 =>
      val (x, b) = (anyNat(rnd) >>> 20, 1 + rnd.nextInt(1024))
      Op(s"writeSkewedGolomb($x, $b)", _.writeSkewedGolomb(x, b), _.writeSkewedGolomb(x, b),
        CodeLength.skewedGolomb(x, b))
    case 7 =>
      val n = anyNat(rnd)
      Op(s"writeNibble($n)", _.writeNibble(n), _.writeNibble(n), CodeLength.nibble(n))
    case 8 =>
      val b = 1 + rnd.nextInt(100000)
      val x = rnd.nextInt(b)
      Op(s"writeMinimalBinary($x, $b)", _.writeMinimalBinary(x, b),
        _.writeLongMinimalBinary(x.toLong, b.toLong), CodeLength.minimalBinary(x, b))
    case 9 =>
      val b = 1L + (anyNat(rnd) >>> 1)
      val x = (rnd.nextLong() >>> 1) % b
      Op(s"writeLongMinimalBinary($x, $b)", _.writeLongMinimalBinary(x, b),
        _.writeLongMinimalBinary(x, b), CodeLength.minimalBinary(x, b))
    case 10 =>
      val n = rnd.nextInt(100).toLong
      Op(s"writeOnes($n)", _.writeOnes(n), _.writeOnes(n), n)
    case _ =>
      val b = rnd.nextInt(2)
      Op(s"writeBit($b)", _.writeBit(b), _.writeBit(b), 1)
  }

  /** An unaligned start, then a run of ones spanning one to three buffers. */
  private def bufferRun(rnd: java.util.Random): Op = {
    val head = rnd.nextInt(8)
    val n = 8L * BitOutput.BufferBytes * (1 + rnd.nextInt(3)) + rnd.nextInt(8)
    Op(s"writeLong(0, $head) + writeOnes($n)",
      o => { o.writeLong(0L, head); o.writeOnes(n) },
      o => { o.writeLong(0L, head); o.writeOnes(n) }, head + n)
  }

  private def runBoth(ops: Seq[Op]): Long = {
    val realBytes = new java.io.ByteArrayOutputStream()
    val oracleBytes = new java.io.ByteArrayOutputStream()
    val real = new BitOutput(realBytes)
    val oracle = new OracleBitOutput(oracleBytes)
    ops.zipWithIndex.foreach { case (op, i) =>
      val before = oracle.writtenBits
      op.real(real); op.oracle(oracle)
      assert(real.writtenBits == oracle.writtenBits, s"writtenBits after op $i ${op.name}")
      assert(oracle.writtenBits - before == op.bits, s"CodeLength of op $i ${op.name}")
    }
    real.flush(); oracle.flush()
    assert(real.writtenBits == oracle.writtenBits, "writtenBits after flush")
    val (got, want) = (realBytes.toByteArray, oracleBytes.toByteArray)
    assert(got.length == want.length, "byte count after flush")
    val firstDiff = got.indices.find(i => got(i) != want(i))
    assert(firstDiff.isEmpty, s"bytes differ from byte ${firstDiff.getOrElse(-1)} of ${got.length}")
    realBytes.size.toLong
  }

  test("random code sequences: same bytes and writtenBits as the bit-at-a-time writer") {
    for (seed <- 1 to 60) {
      val rnd = new java.util.Random(seed)
      val ops = Seq.fill(2000)(randomOp(rnd))
      val (before, after) = ops.splitAt(rnd.nextInt(ops.size + 1))
      val bytes = runBoth(before ++ (bufferRun(rnd) +: after))
      assert(bytes > BitOutput.BufferBytes, "the sequence fits the internal buffer")
    }
  }

  test("short sequences of every length up to 40") {
    val rnd = new java.util.Random(7)
    for (n <- 0 to 40) {
      runBoth(Seq.fill(n)(randomOp(rnd)))
    }
  }

  test("writeOnes from every bit offset, across the buffer boundary") {
    for (head <- 0 to 7; n <- Seq(0L, 1L, 7L, 8L, 9L, 8L * BitOutput.BufferBytes - 3,
        8L * BitOutput.BufferBytes + 13)) {
      runBoth(Seq(
        Op(s"writeLong(5, $head)", _.writeLong(5L, head), _.writeLong(5L, head), head),
        Op(s"writeOnes($n)", _.writeOnes(n), _.writeOnes(n), n),
        Op("writeGamma(5)", _.writeGamma(5L), _.writeGamma(5L), CodeLength.gamma(5L))))
    }
  }

  test("CodeLength at every code's boundaries: small values and 2^k - 1, 2^k, 2^k + 1") {
    val values = (0L to 300L) ++
      (2 to 60).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 1))
    val ops = values.flatMap { n =>
      Seq(
        Op(s"writeGamma($n)", _.writeGamma(n), _.writeGamma(n), CodeLength.gamma(n)),
        Op(s"writeDelta($n)", _.writeDelta(n), _.writeDelta(n), CodeLength.delta(n)),
        Op(s"writeNibble($n)", _.writeNibble(n), _.writeNibble(n), CodeLength.nibble(n))) ++
        (1 to 7).filter(k => n < (1L << (62 - k))).map(k =>
          Op(s"writeZeta($n, $k)", _.writeZeta(n, k), _.writeZeta(n, k), CodeLength.zeta(n, k))) ++
        Seq(1, 2, 3, 5, 8, 255, 1000).filter(b => n / b < 4096).flatMap(b => Seq(
          Op(s"writeGolomb($n, $b)", _.writeGolomb(n, b), _.writeGolomb(n, b),
            CodeLength.golomb(n, b)),
          Op(s"writeSkewedGolomb($n, $b)", _.writeSkewedGolomb(n, b),
            _.writeSkewedGolomb(n, b), CodeLength.skewedGolomb(n, b)))) ++
        (if (n > 0) Seq(Op(s"writeLongMinimalBinary(${n - 1}, $n)",
          _.writeLongMinimalBinary(n - 1, n), _.writeLongMinimalBinary(n - 1, n),
          CodeLength.minimalBinary(n - 1, n))) else Nil) ++
        (if (n <= 4096) Seq(Op(s"writeUnary($n)", _.writeUnary(n.toInt),
          _.writeUnary(n.toInt), CodeLength.unary(n))) else Nil)
    }
    runBoth(ops)
  }
}
