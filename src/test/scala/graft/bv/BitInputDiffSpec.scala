package graft.bv

import org.scalatest.funsuite.AnyFunSuite

object BitInputDiffSpec {
  /** The straightforward reader: one bit at a time straight from the
    * bytes, zeros past the end. */
  private final class OracleBitInput(data: Array[Byte]) {
    var bitPosition = 0L

    def readBit(): Int = {
      val i = bitPosition >>> 3
      val b = if (i < data.length) (data(i.toInt) >> (7 - (bitPosition & 7).toInt)) & 1 else 0
      bitPosition += 1
      b
    }

    def readLong(len: Int): Long = {
      var x = 0L
      var i = 0
      while (i < len) { x = (x << 1) | readBit(); i += 1 }
      x
    }
  }

  /** Serves at most `k` bytes per `readAt`, like a stream that returns
    * short reads. */
  private final class ChunkedBytes(data: Array[Byte], k: Int) extends SeekableBytes {
    private val whole = new ArrayBytes(data)
    def length: Long = whole.length
    def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
      whole.readAt(pos, buf, off, math.min(len, k))
  }

  /** One written code: how to write it, how to read it back, and its
    * value as the reader returns it. */
  private final case class Code(name: String, write: BitOutput => Unit,
      read: BitInput => Long, value: Long)
}

/** Differential test of [[BitInput]]'s refill: random sequences of every
  * code, written by [[BitOutput]], must read back with the written values
  * and with `bitPosition` at each code's written end — through every
  * buffer size from 1 to 24 bytes (below 8 bytes the whole-word load never
  * runs), from every code start via `position()`, and from sources that
  * return at most k bytes per `readAt`. Raw reads from every start bit,
  * including reads that straddle the last byte or run past it, must match
  * a bit-at-a-time reader.
  */
class BitInputDiffSpec extends AnyFunSuite {

  import BitInputDiffSpec._

  private def anyNat(rnd: java.util.Random, bits: Int): Long =
    rnd.nextLong() >>> (64 - 1 - rnd.nextInt(bits))

  private def randomCode(rnd: java.util.Random): Code = rnd.nextInt(11) match {
    case 0 =>
      val len = rnd.nextInt(65)
      val x = if (len == 0) 0L else rnd.nextLong() >>> (64 - len)
      Code(s"long($x, $len)", _.writeLong(x, len), _.readLong(len), x)
    case 1 =>
      val n = rnd.nextInt(if (rnd.nextBoolean()) 8 else 300)
      Code(s"unary($n)", _.writeUnary(n), _.readUnary().toLong, n.toLong)
    case 2 =>
      val n = anyNat(rnd, 40)
      Code(s"gamma($n)", _.writeGamma(n), _.readLongGamma(), n)
    case 3 =>
      val n = anyNat(rnd, 30)
      Code(s"intGamma($n)", _.writeGamma(n), _.readGamma().toLong, n)
    case 4 =>
      val n = anyNat(rnd, 60)
      Code(s"delta($n)", _.writeDelta(n), _.readLongDelta(), n)
    case 5 =>
      val k = 1 + rnd.nextInt(7)
      val n = anyNat(rnd, 50)
      Code(s"zeta($n, $k)", _.writeZeta(n, k), _.readLongZeta(k), n)
    case 6 =>
      val n = anyNat(rnd, 60)
      Code(s"nibble($n)", _.writeNibble(n), _.readLongNibble(), n)
    case 7 =>
      val b = 1 + rnd.nextInt(1000)
      val x = rnd.nextInt(50 * b).toLong
      Code(s"golomb($x, $b)", _.writeGolomb(x, b), _.readLongGolomb(b), x)
    case 8 =>
      val b = 1 + rnd.nextInt(1000)
      val x = anyNat(rnd, 40)
      Code(s"skewedGolomb($x, $b)", _.writeSkewedGolomb(x, b), _.readLongSkewedGolomb(b), x)
    case 9 =>
      val b = 1 + rnd.nextInt(100000)
      val x = rnd.nextInt(b)
      Code(s"minimalBinary($x, $b)", _.writeMinimalBinary(x, b),
        _.readMinimalBinary(b).toLong, x.toLong)
    case _ =>
      val b = rnd.nextInt(2)
      Code(s"bit($b)", _.writeBit(b), _.readBit().toLong, b.toLong)
  }

  /** The stream's bytes and each code's start bit (plus the end). */
  private def write(codes: Seq[Code]): (Array[Byte], Array[Long]) = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new BitOutput(bytes)
    val starts = new Array[Long](codes.size + 1)
    codes.zipWithIndex.foreach { case (c, i) => starts(i) = out.writtenBits; c.write(out) }
    starts(codes.size) = out.writtenBits
    out.flush()
    (bytes.toByteArray, starts)
  }

  private def readFrom(in: BitInput, codes: Seq[Code], starts: Array[Long], first: Int,
      what: String): Unit = {
    var i = first
    while (i < codes.size) {
      val c = codes(i)
      assert(c.read(in) == c.value, s"$what: code $i ${c.name}")
      assert(in.bitPosition == starts(i + 1), s"$what: bitPosition after code $i ${c.name}")
      i += 1
    }
  }

  private val bufferSizes = 1 to 24
  private val chunks = Seq(1, 2, 3, 5, 8, 13, Int.MaxValue)

  test("random code sequences read back through every buffer size and short reads") {
    for (seed <- 1 to 8) {
      val rnd = new java.util.Random(seed)
      val codes = Seq.fill(300)(randomCode(rnd))
      val (data, starts) = write(codes)
      for (size <- bufferSizes; k <- chunks)
        readFrom(new BitInput(new ChunkedBytes(data, k), size), codes, starts, 0,
          s"seed $seed, buffer $size, chunk $k")
    }
  }

  test("every code start reached by position() reads the rest back") {
    val rnd = new java.util.Random(42)
    val codes = Seq.fill(120)(randomCode(rnd))
    val (data, starts) = write(codes)
    for (size <- bufferSizes; k <- Seq(3, Int.MaxValue)) {
      // one input across all starts: positions inside and outside its buffer
      val in = new BitInput(new ChunkedBytes(data, k), size)
      for (first <- codes.indices.reverse) {
        in.position(starts(first))
        assert(in.bitPosition == starts(first))
        readFrom(in, codes, starts, first, s"buffer $size, chunk $k, from code $first")
      }
    }
  }

  test("raw reads from every start bit match the bit-at-a-time reader, past the last byte too") {
    val rnd = new java.util.Random(7)
    val data = Array.fill(40)(rnd.nextInt(256).toByte)
    val bits = 8L * data.length
    for (size <- bufferSizes; k <- Seq(1, 5, Int.MaxValue)) {
      val in = new BitInput(new ChunkedBytes(data, k), size)
      for (start <- 0L until bits) {
        in.position(start)
        val oracle = new OracleBitInput(data)
        oracle.bitPosition = start
        var len = 1 + (start % 64).toInt
        while (oracle.bitPosition + len <= bits) {
          assert(in.readLong(len) == oracle.readLong(len), s"buffer $size, chunk $k, start $start")
          assert(in.bitPosition == oracle.bitPosition, s"buffer $size, chunk $k, start $start")
          len = 1 + (len * 7 + 3) % 64
        }
        // the last read straddles the end: zero-padded, like the oracle
        assert(in.readLong(len) == oracle.readLong(len), s"padded read, buffer $size, start $start")
      }
    }
  }
}
