package graft.bv

import java.io.EOFException

/** Random-access byte source for the bit streams. One source serves every
  * reader of a graph; each decode walk reads it through its own
  * [[BitInput]]s (one sequential, one for reference chains — the
  * reference's temp-stream pool, patched/HdfsBVGraph.java:45-49).
  * `toString` names the source in decode errors.
  */
trait SeekableBytes {
  def length: Long
  /** Read up to `len` bytes at absolute position `pos`; returns bytes read,
    * -1 at EOF. */
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int
  /** Release any underlying OS handle (file channel / HDFS stream).
    * Long-lived executors scanning many graphs would otherwise leak two
    * fds per evicted cache entry. */
  def close(): Unit = ()
}

final class ArrayBytes(data: Array[Byte]) extends SeekableBytes {
  def length: Long = data.length.toLong
  override def toString: String = s"<${data.length} bytes in memory>"
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    if (pos >= data.length) return -1
    val n = math.min(len.toLong, data.length - pos).toInt
    System.arraycopy(data, pos.toInt, buf, off, n)
    n
  }
}

final class FileBytes(path: java.nio.file.Path) extends SeekableBytes {
  private val ch = java.nio.channels.FileChannel.open(path,
    java.nio.file.StandardOpenOption.READ)
  def length: Long = ch.size()
  override def toString: String = path.toString
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    ch.read(java.nio.ByteBuffer.wrap(buf, off, len), pos)
  override def close(): Unit = ch.close()
}

/** MSB-first bit input with γ/δ/ζ_k/unary/minimal-binary decoders, matching
  * the WebGraph/dsiutils wire formats (SURVEY.md §2.2). Buffered and
  * repositionable: `position(bitPos)` is the decoder's random-access
  * primitive (offsets are bit positions —
  * /root/reference/.../patched/HdfsBVGraph.java:75).
  *
  * Hot path: a 64-bit accumulator holds up to 63 look-ahead bits so γ/ζ
  * reads are a couple of shifts in the common case. It is topped up with
  * one big-endian 8-byte load while at least 8 buffered bytes remain; the
  * last 7 bytes of a buffer, EOF (zero-padded) and short `readAt` returns
  * take the byte-at-a-time path, so both paths consume the same bits.
  */
final class BitInput(bytes: SeekableBytes, bufferSize: Int = 1 << 16) {
  private val buf = new Array[Byte](bufferSize)
  private val words = java.nio.ByteBuffer.wrap(buf) // big-endian view of buf
  private lazy val maxUnaryBits = 8L * bytes.length
  private var bufStart: Long = 0L // absolute byte pos of buf(0)
  private var bufLen: Int = 0 // valid bytes in buf
  private var ptr: Int = 0 // next byte index within buf
  private var acc: Long = 0L // low `fill` bits are unread, MSB-first
  private var fill: Int = 0

  /** Absolute bit position of the next unread bit. */
  def bitPosition: Long = (bufStart + ptr) * 8 - fill

  def position(bitPos: Long): Unit = {
    val bytePos = bitPos >>> 3
    acc = 0L
    fill = 0
    if (bytePos >= bufStart && bytePos < bufStart + bufLen) {
      ptr = (bytePos - bufStart).toInt
    } else {
      bufStart = bytePos
      bufLen = 0
      ptr = 0
    }
    val skip = (bitPos & 7L).toInt
    if (skip > 0) readLong(skip)
  }

  private def nextByte(): Int = {
    if (ptr >= bufLen) {
      bufStart += bufLen
      ptr = 0
      bufLen = math.max(bytes.readAt(bufStart, buf, 0, buf.length), 0)
      if (bufLen == 0) return -1 // EOF: caller decides (zero-pad vs throw)
    }
    val b = buf(ptr) & 0xff
    ptr += 1
    b
  }

  /** Pull bytes until ≥ n bits buffered (n ≤ 56). Zero-pads at EOF — bit
    * streams are zero-padded to a byte boundary, so a read that straddles
    * the final byte must see zeros, and a read truly past EOF is a caller
    * bug caught by the unary guard below.
    */
  private def ensure(n: Int): Unit =
    if (fill < n) {
      if (ptr + 8 <= bufLen) loadWord()
      else
        while (fill < n) {
          val b = nextByte()
          acc = (acc << 8) | (if (b < 0) 0L else b.toLong)
          fill += 8
        }
    }

  /** Top the accumulator up from the next 8 buffered bytes (the caller
    * checked that they are there): as many whole bytes as fit under 64
    * bits, k in [1, 7], so fill >= 56 afterwards. */
  private def loadWord(): Unit = {
    val k = (63 - fill) >>> 3
    acc = (acc << (k << 3)) | (words.getLong(ptr) >>> (64 - (k << 3)))
    ptr += k
    fill += k << 3
  }

  def readLong(len: Int): Long = {
    if (len == 0) return 0L
    if (len <= 56) {
      ensure(len)
      fill -= len
      (acc >>> fill) & (if (len == 64) -1L else (1L << len) - 1)
    } else {
      val hi = readLong(len - 32)
      val lo = readLong(32)
      (hi << 32) | lo
    }
  }

  def readInt(len: Int): Int = readLong(len).toInt

  def readBit(): Int = readLong(1).toInt

  /** Unary: count of 0-bits before the next 1-bit. */
  def readUnary(): Int = {
    var count = 0
    while (true) {
      if (fill == 0) ensure(1)
      val chunk = acc & ((1L << fill) - 1)
      if (chunk == 0L) {
        count += fill
        fill = 0
        // runaway zero-run ⇒ read past logical EOF. Bounded by the stream's
        // total bit length (not a fixed constant): a legal unary value can
        // exceed any fixed guard — e.g. OFFSETS_UNARY with one node record
        // longer than the guard — but can never exceed the stream itself.
        if (count > maxUnaryBits)
          throw new EOFException(s"unary run exceeded stream length at bit $bitPosition")
      } else {
        val top = 63 - java.lang.Long.numberOfLeadingZeros(chunk)
        count += fill - 1 - top
        fill = top // consumes the zeros and the terminating 1
        return count
      }
    }
    0 // unreachable
  }

  def readGamma(): Int = {
    val msb = readUnary()
    ((1L << msb) | readLong(msb)).toInt - 1
  }

  def readLongGamma(): Long = {
    val msb = readUnary()
    ((1L << msb) | readLong(msb)) - 1
  }

  def readDelta(): Int = readLongDelta().toInt

  def readLongDelta(): Long = {
    val msb = readGamma()
    ((1L << msb) | readLong(msb)) - 1
  }

  def readZeta(k: Int): Int = readLongZeta(k).toInt

  def readLongZeta(k: Int): Long = {
    val h = readUnary()
    val left = 1L << (h * k)
    val m = readLong(h * k + k - 1)
    if (m < left) m + left - 1
    else (m << 1) + readBit() - 1
  }

  /** Minimal binary (truncated binary) code for values in [0, b):
    * the first 2^(s+1)-b values take s bits, the rest s+1 (s = ⌊log2 b⌋) —
    * the Golomb-family remainder code (dsiutils InputBitStream wire
    * format). */
  def readMinimalBinary(b: Int): Int = {
    val log2b = 31 - Integer.numberOfLeadingZeros(b)
    val m = (1 << (log2b + 1)) - b
    val x = readInt(log2b)
    if (x < m) x else (x << 1) + readBit() - m
  }

  /** Long-bound minimal binary: skewed-Golomb windows are 2^i · b and
    * routinely exceed 2^31 on big-graph offset gaps, so the bound must be
    * a Long (b < 2^62). */
  def readLongMinimalBinary(b: Long): Long = {
    val log2b = 63 - java.lang.Long.numberOfLeadingZeros(b)
    val m = (1L << (log2b + 1)) - b
    val x = readLong(log2b)
    if (x < m) x else (x << 1) + readBit() - m
  }

  /** Golomb code with modulus b: quotient unary, remainder minimal
    * binary. */
  def readGolomb(b: Int): Int = {
    if (b == 0) return 0
    readUnary() * b + readMinimalBinary(b)
  }

  def readLongGolomb(b: Int): Long = {
    if (b == 0) return 0L
    readUnary().toLong * b + readMinimalBinary(b)
  }

  /** Skewed Golomb: doubling windows [ (2^i - 1)b, (2^(i+1) - 1)b ) —
    * window index unary, position-in-window minimal binary. */
  def readSkewedGolomb(b: Int): Int = readLongSkewedGolomb(b).toInt

  def readLongSkewedGolomb(b: Int): Long = {
    // window i starts at (2^i - 1)·b and is 2^i·b wide; both can exceed
    // 2^31 (offset gaps on a big graph), hence the Long minimal binary
    val i = readUnary()
    val m = ((1L << i) - 1L) * b
    m + readLongMinimalBinary((1L << i) * b)
  }

  /** Variable-length nibble code: groups of 1 stop bit (1 = last) + 3 data
    * bits, most-significant group first. */
  def readNibble(): Int = readLongNibble().toInt

  def readLongNibble(): Long = {
    var x = 0L
    var stop = 0
    do {
      x <<= 3
      stop = readBit()
      x |= readLong(3)
    } while (stop == 0)
    x
  }
}

/** MSB-first bit output, symmetric to [[BitInput]]. Bits are packed into
  * a 64-bit accumulator and drained as whole bytes into an internal byte
  * buffer, which goes to the stream in one `write` whenever it fills and
  * on `flush()` — so the stream lags `writtenBits` until `flush()`.
  * `writtenBits` feeds the offsets stream.
  *
  * Every code below is built from three primitives: `writeLong`,
  * `writeUnary` and `writeOnes`. [[CodeLength]] gives each code's length
  * without writing it.
  */
final class BitOutput(out: java.io.OutputStream) {
  private val buf = new Array[Byte](BitOutput.BufferBytes)
  private var pos: Int = 0 // bytes pending in buf
  private var acc: Long = 0L // the low `fill` bits are pending, oldest first
  private var fill: Int = 0 // < 8 between calls
  private var written: Long = 0L

  def writtenBits: Long = written

  def writeBit(b: Int): Unit = writeLong(b.toLong, 1)

  /** Write the low `len` bits of x (0 <= len <= 64), MSB first. */
  def writeLong(x: Long, len: Int): Unit = {
    if (len > 56) { // keep fill + len within the accumulator
      writeLong(x >>> 32, len - 32)
      writeLong(x, 32)
    } else {
      acc = (acc << len) | (x & ((1L << len) - 1))
      fill += len
      written += len
      while (fill >= 8) {
        fill -= 8
        if (pos == buf.length) drain()
        buf(pos) = (acc >>> fill).toByte
        pos += 1
      }
    }
  }

  def writeUnary(n: Int): Unit = {
    require(n >= 0, s"unary needs n >= 0, got $n")
    var zeros = n
    while (zeros >= 32) { writeLong(0L, 32); zeros -= 32 }
    writeLong(1L, zeros + 1)
  }

  def writeGamma(n: Long): Unit = {
    require(n >= 0, s"gamma needs n >= 0, got $n")
    val v = n + 1
    val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
    writeUnary(msb)
    writeLong(v, msb) // v without its MSB, in msb bits (writeLong masks)
  }

  def writeDelta(n: Long): Unit = {
    require(n >= 0)
    val v = n + 1
    val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
    writeGamma(msb)
    writeLong(v, msb)
  }

  def writeZeta(n: Long, k: Int): Unit = {
    require(n >= 0)
    val v = n + 1
    val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val h = msb / k
    writeUnary(h)
    val left = 1L << (h * k)
    if (v - left < left) writeLong(v - left, h * k + k - 1)
    else writeLong(v, h * k + k)
  }

  /** Minimal binary for x in [0, b) — see [[BitInput.readMinimalBinary]]. */
  def writeMinimalBinary(x: Int, b: Int): Unit =
    writeLongMinimalBinary(x.toLong, b.toLong)

  /** Long-bound variant (b < 2^62) — see
    * [[BitInput.readLongMinimalBinary]]. */
  def writeLongMinimalBinary(x: Long, b: Long): Unit = {
    require(b > 0 && x >= 0 && x < b, s"minimal binary needs 0 <= $x < $b")
    val log2b = 63 - java.lang.Long.numberOfLeadingZeros(b)
    val m = (1L << (log2b + 1)) - b
    if (x < m) writeLong(x, log2b)
    else writeLong(x + m, log2b + 1)
  }

  def writeGolomb(x: Int, b: Int): Unit = writeGolomb(x.toLong, b)

  def writeGolomb(x: Long, b: Int): Unit = {
    require(b > 0 && x >= 0)
    val q = x / b
    require(q <= Int.MaxValue, s"golomb quotient $q overflows the unary run")
    writeUnary(q.toInt)
    writeMinimalBinary((x % b).toInt, b)
  }

  def writeSkewedGolomb(x: Int, b: Int): Unit = writeSkewedGolomb(x.toLong, b)

  def writeSkewedGolomb(x: Long, b: Int): Unit = {
    require(b > 0 && x >= 0)
    val i = 63 - java.lang.Long.numberOfLeadingZeros(x / b + 1)
    writeUnary(i)
    // window i = [ (2^i - 1)·b, (2^(i+1) - 1)·b ), width 2^i·b — Long-wide
    val m = ((1L << i) - 1L) * b
    writeLongMinimalBinary(x - m, (1L << i) * b)
  }

  def writeNibble(n: Long): Unit = {
    require(n >= 0)
    val msb = if (n == 0) 0 else 63 - java.lang.Long.numberOfLeadingZeros(n)
    var h = msb / 3
    while (h >= 0) {
      // stop bit (1 on the last group) + 3 data bits
      writeLong((if (h == 0) 8L else 0L) | ((n >>> (h * 3)) & 7L), 4)
      h -= 1
    }
  }

  /** Emit `n` '1' bits — the bulk path for runs of γ(0) records
    * (degree-0 nodes): once byte-aligned, whole 0xFF bytes are filled
    * into the buffer instead of being shifted through the accumulator.
    * A 2^31-node gap shard encodes in one pass of ~256 MB byte fills
    * rather than stalling the driver at commit time. */
  def writeOnes(n: Long): Unit = {
    val head = math.min(n, ((8 - fill) & 7).toLong).toInt
    writeLong(-1L, head) // up to the next byte boundary
    var left = n - head
    while (left >= 8) {
      if (pos == buf.length) drain()
      val bytes = math.min(left / 8, (buf.length - pos).toLong).toInt
      java.util.Arrays.fill(buf, pos, pos + bytes, 0xFF.toByte)
      pos += bytes
      written += 8L * bytes
      left -= 8L * bytes
    }
    writeLong(-1L, left.toInt)
  }

  private def drain(): Unit = {
    if (pos > 0) out.write(buf, 0, pos)
    pos = 0
  }

  /** Pad the final partial byte with zeros and flush the buffer and the
    * stream. */
  def flush(): Unit = {
    if (fill != 0) writeLong(0L, 8 - fill)
    drain()
    out.flush()
  }
}

object BitOutput {
  /** Bytes buffered between writes to the underlying stream. */
  private[bv] val BufferBytes = 1 << 16
}

/** The number of bits each [[BitOutput]] code takes, computed without
  * writing it: the encoder prices reference candidates with these. Each
  * takes the arguments of the `BitOutput` write of the same name. */
object CodeLength {
  private def msb(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)

  def unary(n: Long): Long = n + 1

  def gamma(n: Long): Long = 2L * msb(n + 1) + 1

  def delta(n: Long): Long = {
    val m = msb(n + 1)
    gamma(m) + m
  }

  def zeta(n: Long, k: Int): Long = {
    val v = n + 1
    val h = msb(v) / k
    val left = 1L << (h * k)
    (h + 1L) + h * k + k - (if (v - left < left) 1 else 0)
  }

  def minimalBinary(x: Long, b: Long): Long = {
    val log2b = msb(b)
    if (x < (1L << (log2b + 1)) - b) log2b else log2b + 1L
  }

  def golomb(x: Long, b: Int): Long = x / b + 1 + minimalBinary(x % b, b)

  def skewedGolomb(x: Long, b: Int): Long = {
    val i = msb(x / b + 1)
    i + 1L + minimalBinary(x - ((1L << i) - 1L) * b, (1L << i) * b)
  }

  def nibble(n: Long): Long = 4L * ((if (n == 0) 0 else msb(n)) / 3 + 1)
}

object ZigZag {
  /** dsiutils Fast.int2nat: signed -> natural (zigzag). */
  def int2nat(x: Long): Long = (x << 1) ^ (x >> 63)
  /** dsiutils Fast.nat2int: natural -> signed. */
  def nat2int(v: Long): Long = (v >>> 1) ^ -(v & 1)
}
