package graft.bv

import org.scalatest.funsuite.AnyFunSuite

/** Deterministic web-like adjacency for encoder tests. Each list mixes the
  * shapes that drive every part of a BV record: near-copies of a recent
  * list (references and copy blocks), runs of consecutive ids (intervals),
  * gaps close to the source (small residuals), a few far links and some
  * empty lists. Lists are strictly ascending, duplicate-free, in [0, n).
  */
object WebLikeGraph {
  def apply(n: Int, seed: Long): Array[Array[Int]] = {
    val rnd = new java.util.Random(seed)
    val adj = new Array[Array[Int]](n)
    val s = scala.collection.mutable.SortedSet.empty[Int]
    def clamp(v: Int): Int = math.max(0, math.min(n - 1, v))
    var x = 0
    while (x < n) {
      s.clear()
      val kind = rnd.nextInt(10)
      if (kind != 0) {
        if (kind <= 4 && x > 0) {
          val src = adj(x - 1 - rnd.nextInt(math.min(x, 10)))
          src.foreach(v => if (rnd.nextInt(8) != 0) s += v)
        }
        if (rnd.nextInt(3) == 0) {
          val start = clamp(x + rnd.nextInt(200) - 100)
          val len = 2 + rnd.nextInt(10)
          var k = 0
          while (k < len && start + k < n) { s += start + k; k += 1 }
        }
        var near = rnd.nextInt(6)
        while (near > 0) { s += clamp(x + (rnd.nextGaussian() * 30).toInt); near -= 1 }
        if (rnd.nextInt(4) == 0) s += rnd.nextInt(n)
      }
      adj(x) = s.toArray
      x += 1
    }
    adj
  }
}

/** Pinned encoder output: the SHA-256 of the `.graph`, `.offsets` and
  * `.properties` bytes of one web-like graph under seven coding variants.
  * The round-trip specs cannot notice a changed reference choice or
  * interval split — a worse encoding still decodes — so any change to the
  * encoder or to [[BitOutput]] must leave these hashes as they are. A
  * deliberate format change re-pins them in the same commit.
  */
class BvPinnedOutputSpec extends AnyFunSuite {

  private val adj = WebLikeGraph(20000, 1L)

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  private def encodeLong(p: BvProperties, lists: Array[Array[Long]]): (Array[Byte], Array[Byte], String) = {
    val enc = new BvEncoder(p)
    val bos = new java.io.ByteArrayOutputStream()
    val st = new enc.Stream(bos)
    lists.foreach(st.append)
    val (offsets, propsText) = st.finish()
    (bos.toByteArray, offsets, propsText)
  }

  private def check(encoded: (Array[Byte], Array[Byte], String),
      graph: String, offsets: String, properties: String): Unit = {
    val (g, o, p) = encoded
    assert(sha256(g) == graph, "graph bytes changed")
    assert(sha256(o) == offsets, "offsets bytes changed")
    assert(sha256(p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) == properties,
      "properties bytes changed")
  }

  private def encodeInt(p: BvProperties) = new BvEncoder(p).encode(adj)

  test("the test graph exercises references, intervals and residuals") {
    val (g, o, propsText) = encodeInt(BvProperties(0, 0))
    val (noRefs, _, _) = encodeInt(BvProperties(0, 0, windowSize = 0))
    val (noIntervals, _, _) = encodeInt(BvProperties(0, 0, minIntervalLength = 0))
    assert(g.length < noRefs.length, "references never pay off")
    assert(g.length < noIntervals.length, "intervals never pay off")
    val decoded = new BvGraph(BvProperties.parse(propsText),
      new ArrayBytes(g), new ArrayBytes(o)).iterator.map(_._2).toArray
    assert(decoded.length == adj.length)
    assert(decoded.zip(adj).forall(t => t._1.sameElements(t._2)))
  }

  test("pinned bytes: default codings") {
    check(encodeInt(BvProperties(0, 0)),
      "52c405f27ba13d61598236531b335d595c6578ca39c8e14e5120747fe7804e9d",
      "adc589fc4dd79f60f6df392576d9ad2b637fe6a6ded185cc6cec036b7656129f",
      "08154d1dd36c8614a844a34fe24b1fe8f8b04d49cb7a3de66a8d925c3d438ac9")
  }

  test("pinned bytes: windowsize=0") {
    check(encodeInt(BvProperties(0, 0, windowSize = 0)),
      "9e02734507247da4ca35453c2b4f6b7902fba263b4c80cfcdf852f0426dd9295",
      "07b33fff321f24440400d6994863422d9205fbe2e906d2726e58b5ab919a1827",
      "e35d179e060b6a1caa3b32fcc961129d91f0a6b79a5eccc6a696e2b42b2a2a63")
  }

  test("pinned bytes: minintervallength=0") {
    check(encodeInt(BvProperties(0, 0, minIntervalLength = 0)),
      "81dcab2d9a8b6f4a6c18d841aea32ee97f3d17020f0405a556a68684aadfd4e7",
      "6c2f636641b2b23f0d39c3192660c5afc08c1897b9bee19dfc0fd314d5ae1bf3",
      "6b5dc28df54db98096d06d95672743422470bdb56961e4c91444f6a45e005817")
  }

  test("pinned bytes: delta residuals and blocks") {
    check(encodeInt(BvProperties(0, 0, codings =
      StreamCodings(residual = Coding.DELTA, block = Coding.DELTA))),
      "3183075061f9b5567d8d22e4b72fdac538484a3f53ce5fdb6dafb8119b123596",
      "7cc2a7fe1449e3403dae443c2fad583f9eb915b4a7940333aee45468fedcf99f",
      "74da2263fd7031a885303c4e16994265c195d9c39137aa75552cc01c45d8ea9f")
  }

  test("pinned bytes: nibble on every stream") {
    val nibble = Coding.NIBBLE
    check(encodeInt(BvProperties(0, 0, codings = StreamCodings(nibble, nibble,
      nibble, nibble, nibble, nibble))),
      "5bf96188a03f43af7680eae24bdc16f3e521acfa6ea281fae0aa40f463f1027e",
      "d62dc79d947ec7ef6b21a8c4dd6eaa84dd22912d8490e19e3a17c8f9c8bffe79",
      "863bb70bb4c2ddd27d38bfb16e969aa55bc20c2ac89d9b6a3f79a0f44de13eb1")
  }

  test("pinned bytes: golomb with skewed-golomb block counts") {
    check(encodeInt(BvProperties(0, 0, codings = StreamCodings(
      residual = Coding.GOLOMB, block = Coding.GOLOMB,
      blockCount = Coding.SKEWED_GOLOMB))),
      "3a407ea9d763c8cf7e9ed22f83af1c66c91882125c1ca044b111f1686954dda0",
      "06f52c0d19432080695e2a9da9091bffb7c43d56e7d04c2e6c0e1bc491d54e19",
      "d85f02c5c6a819d55500741ca844e51a9ad54c8ec29e67ca16b9550bd28bf8c3")
  }

  test("pinned bytes: zeta_5 with firstNode=123456789") {
    val base = 123456789L
    val shifted = adj.map(_.map(_.toLong + base))
    check(encodeLong(BvProperties(0, 0, zetaK = 5, firstNode = base), shifted),
      "c638b6f459ca95b309b250437f7f4fbddb001fc71b20cf52b4c2dd4c8fa2e21f",
      "a4b65b59c99ff1f2fa5720f35574155514f2d40b5868ef927b9aa67d006feb68",
      "cdb0ecc120ab6a8b5306375da11030b26aa24d21dde20f85df3bae5e3bf78cf0")
  }
}
