package graft.bv

/** Offsets (re)generation — the engine's version of the ONLY sink the
  * reference ships: rebuilding the `.offsets` sidecar for an existing
  * `.graph` by one sequential decode pass (writeOffsets,
  * /root/reference/src/main/java/de/l3s/mapreduce/webgraph/patched/HdfsBVGraph.java:393-407,
  * driven by the repo's offsets MapReduce job).
  *
  * Needed when offsets were never produced, were lost, or are corrupt; a
  * graph opened via [[BvGraph.NoOffsets]] decodes sequentially without an
  * index, and this job re-derives the index the splittable scan requires.
  * On a cluster this runs once per (sharded) graph file — shards
  * regenerate independently and in parallel, since every shard is a
  * standalone BV triple.
  */
object BvOffsets {

  /** Gap-encode absolute bit offsets with the properties' offset coding —
    * the exact wire format [[BvGraph.decodeOffsets]] reads (and
    * [[BvEncoder]]'s Stream.finish emits). */
  def encode(offsets: Array[Long], props: BvProperties): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new BitOutput(bos)
    var prev = 0L
    var i = 0
    while (i < offsets.length) {
      val o = offsets(i)
      val gap = o - prev
      props.codings.offset match {
        case Coding.GAMMA => out.writeGamma(gap)
        case Coding.DELTA => out.writeDelta(gap)
        case Coding.ZETA => out.writeZeta(gap, props.zetaK)
        case Coding.UNARY => out.writeUnary(gap.toInt)
        case Coding.NIBBLE => out.writeNibble(gap)
        case Coding.GOLOMB => out.writeGolomb(gap, props.golombModulus)
        case Coding.SKEWED_GOLOMB =>
          out.writeSkewedGolomb(gap, props.golombModulus)
        case c => throw new IllegalStateException(s"offset coding $c unsupported")
      }
      prev = o
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** Rebuild the `.offsets` byte stream for an existing `.graph`. */
  def regenerate(props: BvProperties, graph: SeekableBytes): Array[Byte] = {
    val g = new BvGraph(props, graph, BvGraph.NoOffsets)
    try encode(g.rebuildOffsets(), props) finally g.release()
  }

  /** Local-file convenience: read `<basename>.{properties,graph}`, write a
    * fresh `<basename>.offsets`. The index is written to a temp file and
    * atomically renamed into place (same pattern as the shard writer) — a
    * crash mid-write must not leave a truncated `.offsets` that
    * [[BvGraph.decodeOffsets]] would silently read as bogus offsets. */
  def regenerate(basename: String): Unit = {
    val propsText = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(basename + ".properties")),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val props = BvProperties.parse(propsText)
    val bytes = regenerate(props,
      new FileBytes(java.nio.file.Paths.get(basename + ".graph")))
    val target = java.nio.file.Paths.get(basename + ".offsets")
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

}
