package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Similarity search over the `embeddings` table (builder brief, SURVEY.md
  * §2.4): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH bucketed variant as the 100 TB scale path.
  *
  * Numerics: vectors are widened float->double before any arithmetic
  * (float products are exactly representable in double), dot products fold
  * left-to-right, norms are precomputed per vector — so results are
  * deterministic and the DuckDB oracle reproduces them bit-for-bit.
  * Similarities surface as floor(sim*1e6) ints, never raw floats.
  *
  * Scale notes: the query side is broadcast (a handful of probe vectors
  * against the corpus — the realistic ANN shape); the corpus side streams
  * through a single scan, and top-k per query is a partial-aggregated
  * window (rank <= k prunes before the final shuffle under AQE). The LSH
  * variant cuts the scanned corpus to one bucket per query: at 1000
  * executors the bucket join is a shuffle on (bucket), each bucket a few
  * thousandths of the corpus.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  import org.apache.spark.sql.graftbridge.Exprs
  import graft.functions.VecDot

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Codegen'd dot product (graft.functions.VecDot) — same fold order as
    * the oracle's list_reduce, ~20x the interpreted HOF pipeline. */
  def dot(a: Column, b: Column): Column =
    Exprs.toColumn(VecDot(Exprs.toExpr(a), Exprs.toExpr(b)))

  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Deterministic random-hyperplane signs: plane p, dimension d ->
    * sign(mix64(p*1024 + d)). 6 planes = 64 buckets. Sign vectors are
    * computed once at plan time and embedded as array literals, so the
    * per-row work is `planes` codegen'd dot products — not per-element
    * hashing. */
  private def srpBucket(v: Column, planes: Int, dims: Int = 64): Column =
    srpBandBucket(v, 0, planes, dims)

  /** One SRP band bucket: `bits` sign bits from planes
    * [firstPlane, firstPlane+bits). Same deterministic plane family as
    * [[srpBucket]]. */
  private def srpBandBucket(v: Column, firstPlane: Int, bits: Int,
      dims: Int): Column =
    (0 until bits).map { j =>
      val p = firstPlane + j
      val signs = Array.tabulate(dims)(d =>
        if (graft.functions.SketchAggs.mix64(p * 1024L + d) >= 0) 1.0 else -1.0)
      when(dot(v, typedLit(signs)) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Banded SRP signature: `bands` independent buckets of `bitsPerBand`
    * sign bits each (array element b = band b's bucket). Two vectors at
    * angle θ collide in one band with prob (1-θ/π)^bitsPerBand — near-dup
    * pairs (θ→0) collide in essentially every band, while the isotropic
    * bulk spreads over 2^bitsPerBand buckets per band. The LSH prefilter
    * for [[graft.queries.DedupQueries]]'s embedding near-dup join. */
  def srpBands(v: Column, bands: Int, bitsPerBand: Int, dims: Int = 64): Column =
    array((0 until bands).map(b =>
      srpBandBucket(v, b * bitsPerBand, bitsPerBand, dims)): _*)

  /** Two exact integer Lloyd iterations over a `(vec_id, xs)` frame
    * (xs: non-negative quantized BIGINT dims) — the engine behind
    * `cluster_kmeans`, shared with [[graft.EmbedScaleRehearsal]] so the
    * rehearsed path IS the production path. Init = the k lowest vec_ids;
    * assignment broadcasts the k×dim centroid table (the corpus never
    * shuffles); the update is one posexplode + partial-aggregated
    * (cluster, dim) integer sum with floor-division centroids. Returns
    * `(vec_id, c1, c2, d2)` — both assignments and the exact squared
    * distance to the iteration-2 centroid. */
  def lloydTwoSteps(e: DataFrame, k: Int): DataFrame = {
    // ‖x−c‖² = x·x − 2·x·c + c·c: codegen'd integer dot products
    // (graft.functions.VecDotLong) instead of an interpreted
    // aggregate(zip_with(...)) per (vector, centroid) pair. Centroids
    // are k×dim integers — BOUNDED driver scalars, like every Lloyd
    // implementation's — embedded as array LITERALS, so each assignment
    // round is ONE map-only codegen'd projection over the corpus: no
    // crossJoin row expansion, no re-grouping shuffle, zero exchanges.
    // Exact BIGINT: quantized dims stay ≤ ~5·10³ over ≤128 dims, so
    // every dot ≤ 128·(5·10³)² ≈ 3.2e9 ≪ 2⁶³.
    def dotL(a: Column, b: Column): Column =
      Exprs.toColumn(graft.functions.VecDotLong(
        Exprs.toExpr(a), Exprs.toExpr(b)))
    // cents: (cid -> centroid dims), cid-ascending; argmin ties resolve
    // to the LOWEST cid via the when-chain order (same total order as a
    // min over struct(d, cid)).
    def assign(vecs: DataFrame, cents: Seq[(Long, Seq[Long])],
        outCol: String): DataFrame = {
      val withXx = vecs.withColumn("_xx", dotL(col("xs"), col("xs")))
      val ds = cents.map { case (cid, cs) =>
        val cc = cs.map(x => x * x).sum
        cid -> (col("_xx") - lit(2L) * dotL(col("xs"), typedLit(cs)) + lit(cc))
      }
      val withD = ds.foldLeft(withXx) { case (df, (cid, d)) =>
        df.withColumn(s"_d$cid", d)
      }
      val dmin = least(ds.map { case (cid, _) => col(s"_d$cid") }: _*)
      val cmin = ds.foldRight(lit(-1L)) { case ((cid, _), rest) =>
        when(col(s"_d$cid") === col("_dmin"), lit(cid)).otherwise(rest)
      }
      withD.withColumn("_dmin", dmin)
        .withColumn(outCol, cmin)
        .withColumn("dist2", col("_dmin"))
        .drop("_xx" +: "_dmin" +: ds.map { case (cid, _) => s"_d$cid" }: _*)
    }
    def collectCents(df: DataFrame): Seq[(Long, Seq[Long])] =
      // bounded driver scalar: exactly k rows of k×dim integers
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        .sortBy(_._1).toSeq
    val c0 = collectCents(e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("xs").as("cs")))
    val a1 = assign(e, c0, "c1").drop("dist2")
    val c1 = collectCents(
      a1.select(col("c1"), posexplode(col("xs")).as(Seq("dim", "qd")))
        .groupBy(col("c1"), col("dim"))
        .agg(expr("sum(qd) div count(1)").as("cd"))
        .groupBy(col("c1"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cd")))),
          x => x.getField("cd")).as("cs"))
        .select(col("c1").as("cid"), col("cs")))
    assign(a1, c1, "c2")
      .select(col("vec_id"), col("c1"), col("c2"), col("dist2").as("d2"))
  }

  /** Per-cell mean centroids with norms — (cell, cv, cn); cells = labels
    * (the stand-in for a trained coarse quantizer in this environment). */
  private def ivfCentroids(e: DataFrame): DataFrame =
    e.select(col("label").as("cell"), posexplode(col("v")))
      .groupBy("cell", "pos").agg(avg(col("col")).as("c"))
      .groupBy("cell").agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))

  /** The `n` nearest cells per vector by centroid cosine (ties to the
    * lower cell id). Centroids broadcast — nlist ≪ corpus always. */
  private def nearestCells(df: DataFrame, centroids: DataFrame,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cell"))
    df.crossJoin(broadcast(centroids))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= n)
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into `nlist`
    * cells (centroids = per-label mean vectors — the stand-in for k-means
    * in this environment), then each probe searches only its `nprobe`
    * nearest cells. With nprobe = nlist this degenerates to exact search
    * (asserted in PipelineSpec); with nprobe << nlist each probe scans
    * ~nprobe/nlist of the corpus — the production ANN shape at 100 TB,
    * where the cell assignment is a one-off batch job and the probe-side
    * join touches only matching cells. */
  def ivf(s: SparkSession, d: String, nprobe: Int, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")))
    val centroids = ivfCentroids(e)
    val corpus = nearestCells(
      e.select(col("vec_id"), col("v"), col("nrm")), centroids, 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val probes = nearestCells(
      e.filter(col("vec_id") < 4).select(col("vec_id"), col("v"), col("nrm")),
      centroids, nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("cell"), floor(col("sim") * 1000000).cast("long").as("sim_e6"))
      .orderBy("qid", "rnk")
  }


  /** PQ training + corpus encoding shared by sim_pq_topk and
    * sim_ann_ivfpq: m = 4 subspaces of 16 dims, k = 8 codes per subspace,
    * one exact integer Lloyd step per subspace (init = the 8 lowest
    * vec_ids, update = dimwise SUM DIV COUNT — cluster_kmeans' arithmetic
    * applied subspace-wise). Returns (encoded corpus [vec_id, s0..s3,
    * c0..c3], codebooks cb(j) = cid-ascending (cid, 16 dims), and the
    * probe subvectors for vec_id < 4). Codebooks and probes are BOUNDED
    * driver scalars (4×8×16 and 4×4×16 ints — the lloydTwoSteps
    * argument), so training assignment and encoding are each ONE
    * map-only codegen'd projection over the corpus; the only shuffle is
    * the k·m·16-row codebook update. */
  private[queries] def pqTrainEncode(s: SparkSession, d: String)
      : (DataFrame, IndexedSeq[Seq[(Long, Seq[Long])]],
         Seq[(Long, IndexedSeq[Seq[Long]])]) =
    pqTrainEncodeFrame(embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1000d)).cast("long") + lit(1000L))
        .as("xs")))

  /** [[pqTrainEncode]] over an arbitrary pre-quantized `(vec_id, xs)`
    * frame — shared with [[graft.EmbedScaleRehearsal]] so the rehearsed
    * PQ path IS the production path. */
  private[graft] def pqTrainEncodeFrame(e: DataFrame)
      : (DataFrame, IndexedSeq[Seq[(Long, Seq[Long])]],
         Seq[(Long, IndexedSeq[Seq[Long]])]) = {
    val m = 4; val sd = 16; val k = 8
    // the entire 4-subspace argmin is ONE native expression (PqEncode)
    // whose codebooks enter the generated code as REFERENCE OBJECTS:
    // earlier formulations (per-centroid when-chains over literal
    // arrays) baked codebook VALUES into the generated source, so every
    // retrain compiled a fresh giant class whose one huge invocation ran
    // bytecode-interpreted before the JIT warmed (measured ~13 s per
    // cold pass at 1M×64, 25x the warm pass). Value-independent source
    // means one compiled+JITted class serves the c0 pass, the final
    // encode, and any future retrain. Ties resolve to the LOWEST cid
    // (strict < over ascending cids — the oracle's ROW_NUMBER ORDER BY
    // d, cid total order).
    def withCodes(df: DataFrame, cbs: Seq[Seq[(Long, Seq[Long])]]): DataFrame =
      df.withColumn("_pqc", Exprs.toColumn(graft.functions.PqEncode(
          Exprs.toExpr(col("xs")), cbs, sd)))
        .withColumns(
          (0 until m).map(j => s"c$j" -> element_at(col("_pqc"), j + 1)).toMap)
        .drop("_pqc")
    def subVecs(r: org.apache.spark.sql.Row): IndexedSeq[Seq[Long]] = {
      val xs = r.getSeq[Long](1)
      (0 until m).map(j => xs.slice(j * sd, j * sd + sd).toSeq)
    }
    // bounded driver scalars: k init rows, then k×m×16 codebook ints
    val init = subs(e).filter(col("vec_id") < k).collect()
      .map(r => r.getLong(0) -> subVecs(r)).sortBy(_._1).toSeq
    val c0 = (0 until m).map(j => init.map { case (cid, ss) => cid -> ss(j) })
    // EAGER checkpoint between the code computation and the explode:
    // without the barrier, CollapseProject folds the 36-dot argmin tree
    // into the Generate's child projection, which runs OUTSIDE
    // whole-stage codegen — the duplicated when-chain subtrees then
    // evaluate interpreted per row (measured 30s vs 1s for the same
    // update at 1M×64). The checkpoint pins the codes once, the explode
    // reads 5 flat columns, and the generation is freed right after.
    val (a1, a1Ids) = GraphAlgos.checkpointWithIds(
      withCodes(subs(e), c0).select(
        col("xs") +: (0 until m).map(j => col(s"c$j")): _*))
    // ONE posexplode over the raw 64 dims (subspace and in-subspace dim
    // recovered arithmetically, the code by a 4-branch when-chain) —
    // stacking a struct-explode on a per-subspace posexplode doubles the
    // Generate operators outside codegen
    val upd = a1.select(
        (0 until m).map(j => col(s"c$j")) :+
        posexplode(col("xs")).as(Seq("dim64", "qd")): _*)
      .select(expr(s"CAST(dim64 div $sd AS INT)").as("j"),
        (0 until m).foldRight(lit(-1L)) { case (j, rest) =>
          when(expr(s"dim64 div $sd") === j, col(s"c$j")).otherwise(rest)
        }.as("code"),
        expr(s"CAST(dim64 % $sd AS INT)").as("dim"), col("qd"))
      .groupBy(col("j"), col("code"), col("dim"))
      .agg(expr("sum(qd) div count(1)").as("cd"))
      .groupBy(col("j"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cd")))),
        x => x.getField("cd")).as("cs"))
      .collect()
    GraphAlgos.freeRdds(e.sparkSession, a1Ids)
    val cb = (0 until m).map(j => upd.filter(_.getInt(0) == j)
      .map(r => r.getLong(1) -> r.getSeq[Long](2).toSeq).sortBy(_._1).toSeq)
    val probes = subs(e).filter(col("vec_id") < 4).collect()
      .map(r => r.getLong(0) -> subVecs(r)).sortBy(_._1).toSeq
    (withCodes(subs(e), cb), cb, probes)
  }

  /** The (vec_id, xs) projection every PQ pass starts from. */
  private def subs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("xs"))

  /** Exact integer L2² between two driver-side subvectors. */
  private def l2sq(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** One probe's ADC distance Σ_j ‖sub_j(q) − C_j[c_j]‖² as a literal
    * lookup-table when-chain over the code columns c0..c3 — 4×8
    * precomputed integers, zero per-row arithmetic beyond the chain. */
  private def adcFor(cb: IndexedSeq[Seq[(Long, Seq[Long])]],
      qs: IndexedSeq[Seq[Long]]): Column =
    cb.indices.map { j =>
      cb(j).foldRight(lit(0L)) { case ((cid, cs), rest) =>
        when(col(s"c$j") === cid, lit(l2sq(qs(j), cs))).otherwise(rest)
      }
    }.reduce(_ + _)

  val queries: Map[String, Q] = Map(
    // -- IVF ANN with nprobe=2 of 10 cells (approximate by design ->
    //    rows-only gate; exactness at nprobe=nlist asserted in tests)
    "sim_ann_ivf" -> ((s, d) => ivf(s, d, nprobe = 2)),

    // -- CENTROID-DISTANCE OUTLIERS (embedding diagnostics for curation:
    //    which vectors sit farthest from their own class centroid —
    //    mislabel / contamination candidates). All arithmetic is EXACT
    //    integer: dims quantize to q = floor(double(x)·1000); the
    //    per-label centroid stays an UNDIVIDED (sum-vector S, count n)
    //    pair, and the squared distance to the mean is ranked in the
    //    cross-multiplied form Σ_d (n·q_d − S_d)² = n²·‖q − S/n‖² — no
    //    division, no float accumulation, so the ranking is identical at
    //    any parallelism. Scale shape: the label×dim sum table comes
    //    from ONE posexplode + partial-aggregated groupBy (labels × 64
    //    rows — broadcast back as per-label arrays), the corpus streams
    //    through twice (sums, then distances — both single narrow
    //    passes) and the top-20 is TakeOrderedAndProject.
    "embed_outliers_centroid" -> ((s, d) => {
      val q = embeddings(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000d)).cast("long")).as("q"))
      val sums = q
        .select(col("label"), posexplode(col("q")).as(Seq("dim", "qd")))
        .groupBy("label", "dim")
        .agg(sum(col("qd")).as("sd"), count(lit(1)).as("n"))
      val cent = sums.groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("dim"), col("sd")))),
          x => x.getField("sd")).as("sv"),
        max(col("n")).as("n"))
      q.join(broadcast(cent), "label")
        .withColumn("d2n2", aggregate(
          zip_with(col("q"), col("sv"),
            (qq, ss) => (col("n") * qq - ss) * (col("n") * qq - ss)),
          lit(0L), (a, x) => a + x))
        .select(col("vec_id"), col("label"), col("n"), col("d2n2"))
        .orderBy(col("d2n2").desc, col("vec_id")).limit(20)
    }),

    // -- K-MEANS (2 exact Lloyd iterations, k=8) over the embeddings —
    //    the clustering stage behind SemDeDup-style semantic curation
    //    and IVF index training (sim_ann_ivf's per-label centroids are
    //    the stand-in this replaces when labels don't exist). Every step
    //    is EXACT integer so the assignment is hash-gated end-to-end:
    //    dims quantize to q = floor(double(x)·1000) + 1000 (the +1000
    //    shift keeps every value ≥ 0, so the centroid update S_d DIV n
    //    is a plain floor division with identical truncation semantics
    //    in both engines; shifting all dims never changes a distance).
    //    Init = the k lowest vec_ids (deterministic); assignment = argmin
    //    of Σ_d (q_d − c_d)² with ties to the lower cluster id via one
    //    min(struct) — a total order. Scale shape: centroids are k×dim
    //    integers BROADCAST to the scan (the corpus never shuffles for
    //    assignment); the update is one posexplode + partial-aggregated
    //    (cluster, dim) sum — k·dim rows — exactly how a production
    //    Lloyd step runs at 100 TB (the corpus streams once per
    //    iteration, all reduce-side state is k·dim-sized).
    "cluster_kmeans" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000d)).cast("long") + lit(1000L))
          .as("xs"))
      lloydTwoSteps(e, k = 8).orderBy("vec_id")
    }),

    // -- PRODUCT-QUANTIZATION ANN (the memory-bounded scale path one rung
    //    past int8: FAISS's IVFPQ building block). The 64-dim quantized
    //    vector splits into m = 4 subspaces of 16 dims; each subspace
    //    trains its own k = 8 codebook (one exact integer Lloyd step —
    //    init = the 8 lowest vec_ids, update = dimwise SUM DIV COUNT,
    //    the cluster_kmeans arithmetic per subspace) and every corpus
    //    vector compresses to 4 small codes — at 100 TB the searchable
    //    index is 4 bytes/vector instead of 256, the entire point of PQ.
    //    Probes (vec_id < 4) search by ASYMMETRIC distance (ADC):
    //    dist(q, x) = Σ_j ‖sub_j(q) − C_j[code_j(x)]‖², exact BIGINT, so
    //    the "approximate" ranking is a deterministic function of the
    //    data — hash-gated, not rows-only. Plan shape: codebooks and
    //    probes are BOUNDED driver scalars (4×8×16 ints, 4×64 ints —
    //    same argument as lloydTwoSteps' centroids), so training
    //    assignment, encoding, and the ADC scan are each ONE map-only
    //    codegen'd projection over the corpus (per-probe lookup tables
    //    fold into literal when-chains — Σ_j 8 precomputed integers);
    //    the only aggregations are the k·m·16-row codebook update and
    //    the final per-probe top-5.
    "sim_pq_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (encoded, cb, probes) = pqTrainEncode(s, d)
      val probeCols = probes.map { case (qid, qs) =>
        struct(lit(qid).as("qid"), adcFor(cb, qs).as("adc"))
      }
      val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      encoded.select(col("vec_id"),
          explode(array(probeCols: _*)).as("p"))
        .select(col("p.qid").as("qid"), col("vec_id"), col("p.adc").as("adc"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("vec_id"), col("adc"))
        .orderBy("qid", "rnk")
    }),

    // -- IVF + PQ (the FAISS IVFPQ production shape at 100 TB: the coarse
    //    quantizer prunes the corpus to nprobe cells AND the searchable
    //    index holds 4 small codes per vector instead of the raw 256
    //    bytes — both memory and scan cost drop together). Cells and
    //    probe-cell assignment are sim_ann_ivf's (per-label mean
    //    centroids, nprobe = 2 of 10 by centroid cosine); candidate
    //    ranking is sim_pq_topk's exact-integer ADC over the PQ codes, so
    //    the ranking arithmetic is hash-gated even though the search is
    //    approximate by design. Plan shape: the candidate set is the
    //    cell-join of the encoded corpus with an 8-row broadcast probe
    //    table; ADC is a literal lookup-table when-chain dispatched on
    //    qid — the corpus streams once past the probe cells, no exact
    //    re-rank pass, no row ever carries a raw vector.
    "sim_ann_ivfpq" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = withNorm(embeddings(s, d)
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")))
      val centroids = ivfCentroids(e)
      val corpusCell = nearestCells(
        e.select(col("vec_id"), col("v"), col("nrm")), centroids, 1)
        .select(col("vec_id"), col("cell"))
      val probeCell = nearestCells(
        e.filter(col("vec_id") < 4).select(col("vec_id"), col("v"), col("nrm")),
        centroids, 2)
        .select(col("vec_id").as("qid"), col("cell"))
      val (encoded, cb, probes) = pqTrainEncode(s, d)
      val adc = probes.foldRight(lit(-1L)) { case ((qid, qs), rest) =>
        when(col("qid") === qid, adcFor(cb, qs)).otherwise(rest)
      }
      val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      encoded.select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"))
        .join(corpusCell, "vec_id")
        .join(broadcast(probeCell), "cell")
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("adc", adc)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("vec_id"), col("cell"), col("adc"))
        .orderBy("qid", "rnk")
    }),

    // -- PQ kNN match graph by SYMMETRIC distance (SDC — the other half
    //    of the PQ story: ADC serves probe-time search, SDC serves the
    //    all-pairs batch jobs like SemDeDup's match-graph build, where
    //    BOTH sides live compressed). dist(x,y) ≈ Σ_j ‖C_j[x_j] −
    //    C_j[y_j]‖² comes from four 8×8 integer lookup tables — 64-long
    //    array literals indexed by code_a·8 + code_b, so the generated
    //    source stays value-independent (the PqEncode lesson) and the
    //    per-pair work is 4 element_at + 3 adds. Pairs form only within
    //    a coarse cell (knn_graph's blocking); each row carries 4 SMALL
    //    ints instead of a 256-byte vector — the entire reason SDC
    //    exists at 100 TB: the self-join shuffles codes, never vectors.
    //    Top-3 per vector under (sdc, nbr_id) — exact integers,
    //    hash-gated.
    "sim_pq_knn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (encoded, cb, _) = pqTrainEncode(s, d)
      val cells = embeddings(s, d).select(col("vec_id"), col("label").as("cell"))
      val luts = cb.indices.map { j =>
        val m = cb(j).map { case (cid, cs) => cid -> cs }.toMap
        Array.tabulate(64) { i =>
          (for { a <- m.get(i / 8); b <- m.get(i % 8) } yield l2sq(a, b))
            .getOrElse(0L)
        }.toSeq
      }
      val codes = encoded
        .select(col("vec_id") +: (0 until cb.length).map(j => col(s"c$j")): _*)
        .join(cells, "vec_id")
      val other = codes.select(col("cell") +: col("vec_id").as("nbr_id") +:
        (0 until cb.length).map(j => col(s"c$j").as(s"n$j")): _*)
      val sdc = cb.indices.map(j =>
        element_at(typedLit(luts(j)),
          (col(s"c$j") * 8 + col(s"n$j")).cast("int") + 1)).reduce(_ + _)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sdc"), col("nbr_id"))
      codes.join(other, Seq("cell"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sdc", sdc)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("vec_id"), col("rnk").cast("long").as("rnk"),
          col("nbr_id"), col("sdc"))
        .orderBy("vec_id", "rnk")
    }),

    // -- exact top-10 cosine neighbors for probe vectors vec_id < 4.
    "sim_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = withNorm(embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v")))
      val q = e.select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
        .filter(col("qid") < 4)
      val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"),
          floor(col("sim") * 1000000).cast("long").as("sim_e6"))
        .orderBy("qid", "rnk")
    }),

    // -- TWO-STAGE retrieval (the RAG / data-curation search ladder):
    //    stage 1 generates candidates LEXICALLY — bm25_search's scorer,
    //    1-row stats broadcast, corpus streamed ONCE, top-20 by quantized
    //    score via TakeOrdered; stage 2 reranks ONLY those 20
    //    semantically, by cosine to the query embedding (vec 0 stands in
    //    for the encoded query; the 20-row shortlist broadcasts into the
    //    embeddings scan, so rerank cost is independent of corpus size —
    //    the whole point of the ladder at 100 TB). Fusion is reciprocal
    //    rank (RRF, k=60) in EXACT integers: 1e6 DIV (60+r) per stage —
    //    rank fusion without a single engine-divergent float. The two
    //    global row_number windows run over ≤20-row frames (post-limit) —
    //    metadata-sized by construction, not the one-task trap.
    "search_two_stage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("dup", "join", "spark")
      val tk = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
      val base = documents(s, d)
        .select(col("doc_id") +: size(tk).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(tk, x => x === t)).cast("long").as(s"tf${i + 1}") }: _*)
      val statCols = count(lit(1)).as("n") +: sum(col("dl")).as("t") +:
        terms.indices.map(i =>
          sum((col(s"tf${i + 1}") > 0).cast("long")).as(s"df${i + 1}"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      def termScore(tf: Column, dfc: Column): Column = {
        val n = col("n").cast("double")
        val avgdl = col("t").cast("double") / n
        val idf = (n - dfc.cast("double") + lit(0.5)) / (dfc.cast("double") + lit(0.5))
        val den = tf.cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
        idf * (tf.cast("double") * lit(2.2)) / den
      }
      val scored = base.crossJoin(broadcast(stats))
        .withColumn("score_e6", floor(
          (termScore(col("tf1"), col("df1"))
            + termScore(col("tf2"), col("df2"))
            + termScore(col("tf3"), col("df3"))) * lit(1000000.0)).cast("long"))
      val short = scored.orderBy(col("score_e6").desc, col("doc_id")).limit(20)
        .withColumn("r_bm25", row_number()
          .over(Window.orderBy(col("score_e6").desc, col("doc_id")))
          .cast("long"))
        .select(col("doc_id"), col("r_bm25"))
      val e = withNorm(embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v")))
      val q = e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      val rer = e.join(broadcast(short), col("vec_id") === col("doc_id"))
        .crossJoin(broadcast(q))
        .withColumn("sim_e6",
          floor(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
            * lit(1000000.0)).cast("long"))
      rer.withColumn("r_cos", row_number()
          .over(Window.orderBy(col("sim_e6").desc, col("doc_id")))
          .cast("long"))
        .select(col("doc_id"), col("r_bm25"), col("r_cos"), col("sim_e6"),
          (expr("1000000 DIV (60 + r_bm25)")
            + expr("1000000 DIV (60 + r_cos)")).as("rrf_e6"))
        .orderBy(col("rrf_e6").desc, col("doc_id")).limit(10)
    }),

    // -- k-NN graph construction (the semantic-dedup / clustering
    //    precursor: EVERY vector gets its k nearest in-cell neighbors,
    //    not just a few probes). Blocking is the same coarse-cell idea as
    //    IVF: pairs form only within a cell, so the self-join is
    //    cell-partitioned — at 100 TB one shuffle on the cell key,
    //    ~n²/cells pairs instead of n², and the top-k window is
    //    per-vector (bounded state, partial rank prunes under AQE). The
    //    exact unblocked baseline is dedup_embed's block join; this is
    //    the production shape for building match graphs over a corpus.
    "knn_graph" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = withNorm(embeddings(s, d)
        .select(col("vec_id"), col("label").as("cell"),
          asDouble(col("embedding")).as("v")))
      val other = e.select(col("cell"), col("vec_id").as("nbr_id"),
        col("v").as("nv"), col("nrm").as("nn"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("nbr_id"))
      e.join(other, Seq("cell")).filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sim", dot(col("v"), col("nv")) / (col("nrm") * col("nn")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("vec_id"), col("rnk").cast("long").as("rnk"),
          col("nbr_id"), floor(col("sim") * 1000000).cast("long").as("sim_e6"))
        .orderBy("vec_id", "rnk")
    }),

    // -- int8 scalar quantization (the memory-bound ANN production trick:
    //    4x smaller vectors, integer dot products): per-vector symmetric
    //    quantization q[i] = floor(x[i]*127/max|x| + 0.5), then exact
    //    top-5 cosine over the QUANTIZED vectors. Every quantized value
    //    is a small integer exactly representable in double and the dot
    //    folds in the same order as the oracle's list_reduce, so the
    //    "approximate" ranking is a deterministic function of the data —
    //    hash-gated, not rows-only. Same broadcast-probe shape as
    //    sim_topk: the corpus streams once past 4 probe vectors.
    "sim_int8_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val q8 = embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("vd"))
        .withColumn("mx",
          greatest(array_max(transform(col("vd"), x => abs(x))), lit(1e-30)))
        .select(col("vec_id"), transform(col("vd"),
          x => floor(x * lit(127.0) / col("mx") + lit(0.5)).cast("double"))
          .as("q"))
      val n = q8.withColumn("nrm", sqrt(dot(col("q"), col("q"))))
      val probes = n.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("q").as("qq"),
          col("nrm").as("qn"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      n.join(broadcast(probes), col("vec_id") =!= col("qid"))
        .withColumn("sim", dot(col("qq"), col("q")) / (col("qn") * col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"),
          floor(col("sim") * 1000000).cast("long").as("sim_e6"))
        .orderBy("qid", "rnk")
    }),

    // -- LSH-bucketed ANN: 6 random hyperplanes -> 64 buckets; each probe
    //    searches only its own bucket (approximate by design -> rows-only
    //    gate; PipelineSpec checks bucket determinism + containment in the
    //    exact ranking).
    "sim_ann_lsh" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = withNorm(embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v")))
        .withColumn("bucket", srpBucket(col("v"), 6))
      val q = e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket")).filter(col("qid") < 4)
      val pairs = e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"),
          col("bucket"), floor(col("sim") * 1000000).cast("long").as("sim_e6"))
        .orderBy("qid", "rnk")
    }))

  /** DuckDB fold-left dot product (same ascending order as [[VecDot]]). */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       list_transform(range(1, 65), i -> $a[i] * $b[i])),
       (acc, x) -> acc + x)"""

  /** The SRP bucket expression with the PLAN-TIME sign vectors baked in as
    * SQL literals — the planes are deterministic (mix64), so the oracle
    * can reproduce the "approximate" query exactly: approximation here is
    * a deterministic function of the data, not randomness. */
  private def srpBucketSql: String = (0 until 6).map { p =>
    val signs = Array.tabulate(64)(d =>
      if (graft.functions.SketchAggs.mix64(p * 1024L + d) >= 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
    s"(CASE WHEN ${dotSql("v", s"($signs)")} >= 0 THEN ${1 << p} ELSE 0 END)"
  }.mkString("\n         + ")

  val oracleSql: Map[String, String] = Map(
    "sim_ann_ivfpq" ->
      """WITH en AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           FROM en),
         cpos AS (SELECT label AS cell, i AS pos, AVG(v[i]) AS c
           FROM n, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY label, i),
         cent AS (SELECT cell, list(c ORDER BY pos) AS cv
           FROM cpos GROUP BY cell),
         centn AS (SELECT cell, cv,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cv, x -> x * x)), (acc, x) -> acc + x)) AS cn
           FROM cent),
         csim AS (SELECT n.vec_id, n.nrm, c.cell,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i])),
               (acc, x) -> acc + x) / (n.nrm * c.cn) AS cs
           FROM n, centn c),
         corpuscell AS (SELECT vec_id, cell FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY cs DESC, cell) AS crnk
            FROM csim) WHERE crnk <= 1),
         probecell AS (SELECT vec_id AS qid, cell FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY cs DESC, cell) AS crnk
            FROM csim WHERE vec_id < 4) WHERE crnk <= 2),
         e AS MATERIALIZED (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS xs
           FROM embeddings),
         sub AS MATERIALIZED (SELECT vec_id, j, xs[16*j+1 : 16*j+16] AS sv
           FROM e, unnest([0, 1, 2, 3]) AS t(j)),
         c0 AS (SELECT vec_id AS cid, j, sv AS cs FROM sub WHERE vec_id < 8),
         d1 AS (SELECT s.vec_id, s.j, c.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))),
               (a, x) -> a + x) AS d
           FROM sub s JOIN c0 c ON c.j = s.j),
         a1 AS MATERIALIZED (SELECT vec_id, j, cid FROM (
             SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid)
                 AS rnk
             FROM d1) WHERE rnk = 1),
         upd AS (SELECT a1.j, a1.cid, t.i AS dim,
             CAST(SUM(s.sv[t.i]) // COUNT(*) AS BIGINT) AS cd
           FROM a1 JOIN sub s ON s.vec_id = a1.vec_id AND s.j = a1.j,
             unnest(range(1, 17)) AS t(i)
           GROUP BY 1, 2, 3),
         cb AS MATERIALIZED (SELECT j, cid, list(cd ORDER BY dim) AS cs
           FROM upd GROUP BY 1, 2),
         d2 AS (SELECT s.vec_id, s.j, c.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))),
               (a, x) -> a + x) AS d
           FROM sub s JOIN cb c ON c.j = s.j),
         codes AS MATERIALIZED (SELECT vec_id, j, cid AS code FROM (
             SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid)
                 AS rnk
             FROM d2) WHERE rnk = 1),
         probesub AS (SELECT vec_id AS qid, j, sv AS qv
           FROM sub WHERE vec_id < 4),
         adc AS (SELECT p.qid, c.vec_id,
             CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (p.qv[i] - cb.cs[i]) * (p.qv[i] - cb.cs[i]))),
               (a, x) -> a + x)) AS BIGINT) AS adc
           FROM codes c JOIN cb ON cb.j = c.j AND cb.cid = c.code
           JOIN probesub p ON p.j = c.j
           GROUP BY 1, 2),
         cand AS (SELECT pc.qid, cc.vec_id, cc.cell, a.adc
           FROM corpuscell cc JOIN probecell pc ON pc.cell = cc.cell
           JOIN adc a ON a.qid = pc.qid AND a.vec_id = cc.vec_id
           WHERE cc.vec_id <> pc.qid),
         r AS (SELECT qid, vec_id, cell, adc,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
           FROM cand)
         SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, cell, adc
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    "sim_pq_topk" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS xs
           FROM embeddings),
         sub AS MATERIALIZED (SELECT vec_id, j, xs[16*j+1 : 16*j+16] AS sv
           FROM e, unnest([0, 1, 2, 3]) AS t(j)),
         c0 AS (SELECT vec_id AS cid, j, sv AS cs FROM sub WHERE vec_id < 8),
         d1 AS (SELECT s.vec_id, s.j, c.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))),
               (a, x) -> a + x) AS d
           FROM sub s JOIN c0 c ON c.j = s.j),
         a1 AS MATERIALIZED (SELECT vec_id, j, cid FROM (
             SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid)
                 AS rnk
             FROM d1) WHERE rnk = 1),
         upd AS (SELECT a1.j, a1.cid, t.i AS dim,
             CAST(SUM(s.sv[t.i]) // COUNT(*) AS BIGINT) AS cd
           FROM a1 JOIN sub s ON s.vec_id = a1.vec_id AND s.j = a1.j,
             unnest(range(1, 17)) AS t(i)
           GROUP BY 1, 2, 3),
         cb AS MATERIALIZED (SELECT j, cid, list(cd ORDER BY dim) AS cs
           FROM upd GROUP BY 1, 2),
         d2 AS (SELECT s.vec_id, s.j, c.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))),
               (a, x) -> a + x) AS d
           FROM sub s JOIN cb c ON c.j = s.j),
         codes AS MATERIALIZED (SELECT vec_id, j, cid AS code FROM (
             SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid)
                 AS rnk
             FROM d2) WHERE rnk = 1),
         probes AS (SELECT vec_id AS qid, j, sv AS qv
           FROM sub WHERE vec_id < 4),
         adc AS (SELECT p.qid, c.vec_id,
             CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (p.qv[i] - cb.cs[i]) * (p.qv[i] - cb.cs[i]))),
               (a, x) -> a + x)) AS BIGINT) AS adc
           FROM codes c JOIN cb ON cb.j = c.j AND cb.cid = c.code
           JOIN probes p ON p.j = c.j
           GROUP BY 1, 2),
         r AS (SELECT qid, vec_id, adc,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
           FROM adc WHERE vec_id <> qid)
         SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    "sim_pq_knn" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS xs
           FROM embeddings),
         sub AS MATERIALIZED (SELECT vec_id, j, xs[16*j+1 : 16*j+16] AS sv
           FROM e, unnest([0, 1, 2, 3]) AS t(j)),
         c0 AS (SELECT vec_id AS cid, j, sv AS cs FROM sub WHERE vec_id < 8),
         d1 AS (SELECT s.vec_id, s.j, c.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))),
               (a, x) -> a + x) AS d
           FROM sub s JOIN c0 c ON c.j = s.j),
         a1 AS MATERIALIZED (SELECT vec_id, j, cid FROM (
             SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid)
                 AS rnk
             FROM d1) WHERE rnk = 1),
         upd AS (SELECT a1.j, a1.cid, t.i AS dim,
             CAST(SUM(s.sv[t.i]) // COUNT(*) AS BIGINT) AS cd
           FROM a1 JOIN sub s ON s.vec_id = a1.vec_id AND s.j = a1.j,
             unnest(range(1, 17)) AS t(i)
           GROUP BY 1, 2, 3),
         cb AS MATERIALIZED (SELECT j, cid, list(cd ORDER BY dim) AS cs
           FROM upd GROUP BY 1, 2),
         d2 AS (SELECT s.vec_id, s.j, c.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))),
               (a, x) -> a + x) AS d
           FROM sub s JOIN cb c ON c.j = s.j),
         codes AS MATERIALIZED (SELECT vec_id, j, cid AS code FROM (
             SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid)
                 AS rnk
             FROM d2) WHERE rnk = 1),
         cw AS (SELECT c.vec_id, emb.label AS cell, c.j, c.code
           FROM codes c JOIN embeddings emb ON emb.vec_id = c.vec_id),
         pairs AS (SELECT a.vec_id, b.vec_id AS nbr_id, a.j,
             a.code AS ca, b.code AS cbid
           FROM cw a JOIN cw b ON a.cell = b.cell AND a.j = b.j
             AND a.vec_id <> b.vec_id),
         dists AS (SELECT p.vec_id, p.nbr_id,
             CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 17),
                 i -> (x.cs[i] - y.cs[i]) * (x.cs[i] - y.cs[i]))),
               (a, v) -> a + v)) AS BIGINT) AS sdc
           FROM pairs p JOIN cb x ON x.j = p.j AND x.cid = p.ca
             JOIN cb y ON y.j = p.j AND y.cid = p.cbid
           GROUP BY 1, 2),
         r AS (SELECT vec_id, nbr_id, sdc,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sdc, nbr_id)
               AS rnk
           FROM dists)
         SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, nbr_id, sdc
         FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk""",
    "cluster_kmeans" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS xs
           FROM embeddings),
         c0 AS (SELECT vec_id AS cid, xs AS cs FROM e WHERE vec_id < 8),
         p1 AS (SELECT e.vec_id, e.xs, c0.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(e.xs) + 1),
                 i -> (e.xs[i] - c0.cs[i]) * (e.xs[i] - c0.cs[i]))),
               (a, x) -> a + x) AS d
           FROM e CROSS JOIN c0),
         a1 AS MATERIALIZED (SELECT vec_id, xs, cid AS c1 FROM (
             SELECT vec_id, xs, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
             FROM p1) WHERE rnk = 1),
         s1 AS (SELECT c1, r.i AS dim,
             CAST(SUM(xs[r.i]) // COUNT(*) AS BIGINT) AS cd
           FROM a1, unnest(generate_series(1, len(xs))) AS r(i)
           GROUP BY c1, r.i),
         c1t AS (SELECT c1 AS cid, list(cd ORDER BY dim) AS cs
           FROM s1 GROUP BY c1),
         p2 AS (SELECT a1.vec_id, a1.c1, c1t.cid,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(a1.xs) + 1),
                 i -> (a1.xs[i] - c1t.cs[i]) * (a1.xs[i] - c1t.cs[i]))),
               (a, x) -> a + x) AS d
           FROM a1 CROSS JOIN c1t),
         a2 AS (SELECT vec_id, c1, cid AS c2, d,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
           FROM p2)
         SELECT vec_id, c1, c2, d AS d2 FROM a2 WHERE rnk = 1
         ORDER BY vec_id""",
    "embed_outliers_centroid" ->
      """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           FROM embeddings),
         x AS (SELECT vec_id, label, q,
             unnest(range(1, len(q) + 1)) AS dim FROM q),
         e AS (SELECT vec_id, label, dim, q[dim] AS qd FROM x),
         c AS (SELECT label, dim, CAST(SUM(qd) AS BIGINT) AS sd,
             COUNT(*) AS n FROM e GROUP BY 1, 2),
         d AS (SELECT e.vec_id, e.label, MAX(c.n) AS n,
             CAST(SUM((c.n * e.qd - c.sd) * (c.n * e.qd - c.sd)) AS BIGINT)
               AS d2n2
           FROM e JOIN c ON c.label = e.label AND c.dim = e.dim
           GROUP BY 1, 2)
         SELECT vec_id, label, n, d2n2 FROM d
         ORDER BY d2n2 DESC, vec_id LIMIT 20""",
    "sim_int8_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
         q8 AS (SELECT vec_id, list_transform(vd, x ->
             FLOOR(x * 127.0 / greatest(list_max(list_transform(vd, y -> abs(y))), 1e-30)
               + 0.5)) AS q
           FROM e),
         n AS (SELECT vec_id, q,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(q, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           FROM q8),
         p AS (SELECT vec_id AS qid, q AS qq, nrm AS qn FROM n WHERE vec_id < 4),
         s AS (SELECT p.qid, n.vec_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(qq) + 1), i -> qq[i] * q[i])),
               (acc, x) -> acc + x) / (p.qn * n.nrm) AS sim
           FROM p, n WHERE n.vec_id <> p.qid),
         r AS (SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
           FROM s)
         SELECT qid, rnk, vec_id, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_e6
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    "sim_ann_ivf" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm FROM e),
         cpos AS (SELECT label AS cell, i AS pos, AVG(v[i]) AS c
           FROM n, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY label, i),
         cent AS (SELECT cell, list(c ORDER BY pos) AS cv FROM cpos GROUP BY cell),
         centn AS (SELECT cell, cv,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cv, x -> x * x)), (acc, x) -> acc + x)) AS cn FROM cent),
         csim AS (SELECT n.vec_id, n.v, n.nrm, c.cell,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i])),
               (acc, x) -> acc + x) / (n.nrm * c.cn) AS cs
           FROM n, centn c),
         corpus AS (SELECT vec_id, v, nrm, cell FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS crnk
            FROM csim) WHERE crnk <= 1),
         probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, cell FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS crnk
            FROM csim WHERE vec_id < 4) WHERE crnk <= 2),
         pairs AS (SELECT p.qid, c.vec_id, c.cell,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * c.v[i])),
               (acc, x) -> acc + x) / (p.qn * c.nrm) AS sim
           FROM corpus c JOIN probes p ON c.cell = p.cell AND c.vec_id <> p.qid),
         r AS (SELECT qid, vec_id, cell, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk FROM pairs)
         SELECT qid, rnk, vec_id, cell, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_e6
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    "sim_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm FROM e),
         b AS (SELECT vec_id, v, nrm,
           $srpBucketSql AS bucket FROM n),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket FROM b WHERE vec_id < 4),
         p AS (SELECT q.qid, b.vec_id, b.bucket,
             ${dotSql("q.qv", "b.v")} / (q.qn * b.nrm) AS sim
           FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.qid),
         r AS (SELECT qid, vec_id, bucket, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk FROM p)
         SELECT qid, rnk, vec_id, bucket, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_e6
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",
    "knn_graph" ->
      """WITH e AS (SELECT vec_id, label AS cell,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, cell, v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           FROM e),
         p AS (SELECT a.vec_id, b.vec_id AS nbr_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
           FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         r AS (SELECT vec_id, nbr_id, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id)
               AS rnk FROM p)
         SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, nbr_id,
           CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_e6
         FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk""",
    "sim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           FROM e),
         q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 4),
         p AS (SELECT q.qid, n.vec_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])),
               (acc, x) -> acc + x) / (q.qn * n.nrm) AS sim
           FROM q, n WHERE n.vec_id <> q.qid),
         r AS (SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
           FROM p)
         SELECT qid, rnk, vec_id, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_e6
         FROM r WHERE rnk <= 10 ORDER BY qid, rnk""",
    "search_two_stage" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
           FROM documents),
         b AS (SELECT doc_id,
             CAST(len(w) AS BIGINT) AS dl,
             CAST(len(list_filter(w, x -> x = 'dup')) AS BIGINT) AS tf1,
             CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf2,
             CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf3
           FROM w),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
           FROM b),
         sc AS (SELECT b.doc_id,
             (CAST(st.n AS DOUBLE) - CAST(st.df1 AS DOUBLE) + 0.5)
               / (CAST(st.df1 AS DOUBLE) + 0.5)
               * (CAST(b.tf1 AS DOUBLE) * 2.2)
               / (CAST(b.tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75
                   * (CAST(b.dl AS DOUBLE) / (CAST(st.t AS DOUBLE) / CAST(st.n AS DOUBLE)))))
           + (CAST(st.n AS DOUBLE) - CAST(st.df2 AS DOUBLE) + 0.5)
               / (CAST(st.df2 AS DOUBLE) + 0.5)
               * (CAST(b.tf2 AS DOUBLE) * 2.2)
               / (CAST(b.tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75
                   * (CAST(b.dl AS DOUBLE) / (CAST(st.t AS DOUBLE) / CAST(st.n AS DOUBLE)))))
           + (CAST(st.n AS DOUBLE) - CAST(st.df3 AS DOUBLE) + 0.5)
               / (CAST(st.df3 AS DOUBLE) + 0.5)
               * (CAST(b.tf3 AS DOUBLE) * 2.2)
               / (CAST(b.tf3 AS DOUBLE) + 1.2 * (0.25 + 0.75
                   * (CAST(b.dl AS DOUBLE) / (CAST(st.t AS DOUBLE) / CAST(st.n AS DOUBLE)))))
           AS score
           FROM b, st),
         scq AS (SELECT doc_id,
             CAST(FLOOR(score * 1000000.0) AS BIGINT) AS score_e6 FROM sc),
         sh AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS r_bm25
           FROM scq QUALIFY r_bm25 <= 20),
         en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         nn AS (SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           FROM en),
         qq AS (SELECT v AS qv, nrm AS qn FROM nn WHERE vec_id = 0),
         rr AS (SELECT sh.doc_id, sh.r_bm25,
             CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(qq.qv) + 1), i -> qq.qv[i] * nn.v[i])),
               (acc, x) -> acc + x) / (qq.qn * nn.nrm) * 1000000.0) AS BIGINT)
               AS sim_e6
           FROM sh JOIN nn ON nn.vec_id = sh.doc_id, qq),
         rk AS (SELECT doc_id, r_bm25, sim_e6, CAST(ROW_NUMBER() OVER (
               ORDER BY sim_e6 DESC, doc_id) AS BIGINT) AS r_cos
           FROM rr)
         SELECT doc_id, r_bm25, r_cos, sim_e6,
           CAST(1000000 // (60 + r_bm25) + 1000000 // (60 + r_cos) AS BIGINT)
             AS rrf_e6
         FROM rk ORDER BY rrf_e6 DESC, doc_id LIMIT 10""")
}
