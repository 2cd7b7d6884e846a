package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Rehearsal.timed

/** Text-pipeline scale rehearsal: drive the curation/dedup operators well
  * past the bench SF on a synthetic corpus, and print measured throughput
  * as one JSON line. The graph family has [[ScaleRehearsal]]; this is the
  * same auditable backing for SCALE.md's claims on the LLM-pipeline side.
  * Crucially it exercises the SHARED production code paths —
  * [[graft.queries.CurationQueries.c4RulesOf]] (the C4 signal pass) and
  * [[graft.queries.DedupQueries.minhashDupPairsUncached]] (the
  * signature → banding → exact-verify near-dup engine) — not
  * rehearsal-only copies.
  *
  * Usage: TextScaleRehearsal [docs]   (default 1,000,000)
  *
  * The corpus is deterministic (splitmix-style per-doc PRNG, the text a
  * pure function of the doc id) and generated DISTRIBUTED — no driver
  * materialization. Duplicates and rejects are PLANTED with known counts
  * so every stage's output is checkable, not just timeable (n should be
  * a multiple of 1000 for the exact-count checks):
  *  - id % 100 == 99   →  exact copy of doc id-2   (1% exact-dup groups)
  *  - id % 100 == 98   →  doc id-4 plus one appended never-generated
  *    token: trigram Jaccard D/(D+1) ≥ 0.96 but < 1.0 — above the 0.8
  *    verify threshold with a safe margin at every doc length, below
  *    1.0, so it exercises the banding AND the exact verification, not
  *    just identical-signature collisions (1% near-dup pairs)
  *  - id % 1000 == 0   →  a 10-token "spam" doc that fails C4's length
  *    rule, so the quality gate's reject path is measured too
  *  - id % 100 == 3    →  a fixed 5-token boilerplate phrase appended
  *    (the web-corpus footer/disclaimer pattern): its interior trigrams
  *    are HUB shingles with df = n/100 ≫ the rare cap. Without the
  *    inverted index's df guard these alone would contribute
  *    ~(n/100)²/2 × 3 candidate pairs (1.5e8 at n=1M — the quadratic
  *    death); with it they are excluded from candidate generation and
  *    accounted for exactly by the verify upper bound, so the planted
  *    pair counts still come out exact.
  */
object TextScaleRehearsal {
  /** Deterministic text for a doc id: 30–69 tokens from a 4096-word
    * vocabulary (mildly skewed by min-of-two draws), every 8th token a
    * stopword so the C4 stopword rule sees realistic hits. Pure function
    * of the id — planted duplicates recompute their source doc's text. */
  def textFor(rawId: Long): String = {
    val stop = Array("the", "and", "of", "to", "in", "is", "it", "for")
    val id = (rawId % 100L) match {
      case 99L => rawId - 2 // exact duplicate
      case 98L => rawId - 4 // near duplicate (one token appended below)
      case _   => rawId
    }
    var h = id * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    def next(): Long = { h ^= h >>> 27; h *= 0x94D049BB133111EBL; h ^= h >>> 31; h }
    def nn(): Long = { val v = next(); if (v < 0) ~v else v }
    val nTok = if (id % 1000L == 0L) 10 else 30 + (nn() % 40L).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < nTok) {
      if (i > 0) sb.append(' ')
      if (i % 8 == 7) sb.append(stop((nn() % stop.length).toInt))
      else {
        val w = math.min(nn() % 4096L, nn() % 4096L) // mild skew
        sb.append('w').append(w)
      }
      i += 1
    }
    // the near-dup gets one token no generator ever emits: distinct
    // trigram sets differ by exactly the one new trailing trigram, so
    // Jaccard = D/(D+1) — always in (0.96, 1.0) at these lengths
    if (rawId % 100L == 98L) sb.append(" zedited")
    // the boilerplate class gets the fixed footer phrase (hub shingles)
    if (rawId % 100L == 3L) sb.append(" visit zour zgreat zsite ztoday")
    sb.toString
  }

  def main(args: Array[String]): Unit =
    Rehearsal.run(args, defaultSize = 1000000L)(rehearse)

  private def rehearse(spark: SparkSession, n: Long): Seq[(String, Any)] = {
    import spark.implicits._

    // distributed deterministic corpus; persisted because four stages
    // consume it (at 100 TB this is the parquet table itself)
    val corpus = spark.range(0, n).mapPartitions(_.map(i => (i, textFor(i))))
      .toDF("doc_id", "text").persist()
    val nDocs = corpus.count() // materialize outside the timed stages

    // stage 1: C4 quality signal pass (the production c4RulesOf) — one
    // narrow projection, no shuffle; kept fraction should be high (the
    // generator produces in-band docs) but not vacuously 1.0
    val ((nKept, totTok), tC4) = timed {
      val r = graft.queries.CurationQueries.c4RulesOf(corpus)
        .agg(sum(col("keep")), sum(col("n_tokens"))).head()
      (r.getLong(0), r.getLong(1))
    }

    // stage 2: exact dedup — ONE shuffle on the 32 B md5 of normalized
    // text, never the text itself; group count is exact and the planted
    // 1% dup groups must all surface
    val ((nGroups, nDupGroups), tExact) = timed {
      val g = corpus
        .groupBy(md5(graft.queries.DedupQueries.norm(col("text"))).as("h"))
        .agg(count(lit(1)).as("c"))
      val r = g.agg(count(lit(1)),
        sum(when(col("c") > 1, 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // stage 3: MinHash near-dup — the REAL signature(k=128) → 32x4
    // banding → exact-Jaccard-verify engine. Expected pairs: n/100 exact
    // (Jaccard 1.0) + n/100 edited (≈0.88) — both classes must survive
    // the banding AND the verification
    val (nPairs, tMinhash) = timed {
      // same discipline as the production memo wrapper: the shingle sets
      // feed the signature build AND both exact-verify arms, so they are
      // persisted for the duration of the pair build
      val sets = corpus.select(col("doc_id"),
        graft.queries.DedupQueries.shingles(col("text")).as("sh")).persist()
      try graft.queries.DedupQueries.minhashDupPairsUncached(spark, sets).count()
      finally sets.unpersist(blocking = false)
    }
    // release any pinned intermediates before the next heavy stage — the
    // same per-query sweep discipline SparkEntry applies; without it the
    // pinned shingle/posting tables of consecutive stages coexist and an
    // 8 GiB heap dies at 2M docs
    Caches.sweep(spark)

    // stage 3b: exact n-gram Jaccard via the inverted index — the hub
    // guard's live demonstration: the planted boilerplate's 3 interior
    // trigrams have df = n/100 ≫ the rare cap, so WITHOUT the guard
    // candidate generation would enumerate ~1.5e8 pairs at n=1M from
    // boilerplate alone; WITH it the stage completes in the same order
    // of time as minhash and still finds exactly the planted pairs
    val ((nJacPairs, nHub, maxDf), tJaccard) = timed {
      val sets = corpus.select(col("doc_id"),
        graft.queries.DedupQueries.shingles(col("text")).as("sh"))
      val nP = graft.queries.DedupQueries.jaccardDupPairsOf(spark, sets).count()
      val dfs = sets.select(explode(col("sh")).as("sng"))
        .groupBy("sng").agg(count(lit(1)).as("df")).filter(col("df") > 50)
        .agg(count(lit(1)), max(col("df"))).head()
      (nP, dfs.getLong(0), if (dfs.isNullAt(1)) 0L else dfs.getLong(1))
    }
    Caches.sweep(spark)

    // stage 3c: containment (doc-in-doc) on the same corpus — the
    // directed near-superset detector over the same rare-shingle index.
    // Planted expectations are EXACT: each exact-dup pair is mutually
    // contained (2 directed pairs), and each appended-token near-dup is
    // contained 1.0 forward and (|B|-1)/|B| ≥ 0.9 backward (2 directed
    // pairs) — 4·(n/100) total. The boilerplate footer's hub trigrams
    // are excluded by the df cap, so that class contributes ZERO
    // candidates: the hub guard is load-bearing for the asymmetric
    // threshold too (a footer shared by n/100 docs would otherwise
    // enumerate the same quadratic candidate set as in 3b).
    val (nContPairs, tCont) = timed {
      val sets = corpus.select(col("doc_id"),
        graft.queries.DedupQueries.shingles(col("text")).as("sh"))
      graft.queries.DedupQueries.containmentPairsOf(spark, sets).count()
    }
    Caches.sweep(spark)

    // stage 4: sequence packing — the two-phase distributed cumsum
    // (per-bucket sums → metadata-sized bucket cumsum → bucket-partitioned
    // windows); the one-task global-window trap is exactly what this
    // rehearsal proves we do NOT do
    import org.apache.spark.sql.expressions.Window
    val C = 2048L; val B = 10000L
    val ((nPacked, lastEnd), tPack) = timed {
      val t = corpus.select(col("doc_id"),
        size(graft.queries.DedupQueries.tokens(col("text"))).cast("long")
          .as("n_tok"))
        .withColumn("bkt", floor(col("doc_id") / B).cast("long"))
      val wB = Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = t.groupBy("bkt").agg(sum(col("n_tok")).as("bt"))
        .withColumn("base", coalesce(sum(col("bt")).over(wB), lit(0L)))
        .select("bkt", "base")
      val wIn = Window.partitionBy("bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = t.join(broadcast(base), "bkt")
        .withColumn("start_off",
          col("base") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      val r = packed.agg(count(lit(1)),
        max(col("start_off") + col("n_tok"))).head()
      (r.getLong(0), r.getLong(1))
    }

    // stage 5: content-defined chunking at corpus scale — the CDC kernel
    // inside mapPartitions (dedup_cdc's shape: text never shuffles, one
    // chunk key per chunk does). Planted invariant: ONLY the 1% exact-dup
    // pairs share every chunk — the appended-token near-dups break on
    // their differing tail chunk, so exactly 2·(n/100) docs come out
    // fully-duplicated at chunk level; chunk geometry must hold the 1/64
    // boundary-density design point.
    val (((nFullDup, nPlantedFull), totChunks, totChars), tCdc) = timed {
      val nrm = corpus.select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("nt"))
      val chars = nrm.agg(sum(length(col("nt")))).head().getLong(0)
      val chunks = nrm.as[(Long, String)].mapPartitions(_.flatMap {
        case (id, nt) =>
          graft.queries.DedupQueries.cdcChunkHashes(nt).map(h => (id, h))
      }).toDF("doc_id", "chunk").persist()
      val dfc = chunks.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("nd"))
      val per = chunks.join(dfc, "chunk").groupBy("doc_id")
        .agg(count(lit(1)).as("nc"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dc"))
      // planted = both members of each exact-dup pair (ids ≡ 97/99 mod
      // 100); incidental fully-dup docs exist too — every chunk of a doc
      // can be a short, vocabulary-common string — so the EXACT gate is
      // "all planted docs are fully chunk-duplicated", with the total
      // reported alongside
      val r = per.agg(
        sum(when(col("nc") === col("dc"), 1L).otherwise(0L)),
        sum(when(col("nc") === col("dc") &&
          (col("doc_id") % 100 === 97 || col("doc_id") % 100 === 99), 1L)
          .otherwise(0L)),
        sum(col("nc"))).head()
      chunks.unpersist(blocking = false)
      ((r.getLong(0), r.getLong(1)), r.getLong(2), chars)
    }
    Caches.sweep(spark)

    // stage 6: exact-k reservoir sampling (sample_reservoir's shared
    // reservoirTopK) over 16 synthetic sources. Two gates: (a) every
    // source yields exactly k rows, (b) the selected set is the TRUE
    // top-k prefix of the hash order — per source, the number of corpus
    // rows at-or-below the max selected hash must equal k exactly (md5
    // is collision-free here), which fails if the off<k bucket prune
    // ever drops a legitimate candidate.
    val (((resRows, resSources), resPrefixOk), tRes) = timed {
      val keyed = corpus.select((col("doc_id") % 16).as("src"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h")).persist()
      val sel = graft.queries.CurationQueries
        .reservoirTopK(keyed.select(col("src"), col("doc_id"), col("h")), 64)
        .persist()
      val nSel = sel.count()
      val nSrc = sel.select(col("grp")).distinct().count()
      val maxSel = sel.join(keyed.select(col("doc_id").as("id"), col("h")), "id")
        .groupBy(col("grp")).agg(max(col("h")).as("hmax"))
      val below = keyed.join(maxSel.withColumnRenamed("grp", "src"), "src")
        .groupBy(col("src")).agg(
          sum(when(col("h") <= col("hmax"), 1L).otherwise(0L)).as("nb"))
      val ok = below.filter(col("nb") =!= 64L).count() == 0L
      sel.unpersist(blocking = false)
      keyed.unpersist(blocking = false)
      ((nSel, nSrc), ok)
    }
    Caches.sweep(spark)

    // stage 7: BPE merge learning (vocab_bpe_merges' shared bpeMergeFold)
    // — 2 rounds at corpus scale. The corpus is scanned once for the
    // (word, count) table; each round runs on that vocabulary-sized
    // relation. Gate: the SYMBOL-COUNT INVARIANT — after applying the
    // round's argmax pair with the fold, the corpus-weighted symbol
    // count must drop by EXACTLY the number of greedy applications
    // computed INDEPENDENTLY via the positional rule (maximal runs of
    // consecutive matches; ceil(L/2) applications per run). The fold
    // and the positional rule share no code; exact agreement at 1M docs
    // is a reference-free correctness gate for the merge kernel.
    val ((bpeRounds, bpeApplied), tBpe) = timed {
      import org.apache.spark.sql.expressions.Window
      var t = corpus.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("syms", expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .persist()
      var okRounds = 0L
      var applied = 0L
      for (_ <- 1 to 2) {
        val best = t.select(col("n"), explode(expr(
          "transform(slice(syms, 1, greatest(size(syms) - 1, 0)), " +
            "(x, i) -> struct(x AS x, element_at(syms, i + 2) AS y))")).as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(sum(col("n")).as("c"))
          .orderBy(col("c").desc, col("x"), col("y")).limit(1).head()
        val (bx, by) = (best.getString(0), best.getString(1))
        // independent application count: positional match runs
        val m = t.select(col("w"), col("n"),
            posexplode(col("syms")).as(Seq("i", "s0")),
            size(col("syms")).as("len"),
            col("syms"))
          .filter(col("i") < col("len") - 1 &&
            col("s0") === bx && expr("try_element_at(syms, i + 2)") === by)
        val wRun = Window.partitionBy(col("w")).orderBy(col("i"))
        val apps = m
          .withColumn("g", col("i") - row_number().over(wRun))
          .groupBy(col("w"), col("n"), col("g"))
          .agg(count(lit(1)).as("len_run"))
          .agg(sum(col("n") * ((col("len_run") + 1L) / lit(2L)).cast("long")))
          .head().getLong(0)
        val t2 = t.withColumn("syms",
          graft.queries.TextQueries.bpeMergeFold(col("syms"), bx, by))
          .persist()
        val before = t.agg(sum(col("n") * size(col("syms")))).head().getLong(0)
        val after = t2.agg(sum(col("n") * size(col("syms")))).head().getLong(0)
        t.unpersist(blocking = false)
        t = t2
        applied += apps
        if (before - after == apps && apps > 0L) okRounds += 1
      }
      t.unpersist(blocking = false)
      (okRounds, applied)
    }
    Caches.sweep(spark)

    corpus.unpersist(blocking = false)
    val expDup = n / 100L // planted exact groups == planted near pairs
    val expSpam = (n + 999L) / 1000L // ids ≡ 0 (mod 1000) incl. id 0
    def rate(c: Long, t: Double): Double = c / t / 1000.0
    // the cumsum's final offset must equal the exact token total — the
    // two-phase scheme is only worth rehearsing if it is provably lossless
    Seq("docs" -> n, "total_tokens" -> totTok,
      "c4_sec" -> tC4, "c4_kdocs_per_sec" -> rate(nDocs, tC4),
      "c4_kept" -> nKept,
      "exact_sec" -> tExact, "exact_kdocs_per_sec" -> rate(nDocs, tExact),
      "exact_groups" -> nGroups, "exact_dup_groups" -> nDupGroups,
      "minhash_sec" -> tMinhash, "minhash_kdocs_per_sec" -> rate(nDocs, tMinhash),
      "minhash_pairs" -> nPairs,
      "jaccard_sec" -> tJaccard, "jaccard_kdocs_per_sec" -> rate(nDocs, tJaccard),
      "jaccard_pairs" -> nJacPairs, "hub_shingles" -> nHub, "hub_max_df" -> maxDf,
      "containment_sec" -> tCont,
      "containment_kdocs_per_sec" -> rate(nDocs, tCont),
      "containment_pairs" -> nContPairs,
      "pack_sec" -> tPack, "pack_kdocs_per_sec" -> rate(nDocs, tPack),
      "cdc_sec" -> tCdc, "cdc_kdocs_per_sec" -> rate(nDocs, tCdc),
      "cdc_chunks" -> totChunks, "cdc_full_dup_docs" -> nFullDup,
      "reservoir_sec" -> tRes, "reservoir_rows" -> resRows,
      "reservoir_sources" -> resSources,
      "bpe_sec" -> tBpe, "bpe_rounds_ok" -> bpeRounds,
      "bpe_applied" -> bpeApplied,
      "checks" -> (resRows == 16L * 64L && resSources == 16L &&
        resPrefixOk && bpeRounds == 2L && bpeApplied > 0L &&
        nDocs == n && nGroups == n - expDup &&
        nDupGroups == expDup && nPairs == 2 * expDup &&
        nJacPairs == 2 * expDup && nHub >= 3 && maxDf == n / 100L &&
        nContPairs == 4 * expDup &&
        nPacked == n && lastEnd == totTok &&
        nKept == n - expSpam &&
        nPlantedFull == 2 * expDup && nFullDup >= 2 * expDup &&
        totChunks * 16 < totChars && totChars < totChunks * 256))
  }
}
