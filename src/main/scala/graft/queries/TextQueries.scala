package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Exprs
import graft.Tables._
import graft.functions.Fnv64
import DedupQueries.{norm, tokens}

/** Text-analysis operators over `documents` (builder brief, SURVEY.md
  * §2.4): language ID (stopword-overlap heuristic), quality scoring,
  * token counting (whitespace + BPE-ish regex), and document
  * fingerprinting via the native codegen'd `fnv64` expression.
  *
  * All scoring is integer-quantized (x1e4) before it leaves the engine:
  * int/int division is exact IEEE double in both Spark and DuckDB, so the
  * oracle hash-matches. Everything is built from codegen'd functions —
  * no UDF appears in any plan (fingerprints use a native Catalyst
  * Expression, which codegens into the scan stage).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val STOP_EN = Seq("the", "and", "of", "to", "in", "is", "it", "for", "on", "with")
  private val STOP_ES = Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los")
  private val STOP_DE = Seq("der", "die", "und", "das", "nicht", "ist", "ich", "ein", "mit", "von")
  private val STOP_FR = Seq("le", "les", "et", "des", "une", "dans", "est", "pour", "au", "sur")
  private val STOP_ZH = Seq("de", "shi", "le", "zai", "he", "wo", "ni", "ta", "men", "bu")

  private def litArray(ws: Seq[String]): Column = array(ws.map(lit): _*)

  val queries: Map[String, Q] = Map(
    // -- corpus rollup per (lang, source)
    "text_stats" -> ((s, d) => {
      documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_tok")).as("sum_tokens"),
          floor(sum(col("n_tok")) * 10000 / count(lit(1))).as("avg_tokens_e4"))
        .orderBy("lang", "source")
    }),

    // -- per-doc quality scoring: type/token ratio, mean token length,
    //    stopword density, length prior — integer-quantized blend.
    "text_quality" -> ((s, d) => {
      val t = tokens(col("text"))
      documents(s, d)
        .select(col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          size(array_distinct(t)).cast("long").as("n_types"),
          length(norm(col("text"))).cast("long").as("n_chars_norm"),
          size(filter(t, x => array_contains(litArray(STOP_EN), x)))
            .cast("long").as("stop_hits"))
        .withColumn("ttr_e4", floor(col("n_types") * 10000 / col("n_tokens")))
        .withColumn("avg_len_e4",
          floor((col("n_chars_norm") - (col("n_tokens") - 1)) * 10000 / col("n_tokens")))
        .withColumn("stop_e4", floor(col("stop_hits") * 10000 / col("n_tokens")))
        .withColumn("score_e4",
          floor((col("ttr_e4") + col("stop_e4") * 2
            + least(col("n_tokens") * 100, lit(10000L))) / 4))
        .select("doc_id", "n_tokens", "n_types", "ttr_e4", "avg_len_e4",
          "stop_e4", "score_e4")
        .orderBy("doc_id")
    }),

    // -- language ID: distinct-token overlap with per-language stopword
    //    profiles; argmax with fixed priority en>es>de>fr>zh, 'und' when
    //    no profile hits.
    "lang_id" -> ((s, d) => {
      val tset = array_distinct(tokens(col("text")))
      def score(ws: Seq[String]): Column = size(array_intersect(tset, litArray(ws)))
      documents(s, d)
        .select(col("doc_id"), col("lang").as("declared_lang"),
          size(tset).as("n_types"),
          score(STOP_EN).as("s_en"), score(STOP_ES).as("s_es"),
          score(STOP_DE).as("s_de"), score(STOP_FR).as("s_fr"),
          score(STOP_ZH).as("s_zh"))
        .withColumn("best", greatest(col("s_en"), col("s_es"), col("s_de"),
          col("s_fr"), col("s_zh")))
        .withColumn("pred_lang",
          when(col("best") === 0, lit("und"))
            .when(col("s_en") === col("best"), lit("en"))
            .when(col("s_es") === col("best"), lit("es"))
            .when(col("s_de") === col("best"), lit("de"))
            .when(col("s_fr") === col("best"), lit("fr"))
            .otherwise(lit("zh")))
        .select(col("doc_id"), col("declared_lang"), col("pred_lang"),
          floor(col("best") * 10000 / col("n_types")).as("conf_e4"))
        .orderBy("doc_id")
    }),

    // -- token counting: whitespace tokens vs BPE-ish regex pieces
    //    (letter runs / digit runs / other symbols).
    "token_count" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("n_bpe"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // -- document fingerprints via the native fnv64 Expression: whole-doc
    //    rolling hash + min-shingle fingerprint (winnowing-style sketch).
    //    Hash-dependent values -> rows-only gate; golden values pinned in
    //    PipelineSpec.
    // -- heavy-hitter 2-grams via a count-min sketch, exact-verified:
    //    the sketch is a fixed d×w = 4×1024 counter grid (32 KB total,
    //    merged associatively map-side) — at 100 TB the exact global
    //    n-gram count would shuffle billions of distinct grams, while the
    //    sketch state is constant-size per partition. The top-10 exact
    //    candidates are then point-estimated from the sketch; CMS
    //    guarantees estimate >= exact, and the row hashes are the
    //    engine's reproducible fnv64 — so DuckDB recomputes the ENTIRE
    //    sketch (bucket sums per row, min over rows) and the overestimate
    //    column is value-gated, not just asserted.
    "freq_ngrams_cms" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{Shingles, SketchAggs}
      val D = 4; val W = 1024
      val grams = documents(s, d)
        .select(explode(Exprs.toColumn(
          Shingles(Exprs.toExpr(col("text")), 2, distinct = false))).as("gram"))
        .persist()
      val cms = new SketchAggs.CountMin(D, W)
      val sketch = grams.as[String].select(cms.toColumn).head()
      val top = grams.groupBy("gram").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("gram")).limit(10)
        .as[(String, Long)].collect()
      val rows = top.map { case (g, n) =>
        val est = cms.estimate(sketch, g)
        (g, n, est, est - n)
      }.toSeq
      // both consumers (sketch + exact top-10) have been collected; the
      // scratch cache is done
      grams.unpersist(blocking = false)
      rows.toDF("gram", "exact_n", "cms_n", "over_n")
        .orderBy(col("exact_n").desc, col("gram"))
    }),

    // -- TF-IDF top-3 terms per document with an integer-rational idf:
    //    idf_x1e6 = floor(N * 1e6 / df). No transcendental log appears —
    //    libm's ln is not correctly-rounded and differs between the JVM
    //    and DuckDB in the last ulp, so a log-based score could not be
    //    hash-compared; the rational idf preserves the ranking semantics
    //    (monotone decreasing in df) with exact integer arithmetic.
    //    Scale shape: tf is one partial+final count agg over (doc, term);
    //    df aggregates the tf table (vocabulary-sized, far smaller than
    //    the token stream); the tf⋈df join shuffles on term; the top-3
    //    rank is a window PARTITIONED BY doc — no global sort anywhere.
    "text_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val n = docs.count()
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "t")
        .withColumn("score", col("tf") * floor(lit(n * 1000000L) / col("df")))
      val rnk = row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("t")))
      scored.withColumn("rnk", rnk).filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("t").as("term"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rnk")
    }),

    // -- redaction / PII masking: ONE narrow codegen'd pass, no shuffle —
    //    the standard pre-training scrub. Emails, long digit runs and a
    //    term dictionary collapse to a placeholder; n_masked surfaces how
    //    much was removed (the per-doc audit signal a pipeline logs). The
    //    synthetic corpus contains no emails/digits, so those two pattern
    //    arms exercise the plumbing end-to-end while the dictionary arm
    //    produces real hits. Patterns stay in the RE2∩Java-regex common
    //    dialect so the oracle replays them byte-identically.
    "text_redact" -> ((s, d) => {
      val re = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" + // emails
        "|[0-9]{6,}" + // long digit runs (ids, phone-ish)
        "|\\b(?:customer|supplier)\\b" // term dictionary
      documents(s, d)
        .select(col("doc_id"),
          regexp_replace(col("text"), re, "<MASKED>").as("masked"),
          size(regexp_extract_all(col("text"), lit(re), lit(0)))
            .cast("long").as("n_masked"))
        .orderBy("doc_id")
    }),

    // -- vocabulary build + token-id encoding (the tokenizer-adjacent step
    //    of a training-data pipeline): the top-K tokens by corpus count
    //    (ties broken lexicographically) get ids 1..K, every other token
    //    encodes as OOV id 0, and each document surfaces its full id
    //    sequence (as a CSV string so the oracle hash-compares it) plus
    //    its OOV count. Scale shape: the count agg map-side-combines to
    //    vocabulary size; the top-K cut is TakeOrderedAndProject (never a
    //    global sort of the vocabulary); the rank window then runs over
    //    the ALREADY-LIMITED K rows — bounded by construction, so the
    //    single-partition window is safe at any corpus size; encoding is
    //    one broadcast hash join against the K-row vocab, corpus shuffles
    //    once on doc_id to reassemble sequences.
    "vocab_encode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val K = 20
      val base = documents(s, d).select(col("doc_id"), tokens(col("text")).as("w"))
      val vocab = base.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(K)
        .withColumn("id",
          row_number().over(Window.orderBy(col("c").desc, col("t"))).cast("long"))
        .select("t", "id")
      base.select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "t")))
        .join(broadcast(vocab), Seq("t"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"),
              coalesce(col("id"), lit(0L)).as("id")))),
            x => x.getField("id").cast("string")), ",").as("ids_csv"))
        .orderBy("doc_id")
    }),

    // -- BM25 search scoring (k1=1.2, b=0.75) for a fixed 3-term query,
    //    with the LOG DROPPED from the idf: the rational core
    //    (n−df+0.5)/(df+0.5) keeps per-term idf monotone in df while
    //    every operation stays an exactly-rounded IEEE-754 double op
    //    (libm's log is not correctly rounded and drifts between engines
    //    — same reasoning as text_tfidf's rational idf). The per-doc
    //    score is a FIXED-ORDER expression tree (three term scores summed
    //    left-to-right, one floor at the end), so the e6-quantized value
    //    is bit-identical in Spark and DuckDB. Scale shape: tf per term
    //    comes from a narrow per-row array filter (no explode, no token
    //    shuffle); n/avgdl/df all come from ONE map-side-combined global
    //    aggregate broadcast back as a 1-row frame; the top-20 is
    //    TakeOrderedAndProject. The corpus is scanned once and never
    //    shuffled.
    "bm25_search" -> ((s, d) => {
      val terms = Seq("dup", "join", "spark") // rare / common / common df mix
      val base = documents(s, d)
        .select(col("doc_id") +: size(tokens(col("text"))).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(tokens(col("text")), x => x === t)).cast("long")
              .as(s"tf${i + 1}") }: _*)
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
      base.crossJoin(broadcast(stats))
        .withColumn("score_e6", floor(
          (termScore(col("tf1"), col("df1"))
            + termScore(col("tf2"), col("df2"))
            + termScore(col("tf3"), col("df3"))) * lit(1000000.0)).cast("long"))
        .select("doc_id", "dl", "tf1", "tf2", "tf3", "score_e6")
        .orderBy(col("score_e6").desc, col("doc_id")).limit(20)
    }),

    "text_fingerprint" -> ((s, d) => {
      def fnv(c: Column): Column = Exprs.toColumn(Fnv64(Exprs.toExpr(c)))
      documents(s, d)
        .select(col("doc_id"),
          format_string("%016x", fnv(norm(col("text")))).as("doc_fp"),
          format_string("%016x",
            array_min(transform(DedupQueries.shingles(col("text")), x => fnv(x))))
            .as("min_shingle_fp"))
        .orderBy("doc_id")
    }),

    // -- collocation mining: the top-20 corpus bigrams by LIFT against
    //    unigram independence, lift = N·c(ab) / (c(a)·c(b)) — the
    //    phrase-extraction signal (PMI without the log, so every value
    //    stays an exact integer: lift_e6 uses BIGINT floor-division, never
    //    a float the two engines could round apart). Support floor
    //    c(ab) >= 5 prunes the long tail BEFORE the unigram joins, and
    //    the final top-k is orderBy+limit — TakeOrderedAndProject
    //    (per-partition heaps), never a global sort. At 100 TB the
    //    unigram relation is vocabulary-sized (broadcastable) and the
    //    supported-bigram relation is orders of magnitude smaller than
    //    the token stream.
    "text_collocations" -> ((s, d) => {
      val base = documents(s, d).select(tokens(col("text")).as("w"))
      val uni = base.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).as("n"))
      val bi = base.select(explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), " +
          "(x, i) -> struct(x AS t1, element_at(w, i + 2) AS t2))")).as("p"))
        .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      bi.join(broadcast(uni.withColumnRenamed("t", "t1")
            .withColumnRenamed("c", "c_a")), "t1")
        .join(broadcast(uni.withColumnRenamed("t", "t2")
            .withColumnRenamed("c", "c_b")), "t2")
        .crossJoin(broadcast(tot))
        .select(concat_ws(" ", col("t1"), col("t2")).as("bigram"),
          col("c_ab"), col("c_a"), col("c_b"),
          expr("c_ab * n * 1000000L div (c_a * c_b)").as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("bigram"))
        .limit(20)
    }),

    // -- RAKE keyword extraction (Rose et al. 2010): stopwords split
    //    each doc into candidate phrases (maximal stopword-free token
    //    runs); every word scores deg/freq over the corpus phrase table
    //    (deg = Σ lengths of phrases containing it, freq = # phrase
    //    memberships) and a phrase scores the sum of its words' scores.
    //    Scores stay exact integers (deg·1e6 DIV freq), so the top-20
    //    ranking is partitioning-independent and hash-gated. Scale
    //    shape: segmentation is a PER-DOC window cumsum (bounded by doc
    //    length, never a global window); the word-stats table is
    //    vocabulary-sized (Zipf-small → broadcast back); phrase
    //    reassembly shuffles once on (doc, phrase-slot); top-20 is
    //    TakeOrderedAndProject.
    "text_rake" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
        .filter(col("t") =!= "")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val members = tok
        .withColumn("isstop", col("t").isInCollection(STOP_EN))
        .withColumn("ph", sum(col("isstop").cast("long")).over(w))
        .filter(!col("isstop"))
        .select(col("doc_id"), col("ph"), col("pos"), col("t"))
      val plen = members.groupBy(col("doc_id"), col("ph"))
        .agg(count(lit(1)).as("len"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t"))).as("phrase"))
      val wstat = members
        .join(plen.select(col("doc_id"), col("ph"), col("len")),
          Seq("doc_id", "ph"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      val scored = members.join(broadcast(wstat), "t")
        .groupBy(col("doc_id"), col("ph"))
        .agg(sum(expr("deg * 1000000 DIV freq")).as("score_e6"))
      scored.join(plen, Seq("doc_id", "ph"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occurrences"),
          max(col("score_e6")).as("score_e6"))
        .orderBy(col("score_e6").desc, col("phrase"))
        .limit(20)
    }),

    // -- BPE MERGE LEARNING (tokenizer training — the op that turns this
    //    engine's token pipeline from "apply a vocab" into "train one"):
    //    3 rounds of byte-pair encoding over the corpus VOCABULARY. The
    //    classic Sennrich trick is the scale story: the corpus is
    //    scanned ONCE to build the (word, count) table; every merge
    //    round then runs on that vocabulary-sized relation — pair counts
    //    via one partial-aggregated explode (overlapping pairs counted,
    //    as in reference BPE), the argmax pair under the (count DESC,
    //    x, y) total order as ONE bounded driver scalar per round
    //    (TakeOrdered(1) — ties are deterministic in both engines, both
    //    compare strings as binary UTF-8), and the merge applied per
    //    word by the codegen'd [[bpeMergeFold]] HOF — a row-local fold,
    //    NO shuffle in the apply step. The oracle replays each round as
    //    chained MATERIALIZED CTEs with an independent POSITIONAL
    //    formulation of greedy merging (match runs + even-offset rule)
    //    — two different greedy implementations agreeing on every
    //    merged vocabulary is the gate.
    "vocab_bpe_merges" -> ((s, d) => {
      import s.implicits._
      var t = graft.Caches.pin(
        documents(s, d).select(explode(tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("n"))
          .withColumn("syms", expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (r <- 1 to 3) {
        val pc = t.select(col("n"), explode(expr(
          "transform(slice(syms, 1, greatest(size(syms) - 1, 0)), " +
            "(x, i) -> struct(x AS x, element_at(syms, i + 2) AS y))")).as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(sum(col("n")).as("c"))
        val best = pc.orderBy(col("c").desc, col("x"), col("y")).limit(1)
          .head() // bounded scalar: ONE (pair, count) row per round
        val (bx, by, bc) =
          (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((r.toLong, bx, by, bc))
        t = graft.Caches.pin(
          t.withColumn("syms", bpeMergeFold(col("syms"), bx, by)))
      }
      merges.result().toDF("round", "sym_x", "sym_y", "pair_count")
        .orderBy("round")
    }))

  /** One greedy left-to-right BPE merge pass over a symbol array: fold
    * the symbols, merging (x, y) wherever the accumulator's LAST element
    * is x and the incoming symbol is y. After a merge the new token is
    * x+y, which can never equal x again (lengths grow), so the plain
    * fold IS greedy BPE semantics: "aaa" under (a,a) → ["aa","a"], never
    * ["a","aa"]. Pure codegen'd HOF (`functions.aggregate`), no UDF;
    * row-local, so applying a merge corpus-wide costs zero shuffles.
    * Shared with the greedy-semantics spec. */
  private[graft] def bpeMergeFold(syms: Column, x: String, y: String): Column =
    aggregate(syms, expr("cast(array() as array<string>)"),
      (acc, s0) => when(size(acc) > 0 &&
          try_element_at(acc, lit(-1)) === lit(x) && s0 === lit(y),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
        .otherwise(concat(acc, array(s0))))

  /** Independent positional replay of one greedy BPE merge round r over
    * t{r-1}: match positions, gaps-and-islands match runs, the
    * even-offset rule (within a run of consecutive matches, greedy
    * merges the 1st, 3rd, 5th…), consumed-position drop, list rebuild.
    * Deliberately NOT the engine's fold — two formulations must agree. */
  private def bpeRoundCtes(r: Int): String = {
    val p = r - 1
    s"""pr$r AS (SELECT n, unnest(list_transform(range(1, len(syms)), i ->
           struct_pack(x := syms[i], y := syms[i + 1]))) AS pp FROM t$p),
       pc$r AS (SELECT pp.x AS x, pp.y AS y, CAST(SUM(n) AS BIGINT) AS c
         FROM pr$r GROUP BY 1, 2),
       b$r AS MATERIALIZED (SELECT x, y, c FROM pc$r
         ORDER BY c DESC, x, y LIMIT 1),
       po$r AS MATERIALIZED (SELECT w, n, syms,
           unnest(range(1, len(syms) + 1)) AS i FROM t$p),
       mm$r AS (SELECT q.w, q.i,
           q.i - ROW_NUMBER() OVER (PARTITION BY q.w ORDER BY q.i) AS g
         FROM po$r q, b$r b
         WHERE q.i < len(q.syms) AND q.syms[q.i] = b.x
           AND q.syms[q.i + 1] = b.y),
       mg$r AS MATERIALIZED (SELECT w, i,
           ((ROW_NUMBER() OVER (PARTITION BY w, g ORDER BY i) - 1) % 2 = 0)
             AS dm
         FROM mm$r),
       t$r AS MATERIALIZED (
         SELECT q.w, q.n, list(CASE WHEN md.i IS NOT NULL
             THEN q.syms[q.i] || q.syms[q.i + 1] ELSE q.syms[q.i] END
             ORDER BY q.i) AS syms
         FROM po$r q
         LEFT JOIN (SELECT w, i FROM mg$r WHERE dm) md
           ON md.w = q.w AND md.i = q.i
         LEFT JOIN (SELECT w, i + 1 AS i FROM mg$r WHERE dm) cs
           ON cs.w = q.w AND cs.i = q.i
         WHERE cs.i IS NULL
         GROUP BY q.w, q.n)"""
  }

  val oracleSql: Map[String, String] = Map(
    "vocab_bpe_merges" ->
      s"""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
             SELECT unnest(string_split(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), ' ')) AS w FROM documents)
           WHERE len(w) > 0 GROUP BY w),
         t0 AS MATERIALIZED (SELECT w, n,
             list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
           FROM w0),
         ${(1 to 3).map(bpeRoundCtes).mkString(",\n         ")}
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS round, x AS sym_x, y AS sym_y,
             c AS pair_count FROM b1
           UNION ALL SELECT 2, x, y, c FROM b2
           UNION ALL SELECT 3, x, y, c FROM b3)
         ORDER BY round""",
    "vocab_encode" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
           FROM documents),
         u AS (SELECT unnest(w) AS t FROM w),
         c AS (SELECT t, COUNT(*) AS c FROM u GROUP BY t),
         v AS (SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS BIGINT) AS id
               FROM c ORDER BY c DESC, t LIMIT 20),
         tok AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
               i -> struct_pack(pos := i, t := w[i]))) AS pt FROM w),
         e AS (SELECT doc_id, pt.pos AS pos, COALESCE(v.id, 0) AS id
               FROM tok LEFT JOIN v ON v.t = pt.t)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
         FROM e GROUP BY doc_id ORDER BY doc_id""",
    // identical double-op structure as the Spark expression tree — every
    // op is exactly-rounded IEEE, so the floor'd e6 value hash-matches
    "bm25_search" ->
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
         sc AS (SELECT b.doc_id, b.dl, b.tf1, b.tf2, b.tf3,
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
           FROM b, st)
         SELECT doc_id, dl, tf1, tf2, tf3,
           CAST(FLOOR(score * 1000000.0) AS BIGINT) AS score_e6
         FROM sc ORDER BY score_e6 DESC, doc_id LIMIT 20""",
    "text_rake" ->
      """WITH w AS (SELECT doc_id, string_split(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
           FROM documents),
         tok AS (SELECT doc_id, r.i AS pos, ws[r.i] AS t
           FROM w, unnest(generate_series(1, len(ws))) AS r(i)
           WHERE ws[r.i] <> ''),
         seg AS (SELECT doc_id, pos, t,
             t IN ('the','and','of','to','in','is','it','for','on','with')
               AS isstop,
             SUM(CASE WHEN t IN ('the','and','of','to','in','is','it',
                 'for','on','with') THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS ph
           FROM tok),
         members AS (SELECT doc_id, ph, pos, t FROM seg WHERE NOT isstop),
         plen AS (SELECT doc_id, ph, COUNT(*) AS len,
             string_agg(t, ' ' ORDER BY pos) AS phrase
           FROM members GROUP BY doc_id, ph),
         wstat AS (SELECT t, COUNT(*) AS freq, SUM(len) AS deg
           FROM members JOIN plen USING (doc_id, ph) GROUP BY t),
         scored AS (SELECT m.doc_id, m.ph,
             SUM(deg * 1000000 // freq) AS score_e6
           FROM members m JOIN wstat USING (t) GROUP BY m.doc_id, m.ph)
         SELECT p.phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(s.score_e6) AS BIGINT) AS score_e6
         FROM scored s JOIN plen p USING (doc_id, ph)
         GROUP BY p.phrase ORDER BY score_e6 DESC, phrase LIMIT 20""",
    "text_collocations" ->
      """WITH w AS (SELECT string_split(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
           FROM documents),
         u AS (SELECT unnest(w) AS t FROM w),
         uc AS (SELECT t, COUNT(*) AS c FROM u GROUP BY t),
         nt AS (SELECT SUM(c) AS n FROM uc),
         b AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
             i -> [w[i], w[i + 1]])) AS p FROM w),
         bc AS (SELECT p[1] AS t1, p[2] AS t2, COUNT(*) AS c_ab
           FROM b GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT bc.t1 || ' ' || bc.t2 AS bigram,
           CAST(bc.c_ab AS BIGINT) AS c_ab,
           CAST(a.c AS BIGINT) AS c_a, CAST(z.c AS BIGINT) AS c_b,
           CAST((bc.c_ab * nt.n * 1000000) // (a.c * z.c) AS BIGINT) AS lift_e6
         FROM bc CROSS JOIN nt
         JOIN uc a ON a.t = bc.t1 JOIN uc z ON z.t = bc.t2
         ORDER BY lift_e6 DESC, bigram LIMIT 20""",
    "text_redact" ->
      """SELECT doc_id,
         regexp_replace(text,
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}|[0-9]{6,}|\b(?:customer|supplier)\b',
           '<MASKED>', 'g') AS masked,
         CAST(len(regexp_extract_all(text,
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}|[0-9]{6,}|\b(?:customer|supplier)\b')) AS BIGINT) AS n_masked
         FROM documents ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok WHERE t <> '' GROUP BY 1, 2),
         df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
         sc AS (SELECT tf.doc_id, tf.t, tf.tf, df.df,
                  tf.tf * CAST(FLOOR((SELECT COUNT(*) FROM documents) * 1000000 / df.df) AS BIGINT) AS score
                FROM tf JOIN df USING (t)),
         r AS (SELECT doc_id, t AS term, tf, df, score,
                  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS BIGINT) AS rnk
               FROM sc)
         SELECT doc_id, rnk, term, tf, df, score FROM r WHERE rnk <= 3
         ORDER BY doc_id, rnk""",
    "text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS BIGINT) AS sum_tokens,
         CAST(FLOOR(SUM(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) * 10000 / COUNT(*)) AS BIGINT) AS avg_tokens_e4
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "text_quality" ->
      """WITH t AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
             len(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nc
           FROM documents),
         b AS (SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_types, nc,
             len(list_filter(w, x -> list_contains(
               ['the','and','of','to','in','is','it','for','on','with'], x))) AS stop_hits
           FROM t),
         q AS (SELECT doc_id, n_tokens, n_types,
             CAST(FLOOR(n_types * 10000 / n_tokens) AS BIGINT) AS ttr_e4,
             CAST(FLOOR((nc - (n_tokens - 1)) * 10000 / n_tokens) AS BIGINT) AS avg_len_e4,
             CAST(FLOOR(stop_hits * 10000 / n_tokens) AS BIGINT) AS stop_e4
           FROM b)
         SELECT doc_id, n_tokens, n_types, ttr_e4, avg_len_e4, stop_e4,
           CAST(FLOOR((ttr_e4 + stop_e4 * 2 + least(n_tokens * 100, 10000)) / 4) AS BIGINT) AS score_e4
         FROM q ORDER BY doc_id""",
    "lang_id" ->
      """WITH t AS (SELECT doc_id, lang AS declared_lang,
             list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS ts
           FROM documents),
         sc AS (SELECT doc_id, declared_lang, len(ts) AS n_types,
             len(list_intersect(ts, ['the','and','of','to','in','is','it','for','on','with'])) AS s_en,
             len(list_intersect(ts, ['el','la','de','que','y','en','un','por','con','los'])) AS s_es,
             len(list_intersect(ts, ['der','die','und','das','nicht','ist','ich','ein','mit','von'])) AS s_de,
             len(list_intersect(ts, ['le','les','et','des','une','dans','est','pour','au','sur'])) AS s_fr,
             len(list_intersect(ts, ['de','shi','le','zai','he','wo','ni','ta','men','bu'])) AS s_zh
           FROM t),
         g AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS best FROM sc)
         SELECT doc_id, declared_lang,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en'
                WHEN s_es = best THEN 'es'
                WHEN s_de = best THEN 'de'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS pred_lang,
           CAST(FLOOR(best * 10000 / n_types) AS BIGINT) AS conf_e4
         FROM g ORDER BY doc_id""",
    "token_count" ->
      """SELECT doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_ws,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
         len(text) AS n_chars
         FROM documents ORDER BY doc_id""",
    // the whole CMS recomputed in SQL: 2-gram stream (Shingles(2, false)
    // semantics incl. the short-doc whole-text fallback), per-row salted
    // fnv64 buckets (HUGEINT fold — same recipe as text_fingerprint),
    // bucket sums per (row, bucket), estimate = min over rows. h % 1024
    // on the unsigned HUGEINT equals Spark's (h & 1023) on the signed
    // long (low 10 bits are representation-independent).
    "freq_ngrams_cms" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
           FROM documents),
         g AS (SELECT unnest(CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                 ELSE [nt] END) AS gram
           FROM w),
         c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
         cand AS (SELECT gram, n FROM c ORDER BY n DESC, gram LIMIT 10),
         hh AS (SELECT c.gram, c.n, r.r,
             list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(range(1, len(chr(97 + CAST(r.r AS INTEGER)) || c.gram) + 1),
                   i -> CAST(ord(substr(chr(97 + CAST(r.r AS INTEGER)) || c.gram, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616) % 1024 AS bkt
           FROM c, range(0, 4) AS r(r)),
         bs AS (SELECT r, bkt, SUM(n) AS s FROM hh GROUP BY r, bkt),
         est AS (SELECT cand.gram, cand.n, MIN(bs.s) AS cms
           FROM cand JOIN hh ON hh.gram = cand.gram
                     JOIN bs ON bs.r = hh.r AND bs.bkt = hh.bkt
           GROUP BY cand.gram, cand.n)
         SELECT gram, CAST(n AS BIGINT) AS exact_n, CAST(cms AS BIGINT) AS cms_n,
           CAST(cms - n AS BIGINT) AS over_n
         FROM est ORDER BY exact_n DESC, gram""",
    // FNV-1a 64 reproduced in SQL: fold (xor then * prime) over the chars
    // in HUGEINT (the prime is 2^40.x, so products stay inside 128-bit)
    // mod 2^64; min-shingle uses SIGNED ordering to match Spark's
    // array_min over LongType; %016x == lpad(to_hex(unsigned)).
    // ord() == UTF-8 byte holds because the corpus is ASCII.
    "text_fingerprint" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
           FROM documents),
         sh AS (SELECT doc_id, nt,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [nt] END AS sh
           FROM w),
         f AS (SELECT doc_id,
             list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(range(1, len(nt)+1), i -> CAST(ord(substr(nt, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616) AS doc_f,
             list_transform(sh, s -> list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(range(1, len(s)+1), i -> CAST(ord(substr(s, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616)) AS sh_f
           FROM sh),
         m AS (SELECT doc_id, doc_f,
             list_min(list_transform(sh_f, x ->
               CASE WHEN x >= 9223372036854775808 THEN x - 18446744073709551616 ELSE x END)) AS mn
           FROM f)
         SELECT doc_id,
           lower(lpad(to_hex(CAST(doc_f AS UBIGINT)), 16, '0')) AS doc_fp,
           lower(lpad(to_hex(CAST(CASE WHEN mn < 0 THEN mn + 18446744073709551616 ELSE mn END AS UBIGINT)), 16, '0')) AS min_shingle_fp
         FROM m ORDER BY doc_id""")
}
