package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Rehearsal.timed

/** Embedding-pipeline scale rehearsal: drive the k-means engine
  * ([[graft.queries.SimilarityQueries.lloydTwoSteps]] — the SHARED
  * production path behind `cluster_kmeans`, not a rehearsal copy) well
  * past the bench SF on a synthetic corpus with PLANTED clusters, so the
  * output is checkable, not just timeable.
  *
  * Usage: EmbedScaleRehearsal [vectors]   (default 2,000,000)
  *
  * The corpus is deterministic and generated DISTRIBUTED as pure column
  * arithmetic (no driver materialization, no UDF — the generator itself
  * is a codegen'd projection): vector v belongs to planted cluster
  * c = v mod 8; each of the 64 dims takes the cluster's center value
  * (1000 or 5000, from a splitmix bit of (c, dim)) plus a per-(v, dim)
  * jitter in [-200, 200]. Separation vs noise: two centers differ in
  * ~32 dims ⇒ inter-center distance² ≈ 32·(4000)² = 5.1e8, while the
  * worst-case jitter displacement² is 64·200² = 2.56e6 — 200× smaller,
  * so exact Lloyd MUST recover the planting: vec_ids 0..7 fall in 8
  * distinct planted clusters (ids mod 8), making the k-lowest-ids init
  * one seed per true cluster, and both assignment rounds must equal the
  * planting for EVERY vector. The rehearsal fails non-zero otherwise.
  *
  * Scale shape being proven (the SCALE.md claim): assignment broadcasts
  * the k×dim centroid table and streams the corpus once with NO shuffle
  * of vectors; the update shuffles only (cluster, dim, partial-sum)
  * rows — k·dim·partitions records regardless of corpus size. At 100 TB
  * the corpus passes are scan-bound and all reduce-side state is
  * k·dim-sized, which is exactly what this measures.
  */
object EmbedScaleRehearsal {
  def main(args: Array[String]): Unit =
    Rehearsal.run(args, defaultSize = 2000000L)(rehearse)

  private def rehearse(spark: SparkSession, n: Long): Seq[(String, Any)] = {
    // generator: one codegen'd projection over spark.range — center bit
    // from xxhash64(cluster·64 + dim) (same value for every member of a
    // cluster), jitter from xxhash64(vec·64 + dim, salt) % 201 ∈
    // (-200, 200]. xxhash64 is ANSI-safe (no overflow) and fixed-seed
    // deterministic. Min center 1000 keeps every dim positive as
    // lloydTwoSteps expects.
    val gen = spark.range(0, n).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0L), lit(63L)), d =>
          when(xxhash64(col("vec_id") % 8 * 64 + d) < 0, lit(5000L))
            .otherwise(lit(1000L))
          + xxhash64(col("vec_id") * 64 + d, lit(7L)) % 201).as("xs"))
    val vecs = gen.persist()
    val nVec = vecs.count()

    val (res, tLloyd) = timed {
      val out = graft.queries.SimilarityQueries.lloydTwoSteps(vecs, k = 8)
      // planted check: BOTH rounds must equal vec_id mod 8 (init seeds
      // 0..7 are one per true cluster), counted distributedly
      out.agg(
        count(lit(1)).as("n"),
        sum(when(col("c1") =!= col("vec_id") % 8, 1L).otherwise(0L)).as("m1"),
        sum(when(col("c2") =!= col("vec_id") % 8, 1L).otherwise(0L)).as("m2"),
        sum(col("d2")).as("ssd")).head()
    }
    // PQ phase: the SHARED pqTrainEncodeFrame production path (behind
    // sim_pq_topk / sim_ann_ivfpq) over the same planted corpus. The
    // planting is recoverable SUBSPACE-WISE too: within any 16-dim slice
    // two clusters differ in ~8 dims ⇒ inter-center distance² ≈
    // 8·(4000)² = 1.28e8 vs worst-case jitter² 16·200² = 6.4e5 (200×),
    // and init ids 0..7 are one per true cluster — so every subspace
    // codebook must recover the planting and EVERY vector's 4 codes must
    // all equal vec_id mod 8. Encoding is the claim being timed: one
    // map-only literal-codebook projection per corpus pass, the exact
    // shape a 100 TB index build runs.
    val (resPq, tPq) = timed {
      val (encoded, _, _) =
        graft.queries.SimilarityQueries.pqTrainEncodeFrame(vecs)
      encoded.agg(
        count(lit(1)).as("n"),
        sum(when(col("c0") =!= col("vec_id") % 8 ||
          col("c1") =!= col("vec_id") % 8 ||
          col("c2") =!= col("vec_id") % 8 ||
          col("c3") =!= col("vec_id") % 8, 1L).otherwise(0L)).as("mis"))
        .head()
    }
    vecs.unpersist(blocking = false)
    val (total, mis1, mis2, ssd) =
      (res.getLong(0), res.getLong(1), res.getLong(2), res.getLong(3))
    val (pqTotal, pqMis) = (resPq.getLong(0), resPq.getLong(1))
    val ok = total == nVec && mis1 == 0L && mis2 == 0L &&
      pqTotal == nVec && pqMis == 0L
    Seq("vectors" -> n, "dims" -> 64, "k" -> 8,
      "lloyd2_sec" -> tLloyd,
      "kvec_per_sec" -> nVec / tLloyd / 1000.0,
      "mismatch_round1" -> mis1, "mismatch_round2" -> mis2,
      "sum_sq_dist" -> ssd,
      "pq_sec" -> tPq,
      "pq_kvec_per_sec" -> nVec / tPq / 1000.0,
      "pq_code_mismatch" -> pqMis, "checks" -> ok)
  }
}
