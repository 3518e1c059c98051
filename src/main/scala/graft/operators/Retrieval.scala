package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 F/E (continued) — retrieval composition and selection ops:
  * hybrid lexical+dense fusion (f22), weighted sampling without
  * replacement (f23), and graded ranking evaluation (e15). These sit
  * ON TOP of the f11 BM25 / e1-e14 ANN machinery — the production
  * retrieval stack is never one index, it is lexical ∪ dense fused,
  * evaluated, and sampled.
  *
  * Cross-engine exactness rules as everywhere else: ranks are
  * integers, fusion/priority scores are integer arithmetic (floor
  * division), transcendentals appear only inside round(·×1e6)
  * micro-unit quantization (f18's trick) or as Scala-precomputed
  * integer literals injected into BOTH engines' SQL.
  */
object Retrieval {

  // f22 — hybrid retrieval via Reciprocal Rank Fusion (RRF, the
  // standard lexical+dense fusion: score(d) = Σ_runs 1/(60+rank_d)).
  // The lexical run is f11's BM25 top-20; the dense run is cosine
  // top-20 vs the query vector (doc_id ≡ vec_id). Each run's global
  // top-k cuts via orderBy+limit (TakeOrderedAndProject — per-
  // partition partial top-k, only k rows per task travel), and
  // row_number ranks the SURVIVING k rows (a tiny single-partition
  // window over 20 rows, not a global sort). Fusion is a full-outer
  // join of two 20-row sets; 1/(60+rank) is scaled to exact integers
  // (10⁹ DIV (60+rank)) so RRF scores compare identically in any
  // engine. At 100 TB each run is its own pruned index scan (f11 /
  // e12's serving path) and the fusion cost is O(k), independent of
  // corpus size.
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextOps.qBm25(spark, dir).select(col("doc_id"), col("bm25"))
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dense = e.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id")).limit(20)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id"))))
    lex.select("doc_id", "lex_rank")
      .join(dense.select("doc_id", "dense_rank"), Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        expr("coalesce(CAST(1000000000 AS BIGINT) div (60 + lex_rank), CAST(0 AS BIGINT))" +
          " + coalesce(CAST(1000000000 AS BIGINT) div (60 + dense_rank), CAST(0 AS BIGINT))"))
      .select("doc_id", "lex_rank", "dense_rank", "rrf_micro")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
  }

  val qHybridRrfSql: String =
    s"""WITH lex0 AS (${TextOps.qBm25Sql}),
      lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank FROM lex0),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      dense0 AS (SELECT vec_id AS doc_id, ${Ann.cosineDuck("embedding", "qv")} AS cos_sim
        FROM embeddings, q ORDER BY cos_sim DESC, doc_id LIMIT 20),
      dense AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS dense_rank FROM dense0),
      f AS (SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id, lex_rank, dense_rank
        FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
      SELECT doc_id, lex_rank, dense_rank,
        coalesce(CAST(1000000000 AS BIGINT) // (60 + lex_rank), CAST(0 AS BIGINT))
          + coalesce(CAST(1000000000 AS BIGINT) // (60 + dense_rank), CAST(0 AS BIGINT)) AS rrf_micro
      FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10"""

  // f23 — weighted sampling without replacement, per stratum
  // (Efraimidis–Spirakis 2006: draw u ~ U(0,1] per item, keep the k
  // largest u^(1/w) ⟺ the k SMALLEST -ln(u)/w). The randomness is
  // f7's deterministic md5 ticket (4 hex digits → u = (t+1)/65536),
  // -ln(u) is quantized to integer micro-nats (f18's trick), and the
  // E-S priority -ln(u)/w becomes the exact integer floor division
  // (negln_micro·10⁹) DIV w — bit-identical in any engine, and the
  // ordering it induces differs from the real-valued one only within
  // quantization ties (broken by doc_id). Weight = n_chars: longer
  // docs proportionally likelier — the training-mix length-balancing
  // shape. Per-language top-k is a WindowGroupLimit (per-partition
  // partial top-k); ONE shuffle on lang, map-only before it. The
  // sample is REPRODUCIBLE (a re-run admits the same docs — what
  // provenance needs) yet statistically E-S-correct per stratum.
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    def digit(i: Int) =
      s"(locate(substr(md5(CAST(doc_id AS STRING)), $i, 1), '0123456789abcdef') - 1)"
    val ticket =
      s"CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT)"
    val d = Tables(spark, dir, "documents").select("doc_id", "lang", "n_chars")
      .withColumn("ticket", expr(ticket))
      // 65536e0, not 65536.0: a .0 literal parses as DECIMAL in Spark
      // SQL and the decimal division would truncate u to 7 digits
      // BEFORE ln — caught by the oracle (8/125 priorities flipped)
      .withColumn("negln_micro",
        expr("CAST(round(-ln((ticket + 1) / 65536e0) * 1e6) AS BIGINT)"))
      .withColumn("priority_micro",
        expr("(negln_micro * CAST(1000000000 AS BIGINT)) div n_chars"))
    d.withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("priority_micro"), col("doc_id"))))
      .filter(col("rk") <= k)
      .select("lang", "rk", "doc_id", "n_chars", "priority_micro")
      .orderBy("lang", "rk")
  }

  val qWeightedSampleSql: String = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH t AS (SELECT doc_id, lang, n_chars,
          CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT) AS ticket
        FROM documents),
      p AS (SELECT *, (CAST(round(-ln((ticket + 1) / 65536e0) * 1e6) AS BIGINT)
              * CAST(1000000000 AS BIGINT)) // n_chars AS priority_micro FROM t),
      r AS (SELECT lang, doc_id, n_chars, priority_micro,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY priority_micro, doc_id) AS INT) AS rk FROM p)
      SELECT lang, rk, doc_id, n_chars, priority_micro FROM r
      WHERE rk <= 25 ORDER BY lang, rk"""
  }

  // e15 — graded ranking evaluation: nDCG@10 of the e2 LSH index
  // against exact brute-force ground truth (the graded twin of e10's
  // recall@k — recall says "found it", nDCG says "found it EARLY").
  // relevance(d) = 11 − true_rank for the true top-10, else 0; the
  // position discount 1/log2(pos+1) enters as Scala-precomputed
  // integer micro-unit LITERALS identical in both engines' SQL, so
  // DCG is pure integer arithmetic and the single IEEE division
  // happens once, on the final 1-row ndcg. Both runs cut to k via
  // TakeOrderedAndProject; the rank join is 10×10 rows.
  private val ndcgK = 10
  private[graft] val discMicro: IndexedSeq[Long] =
    (1 to ndcgK).map(p => Math.round(1e6 * Math.log(2.0) / Math.log(p + 1.0)))
  private val idcgMicro: Long =
    (1 to ndcgK).map(p => (11L - p) * discMicro(p - 1)).sum
  private def discCase(posCol: String): String =
    s"CASE $posCol " + (1 to ndcgK).map(p =>
      s"WHEN $p THEN CAST(${discMicro(p - 1)} AS BIGINT)").mkString(" ") + " END"

  def qNdcgEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val truth = e.crossJoin(broadcast(q))
      .select(col("vec_id"), expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(ndcgK)
      .withColumn("true_rank",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
      .select(col("vec_id"), (lit(11) - col("true_rank")).cast("long").as("rel"))
    val bucketed = e.withColumn("bucket", expr(Ann.bucketSpark))
    val qb = bucketed.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
    val lsh = bucketed.join(broadcast(qb), col("bucket") === col("qbucket"))
      .select(col("vec_id"), expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(ndcgK)
      .withColumn("pos",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    lsh.join(truth, Seq("vec_id"), "left")
      .withColumn("gain_micro",
        coalesce(col("rel"), lit(0L)) * expr(discCase("pos")))
      .agg(count(lit(1)).as("n_ranked"),
        sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        sum(col("gain_micro")).as("dcg_micro"))
      .withColumn("idcg_micro", lit(idcgMicro))
      .withColumn("ndcg", round(col("dcg_micro").cast("double") / col("idcg_micro").cast("double"), 6))
  }

  val qNdcgEvalSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      truth0 AS (SELECT vec_id, ${Ann.cosineDuck("embedding", "qv")} AS cos_sim
        FROM embeddings, q ORDER BY cos_sim DESC, vec_id LIMIT $ndcgK),
      truth AS (SELECT vec_id, CAST(11 - row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rel FROM truth0),
      b AS (SELECT vec_id, embedding, ${Ann.bucketDuck} AS bucket FROM embeddings),
      qb AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
      lsh0 AS (SELECT vec_id, ${Ann.cosineDuck("embedding", "qv")} AS cos_sim
        FROM b, qb WHERE bucket = qbucket ORDER BY cos_sim DESC, vec_id LIMIT $ndcgK),
      lsh AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INT) AS pos FROM lsh0),
      j AS (SELECT lsh.pos, truth.rel FROM lsh LEFT JOIN truth ON lsh.vec_id = truth.vec_id)
      SELECT COUNT(*) AS n_ranked,
        CAST(SUM(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        CAST(SUM(coalesce(rel, 0) * ${discCase("pos")}) AS BIGINT) AS dcg_micro,
        CAST($idcgMicro AS BIGINT) AS idcg_micro,
        round(CAST(SUM(coalesce(rel, 0) * ${discCase("pos")}) AS DOUBLE) / $idcgMicro.0, 6) AS ndcg
      FROM j"""

  val registry: Seq[Query] = Seq(
    Query("q_hybrid_rrf", qHybridRrf, Oracle(qHybridRrfSql)),
    Query("q_weighted_sample", qWeightedSample, Oracle(qWeightedSampleSql)),
    Query("q_ndcg_eval", qNdcgEval, Oracle(qNdcgEvalSql)))
}
