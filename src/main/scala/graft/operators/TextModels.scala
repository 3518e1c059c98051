package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 F (continued) — f25/f26: the two model-based corpus-selection
  * passes every web-scale training pipeline runs between the rule
  * filters (f2/f6/f14) and the mixers (f7/f23): a trained quality
  * classifier and DSIR importance resampling. Both reuse f18's
  * integer micro-nat quantization (per-token log terms become exact
  * integers BEFORE any sum, so per-doc scores are associative,
  * partition-order-independent, and bit-identical in the DuckDB
  * oracle) and f7's md5-ticket determinism for anything random.
  */
object TextModels {

  private def toks(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  // f25 — trained quality classifier (the fastText-style gate of
  // GPT-3/LLaMA data curation, as Naive Bayes log-odds — the
  // closed-form member of the linear-classifier family, trainable in
  // ONE aggregation): train on doc_id % 5 != 0 with label
  // lang = 'en', score the held-out doc_id % 5 = 0 split. Token
  // weight w(t) = ln((c⁺+1)/(N⁺+V)) − ln((c⁻+1)/(N⁻+V)) in integer
  // micro-nats; a held-out doc's score = class-prior log-odds + Σ
  // w(token), OOV tokens take the c=0 smoothed weight — every term an
  // integer, one CASE at the end for the predicted label.
  // Cost shape: one token explode feeds a single per-token
  // conditional agg (map-side combined; the model is |train vocab|
  // rows). Scoring joins tokens to the model ON TOKEN — a shuffle
  // join BY DESIGN (f21's rule: a web-scale vocabulary is
  // corpus-sized, broadcasting it would be wrong); the 1-row totals
  // ride broadcasts. Per-doc agg is the only other shuffle.
  // At 100 TB: prior/totals are 1-row, model is vocab-bounded,
  // nothing driver-side; swap the trained model table for a
  // pretrained one and the scoring pass is unchanged.
  def qQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val train = d.filter(col("doc_id") % 5 =!= 0)
      .withColumn("pos", (col("lang") === "en").cast("long"))
    val score = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), (col("lang") === "en").as("actual"))
    nbClassify(train.select("doc_id", "text", "pos"), score)
  }

  /** f25's core over any (doc_id, text, pos) train / (doc_id, text,
    * actual) score frames — the spec drives it with a planted
    * separable corpus. */
  private[graft] def nbClassify(train: DataFrame, score: DataFrame): DataFrame = {
    val tt = train.select(col("pos"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = tt.groupBy("tok")
      .agg(sum(col("pos")).as("cp"), sum(lit(1) - col("pos")).as("cn"))
    val tot = counts.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    val priors = train.agg(sum(col("pos")).as("dp"), sum(lit(1) - col("pos")).as("dn"))
    val model = counts.crossJoin(broadcast(tot))
      .select(col("tok"), expr(
        """CAST(round((ln((cp + 1) / CAST(np + v AS DOUBLE))
           - ln((cn + 1) / CAST(nn + v AS DOUBLE))) * 1e6) AS BIGINT)""").as("w_micro"))
    toks(score).join(model, Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("oov", col("w_micro").isNull)
      .withColumn("w", coalesce(col("w_micro"), expr(
        """CAST(round((ln(1 / CAST(np + v AS DOUBLE))
           - ln(1 / CAST(nn + v AS DOUBLE))) * 1e6) AS BIGINT)""")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("w")).as("sum_w"))
      .crossJoin(broadcast(priors))
      .join(score.select("doc_id", "actual"), "doc_id")
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        (col("sum_w") + expr("CAST(round(ln(dp / CAST(dn AS DOUBLE)) * 1e6) AS BIGINT)"))
          .as("score_micro"),
        (col("sum_w") + expr("CAST(round(ln(dp / CAST(dn AS DOUBLE)) * 1e6) AS BIGINT)") > 0)
          .as("predicted"),
        col("actual"))
      .orderBy("doc_id")
  }

  val qQualityClassifierSql: String =
    """WITH train AS (
         SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         FROM documents WHERE doc_id % 5 <> 0),
       tt AS (
         SELECT doc_id, t AS tok, pos FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t, pos FROM train) x
         WHERE length(t) > 0),
       counts AS (
         SELECT tok, SUM(pos) AS cp, SUM(1 - pos) AS cn FROM tt GROUP BY tok),
       tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM counts),
       priors AS (SELECT SUM(pos) AS dp, SUM(1 - pos) AS dn FROM train),
       model AS (
         SELECT tok, CAST(round((ln((cp + 1) / CAST(np + v AS DOUBLE))
             - ln((cn + 1) / CAST(nn + v AS DOUBLE))) * 1e6) AS BIGINT) AS w_micro
         FROM counts, tot),
       score AS (SELECT doc_id, text, lang = 'en' AS actual
         FROM documents WHERE doc_id % 5 = 0),
       st AS (
         SELECT doc_id, t AS tok FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM score) x
         WHERE length(t) > 0),
       sc AS (
         SELECT s.doc_id, COUNT(*) AS n_tok,
           CAST(SUM(CASE WHEN m.w_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(COALESCE(m.w_micro,
             CAST(round((ln(1 / CAST(tt2.np + tt2.v AS DOUBLE))
               - ln(1 / CAST(tt2.nn + tt2.v AS DOUBLE))) * 1e6) AS BIGINT))) AS BIGINT) AS sum_w
         FROM st s LEFT JOIN model m ON s.tok = m.tok, tot tt2
         GROUP BY s.doc_id)
       SELECT sc.doc_id, n_tok, n_oov,
         sum_w + CAST(round(ln(dp / CAST(dn AS DOUBLE)) * 1e6) AS BIGINT) AS score_micro,
         (sum_w + CAST(round(ln(dp / CAST(dn AS DOUBLE)) * 1e6) AS BIGINT)) > 0 AS predicted,
         actual
       FROM sc JOIN score USING (doc_id), priors
       ORDER BY doc_id"""

  // f26 — DSIR: Data Selection via Importance Resampling (Xie et al.
  // 2023) — select pool documents that LOOK LIKE a small target
  // corpus, by importance weight log p_target(x) − log p_raw(x) under
  // hashed-unigram LMs, then Gumbel-top-k resampling. Target = the
  // 'en' docs (standing in for the curated set), pool = everything
  // else. Features hash to 256 buckets via 2 md5 hex digits
  // (engine-neutral — DSIR's hashing trick is exactly what makes the
  // LM table BOUNDED: 256 rows regardless of vocabulary, so it
  // broadcasts at any scale, unlike f25's vocab-sized model). λ(b) =
  // ln((c_t+1)/(N_t+256)) − ln((c_p+1)/(N_p+256)) in micro-nats;
  // doc weight = Σ λ(bucket(tok)); the resample is the Gumbel-top-k
  // trick — priority = weight + Gumbel(u), u from f7's md5 ticket
  // over 65537 so u ∈ (0,1) strictly (the +1/65536 ticket hits u = 1
  // where −ln(−ln u) = +∞) — deterministic, reproducible, and
  // statistically a weighted sample ∝ p_t/p_p.
  // Cost shape: two bounded 256-row aggs (map-side combined) + one
  // map-only scoring pass against the BROADCAST λ table + one
  // doc-keyed agg; the top-k is a TakeOrderedAndProject. Nothing
  // scales with vocabulary.
  def qDsir(spark: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables(spark, dir, "documents")
      .withColumn("is_t", (col("lang") === "en").cast("long")), 50)

  /** f26's core over any (doc_id, lang, text, is_t) frame — rows with
    * is_t = 1 define the target LM, is_t = 0 rows are the pool being
    * selected from. The spec drives it with a planted
    * distribution-shifted corpus. */
  private[graft] def dsirSelect(d: DataFrame, k: Int): DataFrame = {
    def bucketOf(c: String) =
      s"""(locate(substr(md5($c), 1, 1), '0123456789abcdef') - 1) * 16
          + (locate(substr(md5($c), 2, 1), '0123456789abcdef') - 1)"""
    val tks = d.select(col("is_t"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("b", expr(bucketOf("tok")).cast("int"))
    val counts = tks.groupBy("b")
      .agg(sum(col("is_t")).as("ct"), sum(lit(1) - col("is_t")).as("cp"))
    val tot = counts.agg(sum(col("ct")).as("nt"), sum(col("cp")).as("npool"))
    val lam = counts.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        """CAST(round((ln((ct + 1) / CAST(nt + 256 AS DOUBLE))
           - ln((cp + 1) / CAST(npool + 256 AS DOUBLE))) * 1e6) AS BIGINT)""").as("lam_micro"))
    def digit(i: Int) =
      s"(locate(substr(md5(CAST(doc_id AS STRING)), $i, 1), '0123456789abcdef') - 1)"
    val ticket =
      s"CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT)"
    val pool = d.filter(col("is_t") === 0)
    pool.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("b", expr(bucketOf("tok")).cast("int"))
      .join(broadcast(lam), "b")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum(col("lam_micro")).as("w_micro"))
      .withColumn("gumbel_micro", expr(
        s"CAST(round(-ln(-ln(($ticket + 1) / 65537e0)) * 1e6) AS BIGINT)"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("w_micro"),
        (col("w_micro") + col("gumbel_micro")).as("priority_micro"))
      .orderBy(col("priority_micro").desc, col("doc_id"))
      .limit(k)
  }

  val qDsirSql: String = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val ticket =
      s"CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT)"
    val bucket = """(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)"""
    s"""WITH tks AS (
         SELECT doc_id, t AS tok FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) x
         WHERE length(t) > 0),
       tb AS (
         SELECT tks.doc_id, CAST($bucket AS INT) AS b,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_t
         FROM tks JOIN documents d ON tks.doc_id = d.doc_id),
       counts AS (SELECT b, SUM(is_t) AS ct, SUM(1 - is_t) AS cp FROM tb GROUP BY b),
       tot AS (SELECT SUM(ct) AS nt, SUM(cp) AS npool FROM counts),
       lam AS (
         SELECT b, CAST(round((ln((ct + 1) / CAST(nt + 256 AS DOUBLE))
             - ln((cp + 1) / CAST(npool + 256 AS DOUBLE))) * 1e6) AS BIGINT) AS lam_micro
         FROM counts, tot),
       pool AS (SELECT doc_id, lang FROM documents WHERE lang <> 'en'),
       scored AS (
         SELECT tb.doc_id, COUNT(*) AS n_tok, CAST(SUM(lam_micro) AS BIGINT) AS w_micro
         FROM tb JOIN pool USING (doc_id) JOIN lam USING (b)
         GROUP BY tb.doc_id)
       SELECT doc_id, lang, n_tok, w_micro,
         w_micro + CAST(round(-ln(-ln(($ticket + 1) / 65537e0)) * 1e6) AS BIGINT) AS priority_micro
       FROM scored JOIN pool USING (doc_id)
       ORDER BY priority_micro DESC, doc_id LIMIT 50"""
  }

  // f28 — the curation pipeline END-TO-END as ONE plan: f6's
  // filter (dedup keeper ∧ quality bar) → f19's span dedup over the
  // SURVIVORS → f13/f16's chunk + pack of the CLEANED text into
  // 128-token training sequences, with per-doc provenance (score,
  // spans kept/deduped, sequences, tokens) in the output. Every stage
  // reuses the individually-oracle-gated component verbatim, and the
  // COMPOSITION is itself oracle-gated — the point: a user runs the
  // whole selection→dedup→packing flow as one declarative query and
  // Catalyst pipelines it (the filter's keeper agg, the span keeper
  // agg, and the packing prefix-sum are the only shuffles; no stage
  // materializes to storage between steps).
  def qPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val survivors = TextOps.qCorpusFilter(spark, dir)
      .join(Tables(spark, dir, "documents").select("doc_id", "text"), "doc_id")
    val cleaned = TextOps.spanDedup(survivors.select(col("doc_id"), col("text")))
    val chunks = cleaned
      .select(col("doc_id"), split(col("text_clean"), " ").as("toks"))
      .select(col("doc_id"),
        explode(expr("sequence(0, (size(toks) - 1) div 24)")).as("chunk_id"),
        col("toks"))
      .select(col("doc_id"), col("chunk_id"),
        expr("size(slice(toks, chunk_id * 24 + 1, 32))").as("n_tok_chunk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("chunk_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val packed = chunks
      .withColumn("cum", sum(col("n_tok_chunk")).over(w))
      .withColumn("seq_id", expr("int((cum - n_tok_chunk) div 128)"))
      .groupBy("doc_id")
      .agg((max(col("seq_id")) + 1).cast("int").as("n_seqs"),
        sum(col("n_tok_chunk")).as("tok_total"))
    survivors.select("doc_id", "lang", "score")
      .join(cleaned.select("doc_id", "n_kept", "n_dup_kept"), "doc_id")
      .join(packed, "doc_id")
      .orderBy("doc_id")
  }

  val qPipelineE2eSql: String = {
    // f6's scoring block, verbatim
    import graft.functions.TextFns.{normDuck, hitsDuck}
    s"""WITH scored AS (
        SELECT doc_id, lang, md5($normDuck) AS content_key,
          CAST(${hitsDuck("en")} AS DOUBLE) / len(string_split(text, ' ')) * 0.5
          + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
          + LEAST(CAST(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS DOUBLE) / len(string_split(text, ' ')) / 10.0, 1.0) * 0.2 AS score
        FROM documents),
      kp AS (SELECT content_key, MIN(doc_id) AS keeper FROM scored GROUP BY content_key),
      surv AS (
        SELECT s.doc_id, s.lang, round(s.score, 6) AS score, d.text
        FROM scored s JOIN kp ON s.doc_id = kp.keeper
        JOIN documents d ON d.doc_id = s.doc_id
        WHERE round(s.score, 6) >= 0.35),
      t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM surv),
      sx AS (SELECT doc_id, toks,
          unnest(generate_series(0, CAST((len(toks) - 1) // 10 AS INT))) AS span_id
        FROM t),
      sp AS (SELECT doc_id, CAST(span_id AS INT) AS span_id,
          array_to_string(toks[(span_id * 10 + 1):(span_id * 10 + 10)], ' ') AS span
        FROM sx),
      k AS (SELECT doc_id, span_id, span,
          COUNT(*) OVER (PARTITION BY span) AS n_occ,
          ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, span_id) AS rn
        FROM sp),
      cleaned AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_kept,
          string_agg(span, ' ' ORDER BY span_id) AS text_clean
        FROM k WHERE rn = 1 GROUP BY doc_id),
      t2 AS (SELECT doc_id, string_split(text_clean, ' ') AS toks2 FROM cleaned),
      c2 AS (SELECT doc_id, toks2,
          unnest(generate_series(0, CAST((len(toks2) - 1) // 24 AS INT))) AS chunk_id
        FROM t2),
      ch AS (SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          CAST(len(toks2[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS INT) AS n_tok_chunk
        FROM c2),
      pre AS (SELECT doc_id, chunk_id, n_tok_chunk,
          SUM(n_tok_chunk) OVER (PARTITION BY doc_id ORDER BY chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM ch),
      packed AS (
        SELECT doc_id, CAST(MAX((cum - n_tok_chunk) // 128) + 1 AS INT) AS n_seqs,
          CAST(SUM(n_tok_chunk) AS BIGINT) AS tok_total
        FROM pre GROUP BY doc_id)
      SELECT surv.doc_id, lang, score, n_kept, n_dup_kept, n_seqs, tok_total
      FROM surv JOIN cleaned ON surv.doc_id = cleaned.doc_id
      JOIN packed ON surv.doc_id = packed.doc_id
      ORDER BY surv.doc_id"""
  }

  // f35 — classifier calibration & discrimination readout (the eval
  // every quality-filter deployment needs BEFORE its threshold is
  // trusted): f25's scored eval split → 10 score-deciles (observed
  // positive rate vs mean score per decile — the reliability table,
  // in logit space so no sigmoid/transcendental enters the gate) +
  // exact AUC via the midrank Mann–Whitney U, duplicated onto every
  // row from a 1-row broadcast (c66's z pattern). All integer: ranks
  // are row_number over the total (score, doc_id) order, tied scores
  // contribute min_rank+max_rank (= 2·midrank, always integral), and
  // AUC_micro = (Σ_pos 2·midrank − npos(npos+1))·10⁶ div (2·npos·nneg)
  // with the products widened to decimal(38,0) so no eval-set size
  // overflows. Plan: the classifier's one model join + doc agg, then
  // the global rank rides [[graft.operators.TwoPhase]]'s bucketed
  // split (2²⁰-micro logit slices — trunc-div stays monotone through
  // negative logits), so the eval split ranks in parallel partitions
  // at ANY eval size; the midrank min/max windows stay PARTITIONED
  // (by tied score) and n broadcasts as a 1-row agg. Calibration
  // reads: pos_rate should rise monotonically with decile iff the
  // scores rank well.
  def qCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = qQualityClassifier(spark, dir)
      .select(col("doc_id"), col("score_micro"),
        col("actual").cast("long").as("pos"))
      .localCheckpoint(true) // eval-split-bounded model join; TwoPhase caller note
    val wScore = Window.partitionBy("score_micro")
    val ranked = graft.operators.TwoPhase.globalRowNumber(scored,
        expr("score_micro div 1048576"),
        Seq(col("score_micro"), col("doc_id")), "rk", total = Some("n"))
      .withColumn("mr2", min(col("rk")).over(wScore) + max(col("rk")).over(wScore))
    val auc = ranked.agg(
        sum(when(col("pos") === 1, col("mr2"))).as("sr2"),
        sum(col("pos")).as("npos"),
        sum(lit(1L) - col("pos")).as("nneg"))
      .select(expr(
        """CAST((CAST(sr2 AS DECIMAL(38,0)) - CAST(npos AS DECIMAL(38,0)) * (npos + 1))
           * 1000000 div (2 * CAST(npos AS DECIMAL(38,0)) * nneg) AS BIGINT)""")
        .as("auc_micro"))
    ranked
      .withColumn("decile", expr("((rk - 1) * 10) div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
        sum(col("score_micro")).as("sum_score"))
      .crossJoin(broadcast(auc))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("pos_rate_micro"),
        expr("sum_score div n_docs").as("mean_score_micro"),
        col("auc_micro"))
      .orderBy("decile")
  }

  val qCalibrationSql: String =
    s"""WITH scored AS (
        SELECT doc_id, score_micro,
          CASE WHEN actual THEN 1 ELSE 0 END AS pos
        FROM ($qQualityClassifierSql) qc),
      ranked AS (
        SELECT doc_id, score_micro, pos,
          row_number() OVER (ORDER BY score_micro, doc_id) AS rk
        FROM scored),
      mr AS (
        SELECT *, MIN(rk) OVER (PARTITION BY score_micro)
            + MAX(rk) OVER (PARTITION BY score_micro) AS mr2,
          COUNT(*) OVER () AS n
        FROM ranked),
      auc AS (
        SELECT CAST((CAST(SUM(CASE WHEN pos = 1 THEN mr2 END) AS HUGEINT)
            - CAST(SUM(pos) AS HUGEINT) * (SUM(pos) + 1)) * 1000000
            // (2 * CAST(SUM(pos) AS HUGEINT) * SUM(1 - pos)) AS BIGINT)
          AS auc_micro
        FROM mr)
      SELECT ((rk - 1) * 10) // n AS decile,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(pos) AS BIGINT) AS n_pos,
        CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_micro,
        CAST(SUM(score_micro) // COUNT(*) AS BIGINT) AS mean_score_micro,
        auc_micro
      FROM mr CROSS JOIN auc
      GROUP BY decile, auc_micro ORDER BY decile"""

  val registry: Seq[Query] = Seq(
    Query("q_calibration", qCalibration, Oracle(qCalibrationSql)),
    Query("q_quality_classifier", qQualityClassifier, Oracle(qQualityClassifierSql)),
    Query("q_dsir", qDsir, Oracle(qDsirSql)),
    Query("q_pipeline_e2e", qPipelineE2e, Oracle(qPipelineE2eSql)))
}
