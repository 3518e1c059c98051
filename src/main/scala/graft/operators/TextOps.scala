package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}
import graft.functions.TextFns._

/** §2 F — text analysis over `documents`: language-ID heuristic,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (higher-order array functions, no UDFs) so the work is
  * map-only and embarrassingly parallel at 100 TB.
  */
object TextOps {

  /** f1 — n-gram/stopword language-ID heuristic: hit counts per
    * language set, fixed-precedence argmax, compared to the labeled
    * `lang` column. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val langs = Seq("en", "de", "es", "fr")
    var out = d.select(col("doc_id"), col("lang"), col("text"))
    langs.foreach(l => out = out.withColumn(s"s_$l", expr(hitsSpark(l)).cast("int")))
    val guess = expr(
      """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END""")
    out.withColumn("guess", guess)
      .withColumn("correct", col("guess") === col("lang"))
      .drop("text")
      .orderBy("doc_id")
  }

  val qLangIdSql: String = {
    val hits = Seq("en", "de", "es", "fr")
      .map(l => s"CAST(${hitsDuck(l)} AS INT) AS s_$l").mkString(", ")
    s"""WITH h AS (SELECT doc_id, lang, $hits FROM documents)
      SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
        CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS guess,
        (CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END) = lang AS correct
      FROM h ORDER BY doc_id"""
  }

  /** f2 — quality scoring: token stats, punctuation and stopword
    * ratios folded into one score. */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .withColumn("n_tok", expr(s"size($toksSpark)"))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^a-z0-9]", "")))
      .withColumn("punct_chars", length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .withColumn("avg_tok_len", round(col("alpha_chars").cast("double") / col("n_tok"), 6))
      .withColumn("punct_ratio", round(col("punct_chars").cast("double") / length(col("text")), 6))
      .withColumn("stop_ratio", round(expr(hitsSpark("en")).cast("double") / col("n_tok"), 6))
      .withColumn("score", round(
        expr(hitsSpark("en")).cast("double") / col("n_tok") * 0.5
          + (lit(1.0) - col("punct_chars").cast("double") / length(col("text"))) * 0.3
          + least(col("alpha_chars").cast("double") / col("n_tok") / 10.0, lit(1.0)) * 0.2, 6))
      .drop("text")
      .orderBy("doc_id")
  }

  val qQualityScoreSql: String =
    s"""WITH q AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
          CAST(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS INT) AS alpha_chars,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_chars,
          CAST(length(text) AS INT) AS n_chars_txt,
          CAST(${hitsDuck("en")} AS INT) AS stop_hits
        FROM documents)
      SELECT doc_id, n_tok, alpha_chars, punct_chars,
        round(CAST(alpha_chars AS DOUBLE) / n_tok, 6) AS avg_tok_len,
        round(CAST(punct_chars AS DOUBLE) / n_chars_txt, 6) AS punct_ratio,
        round(CAST(stop_hits AS DOUBLE) / n_tok, 6) AS stop_ratio,
        round(CAST(stop_hits AS DOUBLE) / n_tok * 0.5
          + (1.0 - CAST(punct_chars AS DOUBLE) / n_chars_txt) * 0.3
          + LEAST(CAST(alpha_chars AS DOUBLE) / n_tok / 10.0, 1.0) * 0.2, 6) AS score
      FROM q ORDER BY doc_id"""

  /** f3 — token counting: whitespace tokens + BPE-ish regex pieces. */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"),
        expr(s"size($toksSpark)").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("bpe_tokens"),
        length(col("text")).as("n_chars_txt"))
      .orderBy("doc_id")
  }

  val qTokenCountSql: String =
    """SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens,
        CAST(length(text) AS INT) AS n_chars_txt
      FROM documents ORDER BY doc_id"""

  /** f4 — document fingerprinting: md5 of normalized text + minimum
    * shingle hash (rolling-fingerprint analog). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .withColumn("fp", md5(expr(normSpark)))
      .withColumn("sh", expr(shSpark))
      .withColumn("shingle_fp", coalesce(expr("array_min(transform(sh, x -> md5(x)))"), lit("")))
      .select("doc_id", "fp", "shingle_fp")
      .orderBy("doc_id")
  }

  val qFingerprintSql: String =
    s"""WITH s AS (SELECT doc_id, md5($normDuck) AS fp, $shDuck AS sh FROM documents)
      SELECT doc_id, fp,
        COALESCE(list_min(list_transform(sh, x -> md5(x))), '') AS shingle_fp
      FROM s ORDER BY doc_id"""

  /** f5 — vocabulary construction: corpus-wide token frequencies,
    * top-100 by count (the first step of any tokenizer training run).
    * explode + codegen'd partial counts; one shuffle on the token. */
  def qVocab(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)
  }

  val qVocabSql: String =
    """SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY token ORDER BY freq DESC, token LIMIT 100"""

  /** f17 — heavy hitters without a full-cardinality shuffle: tokens
    * making up ≥ 0.5% of the corpus token stream. f5's exact
    * `groupBy(token)` shuffles the entire distinct vocabulary — fine
    * at a 31-word synthetic vocab, a wall at a real corpus's hundreds
    * of millions of distinct tokens when only the frequent tail is
    * wanted. Here pass 1 is ONE bounded Misra–Gries sketch
    * (`graft_mg_topk`, native TypedImperativeAggregate: ≤ 512
    * counters per partition partial, mergeable with the guarantee
    * intact) whose keys provably include every token above N/513 —
    * comfortably under the N/200 threshold — and pass 2 computes
    * EXACT counts for those ≤ 512 candidates only. The sketch row
    * (≤ 512 keys + the stream length — a few KB) is collected on the
    * driver ONCE and re-enters the exact pass as an IN-set filter and
    * a literal threshold, so the corpus is scanned exactly twice; the
    * earlier lazy form re-planned the sketch aggregation under both
    * the candidate and threshold consumers — three scans for a
    * documented two-pass cost shape. (Driver-side is the right place:
    * at 100 TB the sketch is still ≤ 512 counters, and production MG
    * pipelines ship exactly this candidate set back as a literal.)
    * False positives fall to the final threshold filter, so the
    * result is exact and partitioning-independent: the oracle is the
    * plain GROUP BY + HAVING. Threshold arithmetic is integer
    * (ceil(N/200) = (N+199) div 200) so both engines agree to the
    * row. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val toks = d.select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val sketch = toks.agg(
        expr("graft_mg_topk(token, 512)").as("mg"), count(lit(1)).as("total"))
      .head()
    val cand: Seq[String] = sketch.getMap[String, Long](0).keys.toSeq
    val thr: Long = (sketch.getLong(1) + 199L) / 200L
    // map-side IN-set prune before the only shuffle: the exact pass
    // aggregates candidate tokens alone — no broadcast exchange, no
    // second sketch scan
    toks.filter(col("token").isInCollection(cand))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(thr))
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  val qHeavyHittersSql: String =
    """WITH t AS (
        SELECT token FROM (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
        WHERE length(token) > 0),
      cnt AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token)
      SELECT token, cnt FROM cnt
      WHERE cnt >= ((SELECT SUM(cnt) FROM cnt) + 199) // 200
      ORDER BY cnt DESC, token"""

  /** f6 — end-to-end corpus filter: the composed training-data
    * selection every LLM pipeline runs — keep a document iff it is the
    * exact-dedup keeper AND its quality score clears the bar AND its
    * language guess agrees with its label. One pass over documents plus
    * the dedup groupBy; all component operators reused verbatim. */
  def qCorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val scored = d.select(col("doc_id"), col("lang"),
        md5(expr(normSpark)).as("content_key"),
        (expr(hitsSpark("en")).cast("double") / expr(s"size($toksSpark)") * 0.5
          + (lit(1.0) - (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double") / length(col("text"))) * 0.3
          + least(length(regexp_replace(col("text"), "[^a-z0-9]", "")).cast("double") / expr(s"size($toksSpark)") / 10.0, lit(1.0)) * 0.2).as("score"))
      // materialized once: the scoring projection (several regex passes
      // over text) feeds both the keeper agg and the join probe side
      .localCheckpoint(false)
    val keepers = scored.groupBy("content_key").agg(min("doc_id").as("keeper"))
    scored.join(keepers, scored("doc_id") === keepers("keeper"))
      .filter(round(col("score"), 6) >= 0.35)
      .select(col("doc_id"), col("lang"), round(col("score"), 6).as("score"))
      .orderBy("doc_id")
  }

  val qCorpusFilterSql: String =
    s"""WITH scored AS (
        SELECT doc_id, lang, md5($normDuck) AS content_key,
          CAST(${hitsDuck("en")} AS DOUBLE) / len(string_split(text, ' ')) * 0.5
          + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
          + LEAST(CAST(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS DOUBLE) / len(string_split(text, ' ')) / 10.0, 1.0) * 0.2 AS score
        FROM documents),
      keepers AS (SELECT content_key, MIN(doc_id) AS keeper FROM scored GROUP BY content_key)
      SELECT s.doc_id, s.lang, round(s.score, 6) AS score
      FROM scored s JOIN keepers k ON s.doc_id = k.keeper
      WHERE round(s.score, 6) >= 0.35
      ORDER BY s.doc_id"""

  /** f7 — stratified training-mix sampling: a training corpus is
    * assembled to target proportions per stratum (here: language).
    * Selection must be DETERMINISTIC and shuffle-free so reruns and
    * retries pick identical docs at any scale: a 16-bit ticket is
    * read off 4 md5 hex digits of doc_id (engine-neutral — no shared
    * integer hash exists) and a doc is kept ⟺
    * ticket·1000 < rate·65536 — an exact integer compare, so the
    * effective keep rate deviates from the stated per-mille rate by
    * less than 2⁻¹⁶ per stratum (a `ticket % 1000` fold would over-
    * select low tickets by ~1.6%). Pure map + filter: no shuffle
    * until the caller aggregates. */
  val mixRates: Map[String, Int] = // per-mille keep rates
    Map("en" -> 800, "de" -> 500, "es" -> 300, "fr" -> 100)

  def qSampleMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val rate = mixRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    // 4 hex digits of md5(doc_id) → uniform 0..65535
    def digit(i: Int) = expr(s"locate(substr(md5(CAST(doc_id AS STRING)), $i, 1), '0123456789abcdef') - 1")
    val v = ((digit(1) * 16 + digit(2)) * 16 + digit(3)) * 16 + digit(4)
    d.select(col("doc_id"), col("lang"), v.cast("int").as("ticket"))
      .withColumn("rate", rate)
      .filter(col("ticket") * 1000 < col("rate") * 65536)
      .select("doc_id", "lang", "ticket")
      .orderBy("doc_id")
  }

  val qSampleMixSql: String = {
    val rate = "CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500 WHEN 'es' THEN 300 WHEN 'fr' THEN 100 ELSE 0 END"
    def digit(i: Int) = s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH t AS (
        SELECT doc_id, lang,
          CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT) AS ticket
        FROM documents)
      SELECT doc_id, lang, ticket FROM t
      WHERE ticket * 1000 < ($rate) * 65536 ORDER BY doc_id"""
  }

  /** f39 — TEMPERATURE-balanced mixture sampling (the multilingual
    * rebalancing recipe XLM-R/mT5 train with: sample languages
    * ∝ n_s^α, α = 0.7, so head languages shrink and tail languages
    * grow relative to raw frequency — f7's fixed per-mille table is
    * the hand-tuned version of this; f39 DERIVES the mix from the
    * measured pool). All in LOG space so no exp/softmax ever runs
    * (f26's Gumbel-top-k trick): a doc of language s needs weight
    * ∝ n_s^(α−1) for the lang mass to come out ∝ n_s^α, so its
    * log-weight is (α−1)·ln n_s — computed as −((x·3) div 10) with
    * x = round(ln(n_s)·10⁶) (c83/f31's micro-nat ln of an exact
    * integer, engine-identical), plus the Gumbel key from f7's md5
    * ticket over 65537 (f26's open-interval guard). Global top-k =
    * one TakeOrderedAndProject. Output: the per-language audit the
    * mix review reads — pool/selected doc counts and micro shares
    * before vs after (after is provably flatter on a skewed pool —
    * spec-gated). Plan: one token-count agg per lang (bounded),
    * broadcast back, map-only priorities, top-k, bounded rollup. */
  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val perDoc = d.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val perLang = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_pool"), sum(col("n_tok")).as("tok_s"))
      .withColumn("x", expr("CAST(round(ln(CAST(tok_s AS DOUBLE)) * 1e6) AS BIGINT)"))
      .withColumn("lw_micro", expr("-((x * 3) div 10)"))
    def digit(i: Int) =
      s"(locate(substr(md5(CAST(doc_id AS STRING)), $i, 1), '0123456789abcdef') - 1)"
    val ticket =
      s"CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT)"
    val sel = perDoc
      .join(broadcast(perLang.select("lang", "lw_micro")), "lang")
      .withColumn("priority_micro", expr(
        s"lw_micro + CAST(round(-ln(-ln(($ticket + 1) / 65537e0)) * 1e6) AS BIGINT)"))
      .orderBy(col("priority_micro").desc, col("doc_id"))
      .limit(200)
    val tot = perLang.agg(sum(col("n_pool")).as("pool_total"))
    sel.groupBy("lang").agg(count(lit(1)).as("n_sel"))
      .join(perLang.select("lang", "n_pool"), "lang")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n_pool"), col("n_sel"),
        expr("n_pool * 1000000 div pool_total").as("share_before_micro"),
        expr("n_sel * 1000000 div 200").as("share_after_micro"))
      .orderBy("lang")
  }

  val qTemperatureMixSql: String = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val ticket =
      s"CAST(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)} AS INT)"
    s"""WITH pd AS (
        SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      pl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pool,
          CAST(SUM(n_tok) AS BIGINT) AS tok_s
        FROM pd GROUP BY lang),
      lw AS (
        SELECT lang, n_pool,
          -((CAST(round(ln(CAST(tok_s AS DOUBLE)) * 1e6) AS BIGINT) * 3) // 10)
            AS lw_micro
        FROM pl),
      pri AS (
        SELECT pd.doc_id, pd.lang,
          lw_micro + CAST(round(-ln(-ln(($ticket + 1) / 65537e0)) * 1e6) AS BIGINT)
            AS priority_micro
        FROM pd JOIN lw ON pd.lang = lw.lang),
      sel AS (
        SELECT doc_id, lang FROM pri
        ORDER BY priority_micro DESC, doc_id LIMIT 200),
      tot AS (SELECT SUM(n_pool) AS pool_total FROM pl)
      SELECT s.lang, lw.n_pool, CAST(COUNT(*) AS BIGINT) AS n_sel,
        CAST(lw.n_pool * 1000000 // MAX(pool_total) AS BIGINT) AS share_before_micro,
        CAST(COUNT(*) * 1000000 // 200 AS BIGINT) AS share_after_micro
      FROM sel s JOIN lw ON s.lang = lw.lang CROSS JOIN tot
      GROUP BY s.lang, lw.n_pool ORDER BY s.lang"""
  }

  /** f40 — EPOCH planning under a repetition cap (the data-constrained
    * scaling readout — Muennighoff et al. 2023 put the useful-repeat
    * ceiling near 4 epochs; every mix review asks "can the tail
    * languages even FILL their target, and at how many passes?"):
    * budget B = 2× the corpus (a deliberate data-constrained setting),
    * split uniformly across languages (the equal-per-language target
    * f39's temperature mix approaches as α → 0); each language
    * contributes min(cap·tok_s, target) tokens, reported with its
    * pass count in exact milli-epochs (alloc·1000 div tok_s) and the
    * UNFILLED budget the cap leaves on the table — the number that
    * triggers either a cap raise or more tail data collection.
    * Everything integer (floor division), one bounded per-lang agg +
    * scalar math on a languages-sized table. */
  def qEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val perLang = d.select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_s"))
    val tot = perLang.agg(sum(col("tok_s")).as("tok_total"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(tot))
      .withColumn("target_tok", expr("(2 * tok_total) div n_langs"))
      .withColumn("alloc_tok", least(expr("4 * tok_s"), col("target_tok")))
      .select(col("lang"), col("n_docs"), col("tok_s"), col("target_tok"),
        col("alloc_tok"),
        expr("alloc_tok * 1000 div tok_s").as("epochs_milli"),
        (col("target_tok") - col("alloc_tok")).as("unfilled_tok"),
        (col("target_tok") > col("alloc_tok")).as("capped"))
      .orderBy("lang")
  }

  val qEpochPlanSql: String =
    """WITH pl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_s
        FROM documents GROUP BY lang),
      tot AS (
        SELECT CAST(SUM(tok_s) AS BIGINT) AS tok_total,
          CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM pl),
      pt AS (
        SELECT pl.*, (2 * tok_total) // n_langs AS target_tok
        FROM pl CROSS JOIN tot),
      al AS (
        SELECT *, LEAST(4 * tok_s, target_tok) AS alloc_tok FROM pt)
      SELECT lang, n_docs, tok_s, target_tok, alloc_tok,
        alloc_tok * 1000 // tok_s AS epochs_milli,
        target_tok - alloc_tok AS unfilled_tok,
        target_tok > alloc_tok AS capped
      FROM al ORDER BY lang"""

  /** f8 — PII-style redaction pass: numbers and @-handles replaced by
    * placeholder tokens before training; per-doc redaction counts plus
    * an md5 fingerprint of the redacted text (the text itself stays in
    * place — the fingerprint keeps the dumped result narrow). Pure
    * map — regexp_replace/extract_all are codegen'd. */
  def qRedactPii(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .withColumn("n_nums", size(expr("regexp_extract_all(text, '[0-9]+', 0)")))
      .withColumn("n_handles", size(expr("regexp_extract_all(text, '@[a-z]+', 0)")))
      .withColumn("redacted_md5",
        md5(regexp_replace(regexp_replace(col("text"), "[0-9]+", "<NUM>"),
          "@[a-z]+", "<HANDLE>")))
      .select("doc_id", "n_nums", "n_handles", "redacted_md5")
      .orderBy("doc_id")
  }

  val qRedactPiiSql: String =
    """SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums,
        CAST(len(regexp_extract_all(text, '@[a-z]+')) AS INT) AS n_handles,
        md5(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), '@[a-z]+', '<HANDLE>', 'g')) AS redacted_md5
      FROM documents ORDER BY doc_id"""

  /** f12 — per-domain document caps: web-crawl pipelines cap how many
    * documents any single domain contributes (one boilerplate-heavy
    * site must not dominate the mix), keeping the best-quality docs up
    * to the cap. Domain is derived deterministically from doc_id (the
    * corpus carries no URLs); keeper rank = row_number per domain by
    * (quality desc, doc_id). One window over hash-partitioned domains
    * — the same WindowGroupLimit-able top-k-per-group shape as c4. */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 8
    val scores = qQualityScore(spark, dir).select(col("doc_id"), col("score"))
    val domain = concat(lit("site"), ((col("doc_id") * 7) % 40).cast("string"), lit(".example"))
    val w = Window.partitionBy("domain").orderBy(col("score").desc, col("doc_id"))
    scores.withColumn("domain", domain)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("domain"), col("rk"), col("score"))
      .orderBy("domain", "rk")
  }

  val qDomainCapSql: String =
    s"""WITH scores AS (SELECT doc_id, score FROM ($qQualityScoreSql) q),
      d AS (
        SELECT doc_id, 'site' || CAST((doc_id * 7) % 40 AS VARCHAR) || '.example' AS domain, score
        FROM scores),
      r AS (
        SELECT doc_id, domain, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY domain ORDER BY score DESC, doc_id) AS INT) AS rk
        FROM d)
      SELECT doc_id, domain, rk, score FROM r WHERE rk <= 8
      ORDER BY domain, rk"""

  /** f11 — BM25 retrieval scoring: top-20 documents for a fixed term
    * query (the relevance ranking behind retrieval-based data curation
    * and RAG indexing). One token explode feeds BOTH the per-doc
    * conditional-sum tf/dl aggregation and the tiny corpus-stats agg
    * (N, avgdl, per-term df) that broadcasts back — so the corpus is
    * read once, shuffles once on doc_id with map-side partials, and
    * the scoring itself is a map over the aggregated rows. k1=1.2,
    * b=0.75; idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the
    * non-negative Robertson variant); scores rounded to 6dp with a
    * doc_id tiebreak so the top-k is deterministic cross-engine. */
  val bm25Terms: Seq[String] = Seq("vector", "hash", "stream")

  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val perDocAggs = count(lit(1)).as("dl") +:
      bm25Terms.zipWithIndex.map { case (term, i) =>
        sum(when(col("t") === term, 1L).otherwise(0L)).as(s"tf$i")
      }
    val perDoc = toks.groupBy("doc_id").agg(perDocAggs.head, perDocAggs.tail: _*)
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val score = bm25Terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs").cast("double") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      val tf = col(s"tf$i").cast("double")
      idf * tf * (lit(1.2) + 1.0) /
        (tf + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    val outCols = col("doc_id") +: bm25Terms.indices.map(i => col(s"tf$i")) :+
      col("dl") :+ round(score, 6).as("bm25")
    perDoc.crossJoin(broadcast(stats))
      .select(outCols: _*)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  val qBm25Sql: String = {
    val tfs = bm25Terms.zipWithIndex.map { case (term, i) =>
      s"CAST(SUM(CASE WHEN t = '$term' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
    }.mkString(", ")
    val dfs = bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = bm25Terms.indices.map { i =>
      s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))
          * CAST(tf$i AS DOUBLE) * (1.2 + 1.0)
          / (CAST(tf$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
    }.mkString(" + ")
    s"""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      per_doc AS (SELECT doc_id, COUNT(*) AS dl, $tfs FROM toks GROUP BY doc_id),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, $dfs FROM per_doc)
      SELECT doc_id, ${bm25Terms.indices.map(i => s"tf$i").mkString(", ")}, dl,
        round($score, 6) AS bm25
      FROM per_doc, stats
      ORDER BY bm25 DESC, doc_id LIMIT 20"""
  }

  /** f10 — benchmark decontamination: flag training docs sharing ≥ 3
    * distinct 3-gram shingles with any eval-benchmark document — the
    * n-gram-overlap contamination check every serious LLM training
    * pipeline runs before training (benchmark = doc_id % 50 == 0 here).
    * Scale shape: the benchmark index is TINY next to the corpus, so
    * it broadcasts — the corpus side stays map-only (shingle explode +
    * broadcast hash probe) and the only shuffle carries the matched
    * rows, not the corpus. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val sh = d.select(col("doc_id"), explode(expr(shSpark)).as("shingle"))
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
    corpus.join(broadcast(bench), "shingle")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .orderBy("doc_id", "bench_id")
  }

  val qDecontaminateSql: String =
    s"""WITH s AS (SELECT doc_id, unnest($shDuck) AS shingle FROM documents),
      b AS (SELECT doc_id AS bench_id, shingle FROM s WHERE doc_id % 50 = 0),
      c AS (SELECT doc_id, shingle FROM s WHERE doc_id % 50 <> 0)
      SELECT doc_id, bench_id, COUNT(*) AS shared
      FROM c JOIN b USING (shingle)
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ORDER BY doc_id, bench_id"""

  /** f9 — corpus length distribution: per-language histogram of
    * document lengths (100-char buckets) — the first diagnostic run
    * on any new training corpus (truncation/padding budgeting, outlier
    * detection). One map + one agg shuffle. */
  def qLengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("lang"), expr("CAST(n_chars div 100 AS INT)").as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "bucket")
  }

  val qLengthHistogramSql: String =
    """SELECT lang, CAST(n_chars // 100 AS INT) AS bucket, COUNT(*) AS n_docs
      FROM documents GROUP BY 1, 2 ORDER BY lang, bucket"""

  /** f13 — training-chunk extraction: sliding token windows (32
    * tokens, stride 24 ⇒ 8-token overlap) — how a pretraining
    * pipeline turns documents into fixed-budget sequences. Map-only:
    * chunk starts are computed per row (sequence + slice), posexplode
    * emits (chunk_id, tokens); no shuffle until the output sort. At
    * 100 TB this is the shape you want — chunking never needs to see
    * two documents at once. */
  /** unordered chunk stream shared by f13 (adds the output sort) and
    * f16's sequence packing */
  private def chunkPlan(spark: SparkSession, dir: String): DataFrame = {
    val (window, stride) = (32, 24)
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (n_tok - 1) div $stride), i -> slice(toks, i * $stride + 1, $window))"))
          .as(Seq("chunk_id", "ctoks")))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_tok"),
        size(col("ctoks")).as("n_tok_chunk"),
        array_join(col("ctoks"), " ").as("chunk"))
  }

  def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkPlan(spark, dir).orderBy("doc_id", "chunk_id")

  val qChunkDocsSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok FROM documents),
      c AS (SELECT doc_id, toks, n_tok,
          unnest(generate_series(0, CAST((n_tok - 1) // 24 AS INT))) AS chunk_id FROM t)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        CAST(chunk_id * 24 + 1 AS INT) AS start_tok,
        CAST(len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS INT) AS n_tok_chunk,
        array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)], ' ') AS chunk
      FROM c ORDER BY doc_id, chunk_id"""

  /** f16 — sequence packing: assign f13's chunks to fixed-token-budget
    * training sequences (concat-and-split packing: a running token
    * prefix sum per doc, cut every 128 tokens — the deterministic
    * packing pretraining loaders use when exact bin packing isn't
    * worth a serial pass). Per-doc window = keyed prefix sum, one
    * shuffle on doc_id; sequences then summarize per (doc, seq). */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 128
    val w = Window.partitionBy("doc_id").orderBy("chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunkPlan(spark, dir)
      .withColumn("cum", sum(col("n_tok_chunk")).over(w))
      // integer div on BOTH engines: DuckDB's CAST(double AS INT)
      // rounds where Spark's truncates — never let a double carry this
      .withColumn("seq_id", expr(s"int((cum - n_tok_chunk) div $budget)"))
      .groupBy("doc_id", "seq_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tok_chunk")).as("seq_tokens"),
        min("chunk_id").as("first_chunk"),
        max("chunk_id").as("last_chunk"))
      .orderBy("doc_id", "seq_id")
  }

  val qPackSequencesSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok FROM documents),
      c AS (SELECT doc_id, toks, n_tok,
          unnest(generate_series(0, CAST((n_tok - 1) // 24 AS INT))) AS chunk_id FROM t),
      ch AS (SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          CAST(len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS INT) AS n_tok_chunk
        FROM c),
      pre AS (SELECT doc_id, chunk_id, n_tok_chunk,
          SUM(n_tok_chunk) OVER (PARTITION BY doc_id ORDER BY chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM ch)
      SELECT doc_id, CAST((cum - n_tok_chunk) // 128 AS INT) AS seq_id,
        COUNT(*) AS n_chunks, CAST(SUM(n_tok_chunk) AS BIGINT) AS seq_tokens,
        MIN(chunk_id) AS first_chunk, MAX(chunk_id) AS last_chunk
      FROM pre GROUP BY doc_id, CAST((cum - n_tok_chunk) // 128 AS INT)
      ORDER BY doc_id, seq_id"""

  /** f14 — repetition signals (the Gopher-rules family): distinct-token
    * ratio, most-frequent-token fraction, duplicate-2-gram fraction,
    * and the resulting repetitive flag. MAP-ONLY via the native
    * `graft_repstats` expression: one hash pass per document computes
    * [n_tok, n_distinct, top_cnt, n_g2, d_g2] inside whole-stage
    * codegen — zero shuffles, zero joins, linear in document length.
    * (History: round-6 used explode + two-phase aggregate because
    * Spark's higher-order array lambdas are interpreted and the
    * distinct×count lambda formulation is quadratic in document
    * length; the native expression keeps the per-row O(tokens) hash
    * pass AND drops the two token-stream shuffles + rejoin that
    * formulation needed. A 500-page outlier still can't stall a task
    * beyond its own O(length) work.) */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    Tables.fanout(d.select(col("doc_id"), split(col("text"), " ").as("toks")))
      .select(col("doc_id"), expr("graft_repstats(toks)").as("s"))
      .select(col("doc_id"),
        element_at(col("s"), 1).cast("int").as("n_tok"),
        element_at(col("s"), 2).as("n_distinct"),
        element_at(col("s"), 3).as("top_cnt"),
        element_at(col("s"), 4).as("n_g2"),
        element_at(col("s"), 5).as("d_g2"))
      .select(col("doc_id"), col("n_tok"),
        round(col("n_distinct").cast("double") / col("n_tok"), 6).as("distinct_ratio"),
        round(col("top_cnt").cast("double") / col("n_tok"), 6).as("top_tok_frac"),
        round(lit(1.0) - col("d_g2").cast("double") /
          greatest(col("n_g2"), lit(1L)), 6).as("dup_2gram_frac"))
      .withColumn("repetitive",
        col("top_tok_frac") > 0.2 || col("dup_2gram_frac") > 0.1)
      .orderBy("doc_id")
  }

  val qRepetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, toks, len(toks) AS n_tok,
          list_transform(generate_series(1, GREATEST(len(toks) - 1, 0)),
            i -> toks[i] || ' ' || toks[i + 1]) AS g2 FROM t),
      r AS (SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
        round(CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok, 6) AS distinct_ratio,
        round(CAST(list_max(list_transform(list_distinct(toks),
            t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / n_tok, 6) AS top_tok_frac,
        round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / GREATEST(len(g2), 1), 6) AS dup_2gram_frac
      FROM g)
      SELECT doc_id, n_tok, distinct_ratio, top_tok_frac, dup_2gram_frac,
        (top_tok_frac > 0.2 OR dup_2gram_frac > 0.1) AS repetitive
      FROM r ORDER BY doc_id"""

  /** f15 — FUZZY benchmark decontamination: where f10 requires shared
    * raw shingles, this screens for near-duplicate benchmark overlap
    * the way contamination actually appears (light paraphrase,
    * whitespace drift): MinHash 8-bands-of-1 blocking (recall-maximal
    * — missing contamination costs more than verifying a candidate)
    * between corpus docs and the benchmark set, then exact shingle
    * Jaccard on candidates with the contaminated flag at ≥ 0.1.
    * Scale shape: the benchmark band index is tiny ⇒ broadcast; the
    * corpus side is map-only signature computation; only candidate
    * pairs reach the verify join. */
  def qDecontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleSets(spark, dir)
    val sig = Dedup.minhashSig(sh)
    val bands = sig.select(col("doc_id"), explode(array((0 until 8).map { k =>
        struct(lit(k).as("b"), col(s"h$k").as("bkey"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bkey").as("bkey"))
    val bench = bands.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("b"), col("bkey"))
    val cand = bands.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), Seq("b", "bkey"))
      .select(col("doc_id"), col("bench_id")).distinct()
    cand
      .join(sh.select(col("doc_id"), col("sh").as("sh_c")), "doc_id")
      .join(sh.select(col("doc_id").as("bench_id"), col("sh").as("sh_b")), "bench_id")
      .withColumn("inter", expr("size(filter(sh_c, x -> array_contains(sh_b, x)))"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_c")) + size(col("sh_b")) - col("inter")), 6))
      .select(col("doc_id"), col("bench_id"), col("jaccard"),
        (col("jaccard") >= 0.1).as("contaminated"))
      .orderBy("doc_id", "bench_id")
  }

  val qDecontaminateFuzzySql: String =
    s"""WITH s AS (SELECT doc_id, $shDuck AS sh FROM documents),
      sh AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      hs AS (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hl FROM sh),
      sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 7),
        k -> list_min(list_transform(hl, h -> substr(h, CAST(4 * k + 1 AS INT), 4)))) AS mh FROM hs),
      bx AS (SELECT doc_id, mh, unnest(generate_series(0, 7)) AS b FROM sig),
      bands AS (SELECT doc_id, b, mh[b + 1] AS bkey FROM bx),
      cand AS (SELECT DISTINCT c.doc_id AS doc_id, bn.doc_id AS bench_id
        FROM bands c JOIN bands bn ON c.b = bn.b AND c.bkey = bn.bkey
        WHERE c.doc_id % 50 <> 0 AND bn.doc_id % 50 = 0),
      ver AS (SELECT cand.doc_id AS doc_id, bench_id,
        round(CAST(len(list_filter(sc.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
          / (len(sc.sh) + len(sb.sh) - len(list_filter(sc.sh, x -> list_contains(sb.sh, x)))), 6) AS jaccard
        FROM cand JOIN sh sc ON sc.doc_id = cand.doc_id JOIN sh sb ON sb.doc_id = bench_id)
      SELECT doc_id, bench_id, jaccard, jaccard >= 0.1 AS contaminated
      FROM ver ORDER BY doc_id, bench_id"""

  /** f18 — unigram-LM perplexity scoring (the CCNet-style "perplexity
    * filter", ref pipeline analog: quality gating before tiling):
    * score every document by its cross-entropy under a unigram
    * language model — the standard signal separating fluent prose
    * from boilerplate/gibberish when curating training data. The
    * model is built from the corpus itself (top-200 tokens by
    * frequency, MLE probabilities; rarer tokens are OOV at
    * probability 1/(N+1)); in production the broadcast table is a
    * fixed pretrained LM — same shape, no build pass. Cost shape: one
    * token explode feeds (a) the model build (full-vocab groupBy —
    * swap in f17's Misra–Gries sketch when the vocabulary is
    * web-scale) and (b) the scoring pass, which is MAP-ONLY against
    * the ≤200-row broadcast model + 1-row total, so the only scoring
    * shuffle is the per-doc aggregation. Per-token log-probs are
    * quantized to integer micro-nats (round(ln·1e6) as BIGINT) BEFORE
    * summation, so the per-doc sum is exact integer arithmetic —
    * associative, partition-order-independent, and bit-identical in
    * the oracle (graft_qdot's quantization trick applied to logs). */
  def qPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val vocabK = 200
    val d = Tables(spark, dir, "documents")
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n"))
    val model = counts.orderBy(col("cnt").desc, col("tok")).limit(vocabK)
      .crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("cnt").cast("double") / col("n").cast("double")) * lit(1e6))
          .cast("long").as("lpq"))
    toks.join(broadcast(model), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .withColumn("oov", col("lpq").isNull)
      .withColumn("lp", coalesce(col("lpq"),
        round(-log(col("n").cast("double") + 1.0) * lit(1e6)).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        round(-sum(col("lp")).cast("double") / (count(lit(1)) * lit(1e6)), 6).as("ce"))
      .orderBy("doc_id")
  }

  val qPerplexitySql: String =
    """WITH toks AS (
        SELECT doc_id, t AS tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) x
        WHERE length(t) > 0),
      counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      total AS (SELECT SUM(cnt) AS n FROM counts),
      model AS (
        SELECT tok,
          CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS lpq
        FROM counts, total ORDER BY cnt DESC, tok LIMIT 200),
      scored AS (
        SELECT t.doc_id,
          COALESCE(m.lpq,
            CAST(round(-ln(CAST(tt.n AS DOUBLE) + 1.0) * 1e6) AS BIGINT)) AS lp,
          m.lpq IS NULL AS oov
        FROM toks t LEFT JOIN model m ON t.tok = m.tok, total tt)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        round(-CAST(SUM(lp) AS DOUBLE) / (COUNT(*) * 1e6), 6) AS ce
      FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** f19 — C4-style duplicate-span removal (the "discard repeated
    * spans" pass every web-scale training corpus runs): documents are
    * cut into non-overlapping 10-token spans, every span occurring
    * more than once in the corpus keeps only its globally-first
    * occurrence (lowest (doc_id, span_id)), and documents are
    * reassembled from the surviving spans in order.
    *
    * Scale shape: the keeper per span is `min(struct(doc_id,
    * span_id))` — a map-side-combinable aggregate, so a span repeated
    * millions of times (boilerplate, licenses, nav bars) partially
    * aggregates on every input task instead of concentrating its rows
    * on one task the way `row_number() OVER (PARTITION BY span)`
    * would. The keeper row already names the one kept occurrence
    * (doc_id, span_id) with its span text and count, so no join back
    * to the span stream is needed: one shuffle on the keeper's doc_id
    * reassembles, and a hot span is one keeper row, never a skewed
    * partition.
    * Requires non-empty documents (f13's same precondition: Spark's
    * `div` truncates toward zero, DuckDB's `//` floors, so the
    * zero-token span index would disagree at size 0). */
  /** (doc_id, span_id, span) stream — f19's explode stage, over any
    * (doc_id, text) frame (PropertySpec drives it with random
    * corpora). */
  private[graft] def spanStreamOf(docs: DataFrame): DataFrame = {
    val span = 10
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(toks) - 1) div $span), i -> array_join(slice(toks, i * $span + 1, $span), ' '))"))
          .as(Seq("span_id", "span")))
  }

  /** f19's keeper aggregate, exposed so the spec can measure its
    * shuffle volume: partial min/count per input partition means a
    * hot span writes ~one shuffle record per partition, not one per
    * occurrence. */
  private[graft] def spanKeepers(spans: DataFrame): DataFrame =
    spans.groupBy("span")
      .agg(min(struct(col("doc_id"), col("span_id"))).as("keep"),
        count(lit(1)).as("n_occ"))

  /** f19's full pipeline over any (doc_id, text) frame. */
  private[graft] def spanDedup(docs: DataFrame): DataFrame = {
    // a null span (null text) keeps nothing, as in DuckDB's unnest
    spanKeepers(spanStreamOf(docs))
      .filter(col("span").isNotNull)
      .select(col("keep.doc_id").as("doc_id"), col("keep.span_id").as("span_id"),
        col("span"), col("n_occ"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sum(when(col("n_occ") > 1, 1).otherwise(0)).cast("long").as("n_dup_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(span_id, span))), s -> s.span), ' ')")
          .as("text_clean"))
      .orderBy("doc_id")
  }

  def qSpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedup(Tables(spark, dir, "documents"))

  val qSpanDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (SELECT doc_id, toks,
          unnest(generate_series(0, CAST((len(toks) - 1) // 10 AS INT))) AS span_id
        FROM t),
      sp AS (SELECT doc_id, CAST(span_id AS INT) AS span_id,
          array_to_string(toks[(span_id * 10 + 1):(span_id * 10 + 10)], ' ') AS span
        FROM s),
      k AS (SELECT doc_id, span_id, span,
          COUNT(*) OVER (PARTITION BY span) AS n_occ,
          ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, span_id) AS rn
        FROM sp)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_kept,
        string_agg(span, ' ' ORDER BY span_id) AS text_clean
      FROM k WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id"""

  /** f20 — TF-IDF document keywords: per-(doc, token) term frequency,
    * per-token document frequency, smoothed idf, and the top-5 terms
    * per document by weight. The idf is quantized to integer
    * micro-nats (round(ln((N+1)/(df+1))·1e6) as BIGINT — f18's trick:
    * ONE division inside ONE ln per distinct token, then pure integer
    * multiplication), so per-row weights and the per-doc ranking are
    * exact, partition-order-independent, and oracle-identical. The
    * rank-≤5 window plans as WindowGroupLimit — per-partition partial
    * top-5, no full per-doc sort.
    * At 100 TB: tf shuffles once on (doc, token), df once on token
    * (both map-side combined); the df attach joins on token — the
    * vocabulary-sized side, shuffle-safe at any vocab cardinality
    * (broadcast would die at a real corpus's 10⁸ distinct tokens). */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val weighted = tf.join(df, "token").crossJoin(broadcast(nDocs))
      .withColumn("tfidf_micro", col("tf") *
        round(log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)) * 1e6)
          .cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_micro").desc, col("token"))
    weighted.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("doc_id", "token", "tf", "df", "tfidf_micro")
      .orderBy(col("doc_id"), col("tfidf_micro").desc, col("token"))
  }

  val qTfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      st AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT doc_id, tf.token AS token, tf, df,
          tf * CAST(round(ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) * 1e6) AS BIGINT) AS tfidf_micro
        FROM tf JOIN df USING (token), st),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_micro DESC, token) AS rn FROM sc)
      SELECT doc_id, token, tf, df, tfidf_micro FROM rk WHERE rn <= 5
      ORDER BY doc_id, tfidf_micro DESC, token"""

  /** f21 — Stupid Backoff bigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the canonical
    * MapReduce-scale LM: relative frequencies + a fixed 0.4 backoff
    * multiplier, no discounting, BECAUSE normalized smoothing doesn't
    * distribute). Train/score split is held out by md5-free determinism
    * (doc_id % 50): the model (bigram + unigram counts) is built from
    * the training partition only, probe documents are scored under it,
    * so unseen-bigram backoff genuinely fires. Per bigram:
    * S(w2|w1) = c(w1 w2)/c(w1) if seen, else 0.4·c(w2)/N, else the
    * 0.4/(N+1) OOV floor; log-scores quantize to integer micro-nats
    * BEFORE the per-doc sum (f18's trick — exact, order-independent).
    *
    * Cost shape at 100 TB: bigram counting is ONE (w1,w2)-keyed
    * shuffle (map-side combined — Brants' exact reduce); scoring joins
    * the probe bigrams against the count tables by key (the model is
    * corpus-sized, so this join SHUFFLES by design — a broadcast would
    * be wrong at web scale; swap in f17's sketch for a capped vocab);
    * the per-doc roll-up is the only other exchange. */
  def qLmBackoff(spark: SparkSession, dir: String): DataFrame =
    lmBackoffScores(Tables(spark, dir, "documents").select("doc_id", "text"))

  /** f21 core over any (doc_id, text) frame — factored so the spec can
    * drive a corpus whose probe bigrams are genuinely unseen and check
    * the backoff arithmetic by hand (the driver corpus's vocabulary is
    * dense enough that every probe bigram is seen in training). */
  private[graft] def lmBackoffScores(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("toks"))
    val bigramsOf = (df: DataFrame) => df.select(col("doc_id"), explode(expr(
      """if(size(toks) < 2, array(),
           transform(sequence(2, size(toks)), i ->
             struct(toks[i-2] AS w1, toks[i-1] AS w2)))""")).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val train = d.filter(col("doc_id") % 50 =!= 0)
    val probe = d.filter(col("doc_id") % 50 === 0)
    val uni = train.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).as("n"))
    val bi = bigramsOf(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bigramsOf(probe)
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("tok").as("w1"), col("c1").as("c1w1")), Seq("w1"), "left")
      .join(uni.select(col("tok").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("backoff", col("c2").isNull || col("c1w1").isNull)
      .withColumn("s", when(!col("backoff"),
          col("c2").cast("double") / col("c1w1").cast("double"))
        .when(col("c1w2").isNotNull,
          lit(0.4) * col("c1w2").cast("double") / col("n").cast("double"))
        .otherwise(lit(0.4) / (col("n").cast("double") + 1.0)))
      .withColumn("qlp", round(log(col("s")) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bi"),
        sum(when(col("backoff"), 1L).otherwise(0L)).as("n_backoff"),
        round(-sum(col("qlp")).cast("double") / (count(lit(1)) * lit(1e6)), 6).as("score"))
      .orderBy("doc_id")
  }

  val qLmBackoffSql: String =
    """WITH d AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        FROM documents),
      trainbg AS (
        SELECT doc_id, t[i-1] AS w1, t[i] AS w2 FROM (
          SELECT doc_id, toks AS t FROM d WHERE doc_id % 50 <> 0) x,
          unnest(generate_series(2, len(t))) AS u(i)),
      probebg AS (
        SELECT doc_id, t[i-1] AS w1, t[i] AS w2 FROM (
          SELECT doc_id, toks AS t FROM d WHERE doc_id % 50 = 0) x,
          unnest(generate_series(2, len(t))) AS u(i)),
      uni AS (
        SELECT tok, COUNT(*) AS c1 FROM (
          SELECT unnest(toks) AS tok FROM d WHERE doc_id % 50 <> 0) x GROUP BY tok),
      total AS (SELECT SUM(c1) AS n FROM uni),
      bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM trainbg GROUP BY w1, w2),
      scored AS (
        SELECT p.doc_id,
          (b.c2 IS NULL OR u1.c1 IS NULL) AS backoff,
          CASE WHEN b.c2 IS NOT NULL AND u1.c1 IS NOT NULL
               THEN CAST(b.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
               WHEN u2.c1 IS NOT NULL
               THEN 0.4 * CAST(u2.c1 AS DOUBLE) / CAST(t.n AS DOUBLE)
               ELSE 0.4 / (CAST(t.n AS DOUBLE) + 1.0) END AS s
        FROM probebg p
        LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
        LEFT JOIN uni u1 ON u1.tok = p.w1
        LEFT JOIN uni u2 ON u2.tok = p.w2, total t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bi,
        CAST(SUM(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
        round(-CAST(SUM(CAST(round(ln(s) * 1e6) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e6), 6) AS score
      FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** f27 — per-document n-gram NOVELTY: the fraction of a document's
    * distinct 3-gram shingles not seen in any EARLIER document (by
    * doc_id — ingest order) — the running "how much new content does
    * this doc add" curation diagnostic (novelty ≈ 0 ⇒ recombined
    * boilerplate even when no single pair-dup fires; the corpus-level
    * twin of f14's within-doc repetition). Machinery is d4's index
    * minus the pair stage: one fused native shingle→sid pass
    * (graft_shingle_sids — 60-bit md5-derived ids, 8-byte shuffle
    * keys), first-occurrence per sid = min(doc_id) — map-side
    * combinable, so million-fold boilerplate shingles partial-agg on
    * every task — one sid-keyed join back (AQE skew-eligible), one
    * per-doc agg. Novelty is the single IEEE division, rounded.
    * Docs with < 3 tokens have no shingles and emit no row (both
    * engines). */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
    val inv = src.select(col("doc_id"),
      explode(expr(s"graft_shingle_sids($toksSpark)")).as("sid"))
    val first = inv.groupBy("sid").agg(min("doc_id").as("first_doc"))
    inv.join(first, "sid")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  val qNgramNoveltySql: String =
    s"""WITH s AS (SELECT doc_id, $shDuck AS sh FROM documents),
      inv AS (
        SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sid
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM s) u),
      f AS (SELECT sid, MIN(doc_id) AS first_doc FROM inv GROUP BY sid)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        round(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty
      FROM inv JOIN f USING (sid) GROUP BY doc_id ORDER BY doc_id"""

  /** f29 — temperature-resampled language mixing (the mT5/XLM-R
    * recipe: sample language l with probability ∝ p_l^α, α < 1, so
    * low-resource languages are up-weighted without drowning the head
    * — Conneau et al. 2020 §3.1, Xue et al. 2021 §3.2). α = 1/2 here,
    * deliberately: p^0.5 is ONE IEEE sqrt — correctly rounded on
    * every platform — where a general pow(x, 0.3) is not guaranteed
    * bit-identical across engines (the same class of trap as the
    * Spark-vs-DuckDB round() divergence d11 hit). Cost shape: one
    * map-only token count, one bounded per-lang agg, a 1-row total
    * broadcast, one rounded division per language; the 1M-token
    * budget allocation is floor(budget·rate) — integer output. */
  def qLangMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    // w quantizes to integer micro-units BEFORE the total: a double
    // Σ√n is summation-order-dependent (engines may differ in the
    // last ulp, and floor(budget·w/tw) sits on that edge); integer
    // sums are order-free, and wq/tw is then one deterministic
    // division of two exact integers
    val perLang = d.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("wq",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6)).cast("long"))
    val total = perLang.agg(sum(col("wq")).as("tw"))
    perLang.crossJoin(broadcast(total))
      .withColumn("rate", round(col("wq").cast("double") / col("tw"), 6))
      .withColumn("sample_tokens",
        floor(lit(1000000.0) * col("wq") / col("tw")).cast("long"))
      .select("lang", "n_docs", "n_tokens", "rate", "sample_tokens")
      .orderBy("lang")
  }

  val qLangMixSql: String =
    """WITH d AS (
         SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         FROM documents
       ), pl AS (
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(FLOOR(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1e6) AS BIGINT) AS wq
         FROM d GROUP BY lang
       ), t AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM pl)
       SELECT lang, n_docs, n_tokens, round(CAST(wq AS DOUBLE) / tw, 6) AS rate,
         CAST(FLOOR(1000000.0 * wq / tw) AS BIGINT) AS sample_tokens
       FROM pl, t ORDER BY lang"""

  /** f31 — PMI co-occurrence pairs (the word2vec/GloVe count pass:
    * which token pairs co-occur within a ±4 window far beyond chance —
    * collocations, multi-word entities, the distributional signal
    * embedding trainers consume). Pairs come from FOUR lead() columns
    * over one doc-keyed window exchange (never a position self-join);
    * each unordered pair canonicalizes (least, greatest) so both
    * directions aggregate together. PMI = ln C(a,b) + 2·ln N − ln P −
    * ln C(a) − ln C(b), with EVERY ln quantized to integer micro-nats
    * SEPARATELY (f18's trick, taken further: each ln's argument is an
    * exact small integer, so each term is engine-free and the SUM is
    * pure integer math — computing the ratio first would push the
    * argument past 2⁵³ at corpus scale and let the last ulp drift
    * cross-engine). Counts attach by token key — vocabulary-sized
    * joins shuffle BY DESIGN (f21's rule); output is the bounded
    * top-100 by (pmi, a, b) with a ≥ 5 count floor. */
  def qPmiPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
    val win = Window.partitionBy("doc_id").orderBy("i")
    val pairs = toks
      .withColumn("ls", array((1 to 4).map(k => lead(col("w"), k).over(win)): _*))
      .select(col("w"), explode(expr("filter(ls, x -> x IS NOT NULL)")).as("v"))
      .filter(col("w") =!= col("v"))
      .select(least(col("w"), col("v")).as("a"), greatest(col("w"), col("v")).as("b"))
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    val uni = toks.groupBy("w").agg(count(lit(1)).as("cu"))
    val totals = toks.agg(count(lit(1)).as("n"))
      .crossJoin(pairs.agg(count(lit(1)).as("p")))
    def mnats(c: org.apache.spark.sql.Column) =
      round(log(c.cast("double")) * 1e6).cast("long")
    pc.join(uni.select(col("w").as("a"), col("cu").as("ca")), "a")
      .join(uni.select(col("w").as("b"), col("cu").as("cb")), "b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micro",
        mnats(col("n_pair")) + lit(2L) * mnats(col("n")) - mnats(col("p"))
          - mnats(col("ca")) - mnats(col("cb")))
      .select("a", "b", "n_pair", "pmi_micro")
      .orderBy(col("pmi_micro").desc, col("a"), col("b"))
      .limit(100)
  }

  val qPmiPairsSql: String =
    """WITH t0 AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        FROM documents),
      leads AS (
        SELECT w, lead(w, 1) OVER win AS l1, lead(w, 2) OVER win AS l2,
          lead(w, 3) OVER win AS l3, lead(w, 4) OVER win AS l4
        FROM t0 WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      pairs AS (
        SELECT LEAST(w, v) AS a, GREATEST(w, v) AS b FROM (
          SELECT w, unnest([l1, l2, l3, l4]) AS v FROM leads) x
        WHERE v IS NOT NULL AND w <> v),
      pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM pairs GROUP BY a, b HAVING COUNT(*) >= 5),
      uni AS (SELECT w, COUNT(*) AS cu FROM t0 GROUP BY w),
      tot AS (SELECT (SELECT COUNT(*) FROM t0) AS n, (SELECT COUNT(*) FROM pairs) AS p)
      SELECT a, b, n_pair,
        CAST(round(ln(n_pair) * 1e6) + 2 * round(ln(n) * 1e6) - round(ln(p) * 1e6)
          - round(ln(ua.cu) * 1e6) - round(ln(ub.cu) * 1e6) AS BIGINT) AS pmi_micro
      FROM pc JOIN uni ua ON ua.w = a JOIN uni ub ON ub.w = b, tot
      ORDER BY pmi_micro DESC, a, b LIMIT 100"""

  /** f33 — tokenizer-vocab COVERAGE / OOV-rate report (the number that
    * drives tokenizer choice for an LLM corpus: what share of token
    * OCCURRENCES does a fixed vocab cover, and which sources drift
    * out-of-vocabulary?): vocab = top-50 corpus tokens under the total
    * (freq desc, token) order (f5's convention, deterministic at the
    * boundary), per source the total occurrences, OOV occurrences,
    * and the OOV share in micro-units. Plan: ONE explode scan folds to
    * (source, token) counts; the vocab derives from those counts
    * (bounded re-agg, never a second corpus pass) and re-enters as a
    * broadcast left join; the final agg is |sources| rows. At 100 TB:
    * one pass over text, everything after is vocab-sized. */
  def qOovRate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val counts = d.select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val vocab = counts.groupBy("token").agg(sum(col("n")).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(50)
      .select(col("token"), lit(1).as("in_vocab"))
    counts.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_micro", expr("oov_tokens * 1000000 div n_tokens"))
      .orderBy("source")
  }

  val qOovRateSql: String =
    """WITH counts AS (
        SELECT source, token, COUNT(*) AS n FROM (
          SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) t
        GROUP BY source, token),
      vocab AS (
        SELECT token FROM (
          SELECT token, CAST(SUM(n) AS BIGINT) AS freq FROM counts GROUP BY token
          ORDER BY freq DESC, token LIMIT 50) v)
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN vocab.token IS NULL THEN n ELSE 0 END) AS BIGINT) AS oov_tokens,
        CAST(SUM(CASE WHEN vocab.token IS NULL THEN n ELSE 0 END) * 1000000
          // SUM(n) AS BIGINT) AS oov_micro
      FROM counts LEFT JOIN vocab ON counts.token = vocab.token
      GROUP BY source ORDER BY source"""

  /** f34 — quality-threshold ABLATION sweep (the curation knob curve:
    * every filtering decision is "pick t on this table"): for each
    * threshold decile t/10, documents surviving `score ≥ t/10`, their
    * share, and the token volume they carry — f2's scores crossed
    * with a broadcast 10-row threshold dimension and folded in ONE
    * bounded agg (the scores frame is per-doc, the output is 10
    * rows). Thresholds compare as j/10.0 doubles against f2's
    * round(,6) scores — identical IEEE values in both engines. */
  def qQualitySweep(spark: SparkSession, dir: String): DataFrame = {
    val s = qQualityScore(spark, dir).select(col("doc_id"), col("n_tok"), col("score"))
    val thr = spark.range(10).select(col("id").cast("int").as("decile"))
    // every decile group sees ALL docs after the broadcast cross, so
    // the denominator rides the same agg — one pass, no driver count
    s.crossJoin(broadcast(thr))
      .groupBy("decile")
      .agg(sum(when(col("score") >= col("decile") / 10.0, 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("score") >= col("decile") / 10.0, col("n_tok").cast("long"))
          .otherwise(0L)).as("n_tokens"),
        count(lit(1)).as("total"))
      .withColumn("share_micro", expr("n_docs * 1000000 div total"))
      .select("decile", "n_docs", "n_tokens", "share_micro")
      .orderBy("decile")
  }

  val qQualitySweepSql: String =
    s"""WITH s AS (SELECT doc_id, n_tok, score FROM ($qQualityScoreSql) q),
      thr AS (SELECT unnest(generate_series(0, 9)) AS decile),
      tot AS (SELECT COUNT(*) AS total FROM s)
      SELECT CAST(decile AS INT) AS decile,
        CAST(SUM(CASE WHEN score >= decile / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN score >= decile / 10.0 THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN score >= decile / 10.0 THEN 1 ELSE 0 END) * 1000000
          // MAX(total) AS BIGINT) AS share_micro
      FROM s CROSS JOIN thr CROSS JOIN tot
      GROUP BY decile ORDER BY decile"""

  // f36 — head-mass coverage curve (the Zipf health check WITHOUT
  // transcendentals — a log-log slope fit would drag IEEE ln through
  // the gate, d11's round() trap): what share of all token
  // OCCURRENCES do the top 1 / 10 / 100 / 1000 types cover? A natural
  // corpus follows Zipf (top-10 ≈ 20-30%, top-1000 ≈ 70-90%); a
  // boilerplate-flooded or template-generated corpus shows a grossly
  // fat head, a tokenizer-mangled one a flat head — the f33 vocab
  // decision and the f12 domain-cap decision both read off this
  // curve. Plan: ONE explode scan folds to (token, cnt) — map-side
  // combined, event-volume exits immediately — and because no
  // threshold exceeds k = 1000, the ranking first CUTS to the top
  // 1000 types via orderBy+limit (TakeOrderedAndProject: per-
  // partition partial top-k, only 1000 rows ever travel), so the
  // rank window reads a CONSTANT-bounded input at any vocabulary —
  // the RRF/ndcg discipline, replacing the earlier vocab-bounded
  // single-partition pass (Heaps-sublinear but still corpus-
  // dependent). The 4-threshold readout is one bounded agg off a
  // tiny cross with the threshold dimension (f34's pattern); total
  // mass still folds over the FULL counts. Integer micro shares by
  // floor division; rank ties broken (cnt desc, token) — total and
  // deterministic both engines.
  def qHeadMass(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val counts = d.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ranked = counts.orderBy(col("cnt").desc, col("token")).limit(1000)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val ks = spark.range(1).select(
      explode(array(lit(1), lit(10), lit(100), lit(1000))).as("k"))
    ranked.crossJoin(broadcast(ks))
      .groupBy("k")
      .agg(sum(when(col("rk") <= col("k"), 1L).otherwise(0L)).as("n_types"),
        sum(when(col("rk") <= col("k"), col("cnt")).otherwise(0L)).as("head_mass"))
      .crossJoin(broadcast(total))
      .select(col("k").cast("int").as("k"), col("n_types"), col("head_mass"),
        expr("head_mass * 1000000 div total").as("share_micro"))
      .orderBy("k")
  }

  val qHeadMassSql: String =
    """WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rk
        FROM counts),
      tot AS (SELECT SUM(cnt) AS total FROM counts),
      ks AS (SELECT unnest([1, 10, 100, 1000]) AS k)
      SELECT CAST(k AS INT) AS k,
        CAST(SUM(CASE WHEN rk <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
        CAST(SUM(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS BIGINT) AS head_mass,
        CAST(SUM(CASE WHEN rk <= k THEN cnt ELSE 0 END) * 1000000
          // MAX(total) AS BIGINT) AS share_micro
      FROM ranked CROSS JOIN ks CROSS JOIN tot
      GROUP BY k ORDER BY k"""

  // f37 — type-token ratio (lexical diversity, the third leg of the
  // within-doc quality triad next to f2's ratios and f14's repetition:
  // low TTR = vocabulary-poor template/spam text even when no n-gram
  // literally repeats; MTLD/MATTR are windowed refinements of this
  // number). n_types = |distinct whitespace tokens| computed MAP-ONLY
  // via array_distinct on the token array — no explode, no shuffle,
  // nothing leaves the row; ttr in integer micro-units by floor
  // division. At 100 TB this is the cheapest possible shape: one
  // projection over the text scan, the ORDER BY is the only exchange
  // (and production would write unsorted).
  def qTtr(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("source"),
        expr(s"size($toksSpark)").as("n_tok"),
        expr(s"size(array_distinct($toksSpark))").as("n_types"))
      .withColumn("ttr_micro",
        expr("CAST(n_types AS BIGINT) * 1000000 div n_tok"))
      .orderBy("doc_id")
  }

  val qTtrSql: String =
    s"""SELECT doc_id, source,
        CAST(len($toksDuck) AS INT) AS n_tok,
        CAST(len(list_distinct($toksDuck)) AS INT) AS n_types,
        CAST(len(list_distinct($toksDuck)) AS BIGINT) * 1000000
          // len($toksDuck) AS ttr_micro
      FROM documents ORDER BY doc_id"""

  // f38 — within-doc bigram entropy (the predictability readout: a
  // templated/recombined doc has LOW bigram entropy even at high TTR —
  // few transitions dominate; c76's entropy machinery at the document
  // grain, and the information-theoretic sibling of f14's literal
  // dup-ngram fractions). H_d = ln m − (Σ c·ln c)/m over the doc's
  // bigram counts, every ln quantized to integer micro-nats separately
  // (f31's engine-free argument), evenness normalized by ln(distinct).
  // Plan: bigrams via one map-side zip_with (no position self-join),
  // explode → ONE (doc, bigram)-keyed agg (map-side combinable — a
  // boilerplate bigram repeated 10⁶× in a doc still combines before
  // the exchange) → per-doc fold over the bounded count table. The
  // doc-keyed shuffle carries distinct-bigram partials, never the
  // token stream.
  def qBigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val bg = d.select(col("doc_id"), expr(
        s"""explode(zip_with(
              slice($toksSpark, 1, size($toksSpark) - 1),
              slice($toksSpark, 2, size($toksSpark) - 1),
              (a, b) -> concat(a, ' ', b)))""").as("bg"))
    bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("m"),
        count(lit(1)).as("n_distinct"),
        sum(expr("c * CAST(round(ln(c) * 1e6) AS BIGINT)")).as("clnc"))
      .select(col("doc_id"), col("m"), col("n_distinct"),
        expr("CAST(round(ln(m) * 1e6) AS BIGINT) - clnc div m").as("h_micro"),
        expr("""CASE WHEN n_distinct = 1 THEN CAST(0 AS BIGINT) ELSE
                (CAST(round(ln(m) * 1e6) AS BIGINT) - clnc div m) * 1000000
                  div CAST(round(ln(n_distinct) * 1e6) AS BIGINT) END""")
          .as("evenness_micro"))
      .orderBy("doc_id")
  }

  val qBigramEntropySql: String =
    s"""WITH t AS (
        SELECT doc_id, $toksDuck AS toks FROM documents),
      bg AS (
        SELECT doc_id, unnest(list_transform(
          generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM t),
      cnt AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
      s AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS m,
          CAST(COUNT(*) AS BIGINT) AS n_distinct,
          CAST(SUM(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS clnc
        FROM cnt GROUP BY doc_id)
      SELECT doc_id, m, n_distinct,
        CAST(round(ln(m) * 1e6) AS BIGINT) - clnc // m AS h_micro,
        CASE WHEN n_distinct = 1 THEN CAST(0 AS BIGINT) ELSE
          (CAST(round(ln(m) * 1e6) AS BIGINT) - clnc // m) * 1000000
            // CAST(round(ln(n_distinct) * 1e6) AS BIGINT) END AS evenness_micro
      FROM s ORDER BY doc_id"""

  /** f44 — SPAN-CORRUPTION planning (the denoising-objective mask T5
    * trains on — Raffel et al. 2020: corrupt ~15% of tokens in
    * contiguous spans, the model reconstructs them; a data pipeline
    * PLANS these masks ahead of time so every epoch and every rerun
    * sees the same corruption — reproducibility is the point of
    * planning rather than sampling at train time): per token a
    * deterministic two-hex-digit md5 ticket on (doc_id, position)
    * masks it iff ticket < 38 (38/256 ≈ 14.8%, the 15% T5 default);
    * i.i.d. per-token masks make span lengths geometric — the realized
    * span statistics are what this op reports per doc: token count,
    * masked count, span count (mask-start transitions via lag),
    * corruption rate and mean span length in integer micro-units.
    * Shape at 100 TB: one documents scan, a token explode, ONE
    * doc-keyed window (bounded by document length, never the corpus)
    * and one doc agg. */
  def qSpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    // the mask is a pure function of (doc_id, position) — so the
    // PREDECESSOR's mask is too: recompute it instead of lag()-ing it.
    // That deletes the doc-keyed window (a shuffle + per-doc sort over
    // every token — at 100 TB the sort IS the cost) and leaves a
    // map-only stage feeding one agg; the second md5 per token is
    // noise next to the sort it replaces.
    def maskedAt(pos: String) =
      s"""((locate(substr(md5(CAST(doc_id AS STRING) || '_' || CAST($pos AS STRING)), 1, 1), '0123456789abcdef') - 1) * 16
         + (locate(substr(md5(CAST(doc_id AS STRING) || '_' || CAST($pos AS STRING)), 2, 1), '0123456789abcdef') - 1)) < 38"""
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .withColumn("i", col("p") + 1)
      .withColumn("masked", expr(maskedAt("i")))
      .withColumn("span_start",
        (col("masked") && !(col("i") > 1 && expr(maskedAt("i - 1")))).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("masked").cast("long")).as("n_masked"),
        sum(col("span_start").cast("long")).as("n_spans"))
      .withColumn("corruption_micro", expr("n_masked * 1000000 div n_tokens"))
      .withColumn("mean_span_micro",
        expr("CASE WHEN n_spans > 0 THEN n_masked * 1000000 div n_spans ELSE CAST(0 AS BIGINT) END"))
      .select("doc_id", "n_tokens", "n_masked", "n_spans",
        "corruption_micro", "mean_span_micro")
      .orderBy("doc_id")
  }

  val qSpanCorruptionSql: String = {
    def maskedAt(pos: String) =
      s"""((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST($pos AS VARCHAR)), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST($pos AS VARCHAR)), 2, 1)) - 1)) < 38"""
    s"""WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
            unnest(generate_series(1, len(string_split(text, ' ')))) AS i
          FROM documents),
        sp AS (
          SELECT doc_id, ${maskedAt("i")} AS masked,
            CASE WHEN ${maskedAt("i")} AND NOT (i > 1 AND ${maskedAt("i - 1")})
            THEN 1 ELSE 0 END AS span_start
          FROM toks),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_tokens,
            CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
            CAST(SUM(span_start) AS BIGINT) AS n_spans
          FROM sp GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_masked, n_spans,
        n_masked * 1000000 // n_tokens AS corruption_micro,
        CASE WHEN n_spans > 0 THEN n_masked * 1000000 // n_spans
             ELSE CAST(0 AS BIGINT) END AS mean_span_micro
      FROM agg ORDER BY doc_id"""
  }

  /** f43 — GROUP-AWARE train/val/test split (the leakage-safe splitter
    * every training pipeline runs before anything else): hash the
    * GROUP (source), not the document — all docs of one source land in
    * one split, so near-identical documents from the same origin can
    * never straddle train and eval (the leakage a doc-level hash split
    * invites; scikit-learn's GroupShuffleSplit is the public batch
    * shape). Ticket = f7's deterministic 4-hex-digit md5 draw on the
    * source key; 80/10/10 on ticket mod 100. The op also AUDITS the
    * naive alternative in the same pass: per source, how many distinct
    * splits a doc-level md5 ticket would scatter its docs across —
    * reported per group-split as n_sources_naive_fractured, the
    * leakage count the group split prevents. Shape at 100 TB: one
    * documents scan, map-only ticket math, one (source)-keyed agg
    * (bounded by source cardinality), one 3-group rollup, a 1-row
    * broadcast total for shares. */
  def qGroupSplit(spark: SparkSession, dir: String): DataFrame = {
    def digit(col: String, i: Int) =
      s"(locate(substr(md5($col), $i, 1), '0123456789abcdef') - 1)"
    def ticket(col: String) =
      s"CAST(((${digit(col, 1)} * 16 + ${digit(col, 2)}) * 16 + ${digit(col, 3)}) * 16 + ${digit(col, 4)} AS INT)"
    val splitCase =
      "CASE WHEN t % 100 < 80 THEN 'train' WHEN t % 100 < 90 THEN 'val' ELSE 'test' END"
    val d = Tables(spark, dir, "documents")
      .select("doc_id", "source", "n_chars")
      .withColumn("t", expr(ticket("source")))
      .withColumn("split", expr(splitCase))
      .withColumn("t", expr(ticket("CAST(doc_id AS STRING)")))
      .withColumn("naive_split", expr(splitCase))
    val perSource = d.groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        countDistinct("naive_split").as("n_naive"))
    val total = perSource.agg(sum("n_docs").as("total_docs"))
    perSource.groupBy("split")
      .agg(count(lit(1)).as("n_sources"),
        sum("n_docs").as("n_docs"),
        sum("n_chars").as("n_chars"),
        sum(expr("CAST(n_naive > 1 AS BIGINT)")).as("n_sources_naive_fractured"))
      .crossJoin(broadcast(total))
      .withColumn("share_micro", expr("n_docs * 1000000 div total_docs"))
      .select("split", "n_sources", "n_docs", "n_chars",
        "n_sources_naive_fractured", "share_micro")
      .orderBy("split")
  }

  val qGroupSplitSql: String = {
    def digit(col: String, i: Int) =
      s"(strpos('0123456789abcdef', substr(md5($col), $i, 1)) - 1)"
    def ticket(col: String) =
      s"CAST(((${digit(col, 1)} * 16 + ${digit(col, 2)}) * 16 + ${digit(col, 3)}) * 16 + ${digit(col, 4)} AS INT)"
    val splitCase =
      "CASE WHEN t % 100 < 80 THEN 'train' WHEN t % 100 < 90 THEN 'val' ELSE 'test' END"
    s"""WITH d AS (
          SELECT doc_id, source, n_chars,
            ${ticket("source")} AS t,
            ${ticket("CAST(doc_id AS VARCHAR)")} AS tn
          FROM documents),
        s AS (
          SELECT source, n_chars, doc_id,
            $splitCase AS split,
            ${splitCase.replace("t % 100", "tn % 100")} AS naive_split
          FROM d),
        per AS (
          SELECT source, split, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS n_chars,
            COUNT(DISTINCT naive_split) AS n_naive
          FROM s GROUP BY source, split),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM per)
      SELECT split, COUNT(*) AS n_sources,
        CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        CAST(SUM(CASE WHEN n_naive > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sources_naive_fractured,
        CAST(SUM(n_docs) AS BIGINT) * 1000000 // MAX(total_docs) AS share_micro
      FROM per CROSS JOIN tot
      GROUP BY split ORDER BY split"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_group_split", qGroupSplit, Oracle(qGroupSplitSql)),
    Query("q_span_corruption", qSpanCorruption, Oracle(qSpanCorruptionSql)),
    Query("q_ttr", qTtr, Oracle(qTtrSql)),
    Query("q_bigram_entropy", qBigramEntropy, Oracle(qBigramEntropySql)),
    Query("q_head_mass", qHeadMass, Oracle(qHeadMassSql)),
    Query("q_oov_rate", qOovRate, Oracle(qOovRateSql)),
    Query("q_quality_sweep", qQualitySweep, Oracle(qQualitySweepSql)),
    Query("q_pmi_pairs", qPmiPairs, Oracle(qPmiPairsSql)),
    Query("q_lang_mix", qLangMix, Oracle(qLangMixSql)),
    Query("q_ngram_novelty", qNgramNovelty, Oracle(qNgramNoveltySql)),
    Query("q_lm_backoff", qLmBackoff, Oracle(qLmBackoffSql)),
    Query("q_tfidf", qTfidf, Oracle(qTfidfSql)),
    Query("q_span_dedup", qSpanDedup, Oracle(qSpanDedupSql)),
    Query("q_perplexity", qPerplexity, Oracle(qPerplexitySql)),
    Query("q_heavy_hitters", qHeavyHitters, Oracle(qHeavyHittersSql)),
    Query("q_chunk_docs", qChunkDocs, Oracle(qChunkDocsSql)),
    Query("q_pack_sequences", qPackSequences, Oracle(qPackSequencesSql)),
    Query("q_repetition", qRepetition, Oracle(qRepetitionSql)),
    Query("q_decontaminate_fuzzy", qDecontaminateFuzzy, Oracle(qDecontaminateFuzzySql)),
    Query("q_decontaminate", qDecontaminate, Oracle(qDecontaminateSql)),
    Query("q_domain_cap", qDomainCap, Oracle(qDomainCapSql)),
    Query("q_bm25", qBm25, Oracle(qBm25Sql)),
    Query("q_length_histogram", qLengthHistogram, Oracle(qLengthHistogramSql)),
    Query("q_sample_mix", qSampleMix, Oracle(qSampleMixSql)),
    Query("q_temperature_mix", qTemperatureMix, Oracle(qTemperatureMixSql)),
    Query("q_epoch_plan", qEpochPlan, Oracle(qEpochPlanSql)),
    Query("q_redact_pii", qRedactPii, Oracle(qRedactPiiSql)),
    Query("q_vocab", qVocab, Oracle(qVocabSql)),
    Query("q_corpus_filter", qCorpusFilter, Oracle(qCorpusFilterSql)),
    Query("q_lang_id", qLangId, Oracle(qLangIdSql)),
    Query("q_quality_score", qQualityScore, Oracle(qQualityScoreSql)),
    Query("q_token_count", qTokenCount, Oracle(qTokenCountSql)),
    Query("q_fingerprint", qFingerprint, Oracle(qFingerprintSql)))
}
