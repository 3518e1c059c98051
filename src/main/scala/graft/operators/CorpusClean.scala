package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 F/D — the published pretraining corpus-cleaning recipes the
  * text family was still missing, each over `documents`:
  *
  *  - f46 `q_gopher_rules`: the Gopher quality-filter rule suite
  *    (Rae et al. 2021, Appendix A — the public rule set C4's
  *    successors standardized on): word-count bounds, mean word
  *    length 3–10, symbol-to-word ratio, bullet-line and
  *    ellipsis-line caps, alphabetic-word fraction, stopword
  *    requirement. Per doc: every rule verdict + the first failing
  *    rule in published precedence.
  *  - f47 `q_c4_filters`: C4's line-level cleaning (Raffel et al.
  *    2020 §2.2): keep lines ending in terminal punctuation (an
  *    ellipsis is not terminal), ≥5 words, no `javascript`; drop
  *    whole docs with a lorem-ipsum marker or <3 surviving lines.
  *  - d25 `q_dedup_paragraph`: CCNet-style cross-corpus paragraph
  *    dedup (Wenzek et al. 2020): hash every paragraph, keep only
  *    the first occurrence corpus-wide (min (doc_id, idx)), report
  *    per-doc survival.
  *
  * The driver corpus is clean space-joined words, so document
  * STRUCTURE (lines, bullets, ellipses, boilerplate paragraphs) is
  * synthesized deterministically from (doc_id, ordinal) — the same
  * modular template stated identically in both engines (the Synth
  * discipline): line length `L = 8 + doc_id % 5` words; line i is a
  * bullet iff `(doc_id·31 + i) % (1 + doc_id % 9) = 0` (the mod-1
  * class makes all-bullet docs exist, so the 90 % cap genuinely
  * fires); the ending class `e = (doc_id·37 + i) % (3 + doc_id % 9)`
  * renders `…` when e=2 and no terminal punctuation when e=1 (mod-3
  * docs are ellipsis-heavy, so the 30 % cap fires); `javascript` is
  * injected when `(doc_id·13 + i) % 17 = 5`; paragraph idx is
  * boilerplate iff `(doc_id·7 + idx) % 13 = 0` (the cross-doc
  * duplicate surface — ~12 % of paragraphs collide corpus-wide).
  *
  * Scale shapes: f46 counts bullet/ellipsis lines in CLOSED FORM
  * (the count of `i < n` with `(a + i) % m = r` is one div — zero
  * per-line loops, zero Generate: the whole rule suite is map-only
  * scalar math per doc). f47 renders lines in one in-row
  * higher-order transform (bounded by lines-per-doc, no explode, no
  * shuffle before the output sort). d25 is the one genuine shuffle
  * op: explode paragraphs → ONE hash-keyed exchange (a min-window
  * over the 16-hex paragraph key — shuffling 16 bytes + one packed
  * long per paragraph) → one doc-keyed agg; at 100 TB the dedup
  * relation is the paragraph stream itself, which no engine can
  * avoid materializing once.
  *
  * Reference anchor: the reference ingests user uploads wholesale
  * (ingest.py's per-file pipeline has no content filtering); these
  * are the corpus-hygiene counterparts a training-data lake adds on
  * top — kept to public recipes (Gopher/C4/CCNet) exactly so the
  * oracle can replay them.
  */
object CorpusClean {

  // ------------------------------------------------------------------
  // shared modular render template (both engines state these literally)
  // ------------------------------------------------------------------
  // L  = words per line            = 8 + doc_id % 5
  // mb = bullet modulus            = 1 + doc_id % 9   (bullet iff (doc_id*31+i) % mb = 0)
  // me = ending modulus            = 3 + doc_id % 9   (e = (doc_id*37+i) % me: 2 → '...', 1 → '', else '.')
  // js injected iff (doc_id*13+i) % 17 = 5
  // paragraph boilerplate iff (doc_id*7+idx) % 13 = 0

  /** closed-form count of i in [0, n) with (a + i) % m = r (m, r
    * non-negative integer expressions; a any non-negative integer
    * expression). First hit i0 = ((r - a % m) + m) % m, then every m. */
  private[graft] def cntMod(a: String, r: String, m: String, n: String): String =
    s"CASE WHEN ((($r) - ($a) % ($m)) + ($m)) % ($m) < ($n)" +
      s" THEN (($n) - 1 - ((($r) - ($a) % ($m)) + ($m)) % ($m)) div ($m) + 1 ELSE 0 END"

  private def cntModDuck(a: String, r: String, m: String, n: String): String =
    s"CASE WHEN ((($r) - ($a) % ($m)) + ($m)) % ($m) < ($n)" +
      s" THEN (($n) - 1 - ((($r) - ($a) % ($m)) + ($m)) % ($m)) // ($m) + 1 ELSE 0 END"

  private val stopSet = Seq("the", "a", "of", "and", "to")

  // ------------------------------------------------------------------
  // f46 — Gopher quality-filter rule suite
  // ------------------------------------------------------------------

  /** f46 — `q_gopher_rules`: the Gopher repetition-free quality rules
    * per document, with the first failing rule in published
    * precedence. Entirely map-only: the line-structure counts are
    * closed-form modular arithmetic (no render, no explode), the word
    * stats are one pass over the token array. */
  def qGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
    val stopHits = stopSet
      .map(w => s"CAST(array_contains(split(text, ' '), '$w') AS BIGINT)")
      .mkString(" + ")
    d.withColumn("n_words", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .withColumn("chars_ns", expr("CAST(length(replace(text, ' ', '')) AS BIGINT)"))
      .withColumn("l_len", expr("CAST(8 + doc_id % 5 AS BIGINT)"))
      .withColumn("mb", expr("CAST(1 + doc_id % 9 AS BIGINT)"))
      .withColumn("me", expr("CAST(3 + doc_id % 9 AS BIGINT)"))
      .withColumn("alpha_words",
        expr("CAST(size(filter(split(text, ' '), w -> w rlike '[a-z]')) AS BIGINT)"))
      .withColumn("stop_hits", expr(stopHits))
      .withColumn("n_lines", expr("(n_words + l_len - 1) div l_len"))
      .withColumn("bullet_lines",
        expr(cntMod("doc_id * 31", "0", "mb", "n_lines")))
      .withColumn("ellipsis_lines",
        expr(cntMod("doc_id * 37", "2", "me", "n_lines")))
      .withColumn("r_wordcount", expr("n_words >= 50 AND n_words <= 100000"))
      .withColumn("r_meanlen", expr("3 * n_words <= chars_ns AND chars_ns <= 10 * n_words"))
      .withColumn("r_symbol", expr("10 * ellipsis_lines <= n_words"))
      .withColumn("r_bullet", expr("10 * bullet_lines <= 9 * n_lines"))
      .withColumn("r_ellipsis", expr("10 * ellipsis_lines <= 3 * n_lines"))
      .withColumn("r_alpha", expr("5 * alpha_words >= 4 * n_words"))
      .withColumn("r_stop", expr("stop_hits >= 2"))
      .withColumn("pass",
        expr("r_wordcount AND r_meanlen AND r_symbol AND r_bullet AND r_ellipsis AND r_alpha AND r_stop"))
      .withColumn("first_fail", expr(
        """CASE WHEN NOT r_wordcount THEN 'wordcount' WHEN NOT r_meanlen THEN 'meanlen'
                WHEN NOT r_symbol THEN 'symbol' WHEN NOT r_bullet THEN 'bullet'
                WHEN NOT r_ellipsis THEN 'ellipsis' WHEN NOT r_alpha THEN 'alpha'
                WHEN NOT r_stop THEN 'stop' ELSE 'none' END"""))
      .select("doc_id", "n_words", "n_lines", "bullet_lines", "ellipsis_lines",
        "stop_hits", "alpha_words", "r_wordcount", "r_meanlen", "r_symbol",
        "r_bullet", "r_ellipsis", "r_alpha", "r_stop", "pass", "first_fail")
      .orderBy("doc_id")
  }

  val qGopherRulesSql: String = {
    val stopHits = stopSet
      .map(w => s"CAST(list_contains(string_split(text, ' '), '$w') AS BIGINT)")
      .mkString(" + ")
    s"""WITH base AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
          CAST(8 + doc_id % 5 AS BIGINT) AS l_len,
          CAST(1 + doc_id % 9 AS BIGINT) AS mb,
          CAST(3 + doc_id % 9 AS BIGINT) AS me,
          CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha_words,
          ($stopHits) AS stop_hits
        FROM documents),
      dims AS (SELECT *, (n_words + l_len - 1) // l_len AS n_lines FROM base),
      cnt AS (
        SELECT *,
          ${cntModDuck("doc_id * 31", "0", "mb", "n_lines")} AS bullet_lines,
          ${cntModDuck("doc_id * 37", "2", "me", "n_lines")} AS ellipsis_lines
        FROM dims),
      r AS (
        SELECT *,
          n_words >= 50 AND n_words <= 100000 AS r_wordcount,
          3 * n_words <= chars_ns AND chars_ns <= 10 * n_words AS r_meanlen,
          10 * ellipsis_lines <= n_words AS r_symbol,
          10 * bullet_lines <= 9 * n_lines AS r_bullet,
          10 * ellipsis_lines <= 3 * n_lines AS r_ellipsis,
          5 * alpha_words >= 4 * n_words AS r_alpha,
          stop_hits >= 2 AS r_stop
        FROM cnt)
      SELECT doc_id, n_words, n_lines, bullet_lines, ellipsis_lines, stop_hits,
        alpha_words, r_wordcount, r_meanlen, r_symbol, r_bullet, r_ellipsis,
        r_alpha, r_stop,
        r_wordcount AND r_meanlen AND r_symbol AND r_bullet AND r_ellipsis AND r_alpha AND r_stop AS pass,
        CASE WHEN NOT r_wordcount THEN 'wordcount' WHEN NOT r_meanlen THEN 'meanlen'
             WHEN NOT r_symbol THEN 'symbol' WHEN NOT r_bullet THEN 'bullet'
             WHEN NOT r_ellipsis THEN 'ellipsis' WHEN NOT r_alpha THEN 'alpha'
             WHEN NOT r_stop THEN 'stop' ELSE 'none' END AS first_fail
      FROM r ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // f47 — C4 line-level cleaning
  // ------------------------------------------------------------------

  /** f47 — `q_c4_filters`: render each document's lines under the
    * shared modular template, keep lines C4-style (terminal '.', not
    * an ellipsis, ≥5 words, no `javascript`), then the doc-level
    * policy (≥3 surviving lines, no lorem-ipsum marker). One in-row
    * transform per doc — no explode, no shuffle before the sort. */
  def qC4Filters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
    d.withColumn("w", expr("split(text, ' ')"))
      .withColumn("n_words", expr("CAST(size(w) AS BIGINT)"))
      .withColumn("l_len", expr("CAST(8 + doc_id % 5 AS BIGINT)"))
      .withColumn("mb", expr("CAST(1 + doc_id % 9 AS BIGINT)"))
      .withColumn("me", expr("CAST(3 + doc_id % 9 AS BIGINT)"))
      .withColumn("n_lines", expr("(n_words + l_len - 1) div l_len"))
      .withColumn("ls", expr(
        """transform(sequence(0, n_lines - 1), i -> named_struct(
             'lw', IF(i < n_lines - 1, l_len, n_words - i * l_len),
             'line', concat(
               IF((doc_id * 31 + i) % mb = 0, '- ', ''),
               array_join(slice(w, CAST(i * l_len + 1 AS INT), CAST(l_len AS INT)), ' '),
               IF((doc_id * 13 + i) % 17 = 5, ' javascript', ''),
               CASE (doc_id * 37 + i) % me WHEN 2 THEN '...' WHEN 1 THEN '' ELSE '.' END)))"""))
      .withColumn("kept", expr(
        """filter(ls, s -> right(s.line, 1) = '.' AND right(s.line, 3) <> '...'
             AND NOT contains(s.line, 'javascript') AND s.lw >= 5)"""))
      .select(col("doc_id"), col("n_lines"),
        expr("CAST(size(kept) AS BIGINT)").as("kept_lines"),
        expr("n_lines - CAST(size(kept) AS BIGINT)").as("dropped_lines"),
        expr("aggregate(kept, 0L, (acc, s) -> acc + s.lw)").as("kept_words"),
        expr("aggregate(kept, 0L, (acc, s) -> acc + length(s.line))").as("kept_chars"),
        expr("doc_id % 23 = 7").as("has_lorem"),
        expr("CAST(size(kept) AS BIGINT) >= 3 AND NOT (doc_id % 23 = 7)").as("doc_kept"))
      .orderBy("doc_id")
  }

  val qC4FiltersSql: String =
    """WITH base AS (
        SELECT doc_id,
          string_split(text, ' ') AS w,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          CAST(8 + doc_id % 5 AS BIGINT) AS l_len,
          CAST(1 + doc_id % 9 AS BIGINT) AS mb,
          CAST(3 + doc_id % 9 AS BIGINT) AS me
        FROM documents),
      dims AS (SELECT *, (n_words + l_len - 1) // l_len AS n_lines FROM base),
      rend AS (
        SELECT doc_id, n_lines,
          list_transform(generate_series(0, n_lines - 1), i -> struct_pack(
            lw := CASE WHEN i < n_lines - 1 THEN l_len ELSE n_words - i * l_len END,
            line := (CASE WHEN (doc_id * 31 + i) % mb = 0 THEN '- ' ELSE '' END)
              || array_to_string(list_slice(w, i * l_len + 1, i * l_len + l_len), ' ')
              || (CASE WHEN (doc_id * 13 + i) % 17 = 5 THEN ' javascript' ELSE '' END)
              || (CASE (doc_id * 37 + i) % me WHEN 2 THEN '...' WHEN 1 THEN '' ELSE '.' END)))
          AS ls
        FROM dims),
      k AS (
        SELECT doc_id, n_lines,
          list_filter(ls, s -> right(s.line, 1) = '.' AND right(s.line, 3) <> '...'
            AND NOT contains(s.line, 'javascript') AND s.lw >= 5) AS kept
        FROM rend)
      SELECT doc_id, n_lines,
        CAST(len(kept) AS BIGINT) AS kept_lines,
        n_lines - CAST(len(kept) AS BIGINT) AS dropped_lines,
        CAST(coalesce(list_sum(list_transform(kept, s -> s.lw)), 0) AS BIGINT) AS kept_words,
        CAST(coalesce(list_sum(list_transform(kept, s -> length(s.line))), 0) AS BIGINT) AS kept_chars,
        doc_id % 23 = 7 AS has_lorem,
        CAST(len(kept) AS BIGINT) >= 3 AND NOT (doc_id % 23 = 7) AS doc_kept
      FROM k ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // d25 — cross-corpus paragraph dedup (CCNet)
  // ------------------------------------------------------------------

  /** d25 — `q_dedup_paragraph`: corpus-wide keep-first paragraph
    * dedup. Paragraphs are 16-word windows of the token stream, with
    * the modular boilerplate class planted as the cross-doc duplicate
    * surface (real corpora dedup FOOTERS — the planted class is that
    * footer). Keep-first = min (doc_id, idx) per paragraph key,
    * packed into one long so the min-window needs no struct compare.
    *
    * Plan: explode paragraphs → ONE hash-partitioned exchange (the
    * min window over the 16-hex key; the shuffle rows are (16-hex,
    * packed long, word count) — paragraph TEXT never shuffles) → one
    * doc-keyed agg. The keep-first rule needs every occurrence of a
    * key in one place; one exchange is the floor for that. */
  /** shared paragraph explode (d25 batch + h35 streaming guard): doc
    * rows (doc_id, text) → one row per paragraph occurrence with its
    * 16-hex key, word count and packed (doc_id, idx) order. The same
    * column chain runs over a static OR streaming DataFrame. */
  def paragraphOccurrences(d: DataFrame): DataFrame = d
    .withColumn("w", expr("split(text, ' ')"))
    .withColumn("n_words", expr("CAST(size(w) AS BIGINT)"))
    .select(col("doc_id"), explode(expr(
      """transform(sequence(0, (n_words + 15) div 16 - 1), idx -> named_struct(
           'idx', idx,
           'content', CASE WHEN (doc_id * 7 + idx) % 13 = 0
             THEN concat('boilerplate footer v', CAST(idx % 3 AS STRING))
             ELSE array_join(slice(w, CAST(idx * 16 + 1 AS INT), 16), ' ') END))"""))
      .as("p"))
    .select(col("doc_id"),
      expr("substr(md5(p.content), 1, 16)").as("h"),
      expr("CAST(size(split(p.content, ' ')) AS BIGINT)").as("pw"),
      expr("doc_id * 4294967296 + p.idx").as("packed"))

  def qDedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val paras = paragraphOccurrences(Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text"))))
    paras
      .withColumn("mn", min(col("packed")).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_para"),
        sum(expr("CAST(packed = mn AS BIGINT)")).as("kept_para"),
        sum(expr("CAST(packed <> mn AS BIGINT)")).as("dropped_para"),
        sum(expr("IF(packed = mn, pw, 0L)")).as("kept_words"))
      .orderBy("doc_id")
  }

  val qDedupParagraphSql: String =
    """WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents),
      p AS (
        SELECT doc_id, unnest(generate_series(0, (n_words + 15) // 16 - 1)) AS idx, w
        FROM base),
      c AS (
        SELECT doc_id, idx,
          CASE WHEN (doc_id * 7 + idx) % 13 = 0
               THEN 'boilerplate footer v' || CAST(idx % 3 AS VARCHAR)
               ELSE array_to_string(list_slice(w, idx * 16 + 1, idx * 16 + 16), ' ') END AS content
        FROM p),
      h AS (
        SELECT doc_id,
          substr(md5(content), 1, 16) AS h,
          CAST(len(string_split(content, ' ')) AS BIGINT) AS pw,
          doc_id * 4294967296 + idx AS packed
        FROM c),
      k AS (SELECT *, min(packed) OVER (PARTITION BY h) AS mn FROM h)
      SELECT doc_id,
        count(*) AS n_para,
        CAST(sum(CASE WHEN packed = mn THEN 1 ELSE 0 END) AS BIGINT) AS kept_para,
        CAST(sum(CASE WHEN packed = mn THEN 0 ELSE 1 END) AS BIGINT) AS dropped_para,
        CAST(sum(CASE WHEN packed = mn THEN pw ELSE 0 END) AS BIGINT) AS kept_words
      FROM k GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // f48 — CCNet perplexity buckets
  // ------------------------------------------------------------------

  /** f48 — `q_ccnet_buckets`: CCNet's head/middle/tail split (Wenzek
    * et al. 2020): per LANGUAGE, bucket documents by unigram-LM
    * cross-entropy terciles — head (most fluent third) is what
    * high-quality pretraining mixes keep, tail is what they drop or
    * down-weight. The LM and per-token micro-nat quantization are
    * f18's (integer log-probs summed exactly); per-doc cross-entropy
    * quantizes to MILLI-nats so the tercile thresholds read off a
    * VALUE histogram whose size is bounded by the ce dynamic range —
    * never the doc count (c73/a26's prune argument: the cumsum window
    * input is one row per distinct (lang, ce_milli), ≤ a few thousand
    * rows at any corpus size; a per-doc rank window would sort the
    * corpus). Threshold semantics: smallest ce with cum ≥ ⌈n/3⌉ (3·cum
    * ≥ n in integers) — ties share a bucket, which is exactly how a
    * VALUE threshold behaves in production CCNet.
    *
    * Plan: token explode → ≤200-row broadcast model → one doc-keyed
    * agg → milli-nat map → bounded histogram agg → bounded cumsum →
    * per-lang thresholds broadcast back → 12-row rollup. */
  def qCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("lang"), col("text")))
    val toks = d.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n"))
    val model = counts.orderBy(col("cnt").desc, col("tok")).limit(200)
      .crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("cnt").cast("double") / col("n").cast("double")) * lit(1e6))
          .cast("long").as("lpq"))
    val perDoc = toks.join(broadcast(model), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .withColumn("lp", coalesce(col("lpq"),
        round(-log(col("n").cast("double") + 1.0) * lit(1e6)).cast("long")))
      .groupBy("doc_id", "lang")
      .agg((-sum(col("lp"))).as("lp_sum"), count(lit(1)).as("n_tok"))
      .withColumn("ce_milli", expr("lp_sum div (n_tok * 1000)"))
      // two consumers (histogram chain + final assignment): materialize
      // the compact per-doc table once instead of re-running the token
      // join per consumer (the basket-family AQE-subtree lesson)
      .localCheckpoint(false)
    val hist = perDoc.groupBy("lang", "ce_milli").agg(count(lit(1)).as("nd"))
    val cum = hist.withColumn("cumn",
      sum("nd").over(org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("ce_milli")))
    val tot = hist.groupBy("lang").agg(sum("nd").as("n"))
    val th = cum.join(tot, "lang")
      .groupBy("lang")
      .agg(min(when(expr("3 * cumn >= n"), col("ce_milli"))).as("t1"),
        min(when(expr("3 * cumn >= 2 * n"), col("ce_milli"))).as("t2"))
    perDoc.join(broadcast(th), "lang")
      .withColumn("bucket", expr(
        "CASE WHEN ce_milli <= t1 THEN 'head' WHEN ce_milli <= t2 THEN 'middle' ELSE 'tail' END"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("ce_milli").as("ce_lo"), max("ce_milli").as("ce_hi"))
      .orderBy("lang", "bucket")
  }

  val qCcnetBucketsSql: String =
    """WITH toks AS (
        SELECT doc_id, lang, t AS tok FROM (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents) x
        WHERE length(t) > 0),
      counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      total AS (SELECT SUM(cnt) AS n FROM counts),
      model AS (
        SELECT tok, CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS lpq
        FROM counts, total ORDER BY cnt DESC, tok LIMIT 200),
      perdoc AS (
        SELECT t.doc_id, t.lang,
          CAST(-SUM(COALESCE(m.lpq, CAST(round(-ln(CAST(tt.n AS DOUBLE) + 1.0) * 1e6) AS BIGINT))) AS BIGINT) AS lp_sum,
          COUNT(*) AS n_tok
        FROM toks t LEFT JOIN model m ON t.tok = m.tok, total tt
        GROUP BY 1, 2),
      ced AS (SELECT doc_id, lang, lp_sum // (n_tok * 1000) AS ce_milli FROM perdoc),
      hist AS (SELECT lang, ce_milli, COUNT(*) AS nd FROM ced GROUP BY 1, 2),
      cum AS (SELECT *, SUM(nd) OVER (PARTITION BY lang ORDER BY ce_milli) AS cumn FROM hist),
      tot AS (SELECT lang, SUM(nd) AS n FROM hist GROUP BY 1),
      th AS (
        SELECT c.lang,
          MIN(CASE WHEN 3 * cumn >= t.n THEN ce_milli END) AS t1,
          MIN(CASE WHEN 3 * cumn >= 2 * t.n THEN ce_milli END) AS t2
        FROM cum c JOIN tot t ON c.lang = t.lang GROUP BY 1),
      assign AS (
        SELECT d.lang,
          CASE WHEN d.ce_milli <= th.t1 THEN 'head'
               WHEN d.ce_milli <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket,
          d.ce_milli
        FROM ced d JOIN th ON d.lang = th.lang)
      SELECT lang, bucket, COUNT(*) AS n_docs,
        MIN(ce_milli) AS ce_lo, MAX(ce_milli) AS ce_hi
      FROM assign GROUP BY 1, 2 ORDER BY lang, bucket"""

  // ------------------------------------------------------------------
  // d26 — cross-source contamination matrix
  // ------------------------------------------------------------------

  /** d26 — `q_dedup_cross_source`: the SOURCE-pair contamination
    * matrix (the train/test-split hygiene check at source granularity
    * — f10/f15 decontaminate docs against an EVAL set, this audits
    * every ingested source against every other: two feeds sharing
    * paragraphs is how benchmark leakage and double-licensed content
    * surface): for each source pair, the distinct paragraph keys they
    * share and the Jaccard overlap in ppm. Here the shared surface is
    * the planted boilerplate class — which is the honest real-world
    * answer (cross-source overlap IS mostly boilerplate).
    *
    * Plan: distinct (source, key) pre-agg FIRST (the stream shrinks
    * to one row per source-key before any pairing), then a hash-
    * co-partitioned self-join on the key — pair generation is bounded
    * by C(|sources|, 2) per key, never occurrences² — and a bounded
    * pair agg; per-source key counts broadcast back for the Jaccard
    * denominator. Output = one row per overlapping pair (≤ C(20,2)). */
  def qDedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("source"), col("text")))
      .withColumn("w", expr("split(text, ' ')"))
      .withColumn("n_words", expr("CAST(size(w) AS BIGINT)"))
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, (n_words + 15) div 16 - 1), idx ->
             CASE WHEN (doc_id * 7 + idx) % 13 = 0
               THEN concat('boilerplate footer v', CAST(idx % 3 AS STRING))
               ELSE array_join(slice(w, CAST(idx * 16 + 1 AS INT), 16), ' ') END)"""))
        .as("content"))
      .select(col("source"), expr("substr(md5(content), 1, 16)").as("h"))
      .distinct()
      // three consumers (per-source counts + BOTH self-join sides):
      // materialize the compact distinct pre-agg once, or the paragraph
      // explode + md5 re-runs per consumer (caught by ScanCountSpec —
      // 4 scans of documents without this)
      .localCheckpoint(false)
    val k = base.groupBy("source").agg(count(lit(1)).as("nk"))
    val pairs = base.as("a").join(base.as("b"),
        expr("a.h = b.h AND a.source < b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_keys"))
    pairs
      .join(broadcast(k.withColumnRenamed("source", "src_a").withColumnRenamed("nk", "nk_a")), "src_a")
      .join(broadcast(k.withColumnRenamed("source", "src_b").withColumnRenamed("nk", "nk_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_keys"),
        expr("shared_keys * 1000000 div (nk_a + nk_b - shared_keys)").as("overlap_ppm"))
      .orderBy("src_a", "src_b")
  }

  val qDedupCrossSourceSql: String =
    """WITH base AS (
        SELECT doc_id, source, string_split(text, ' ') AS w,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents),
      pp AS (
        SELECT doc_id, source, unnest(generate_series(0, (n_words + 15) // 16 - 1)) AS idx, w
        FROM base),
      c AS (
        SELECT DISTINCT source,
          substr(md5(CASE WHEN (doc_id * 7 + idx) % 13 = 0
               THEN 'boilerplate footer v' || CAST(idx % 3 AS VARCHAR)
               ELSE array_to_string(list_slice(w, idx * 16 + 1, idx * 16 + 16), ' ') END), 1, 16) AS h
        FROM pp),
      k AS (SELECT source, count(*) AS nk FROM c GROUP BY 1),
      j AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_keys
            FROM c a JOIN c b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
      SELECT j.src_a, j.src_b, j.shared_keys,
        CAST(j.shared_keys * 1000000 // (ka.nk + kb.nk - j.shared_keys) AS BIGINT) AS overlap_ppm
      FROM j JOIN k ka ON j.src_a = ka.source JOIN k kb ON j.src_b = kb.source
      ORDER BY src_a, src_b"""

  // ------------------------------------------------------------------
  // d27 — split-leakage audit
  // ------------------------------------------------------------------

  /** d27 — `q_split_leakage`: the eval-split LEAKAGE audit under BOTH
    * split schemes f43 compares (group-aware source-hash vs naive
    * doc-hash): for every val/test paragraph occurrence, is its key
    * already in train — overall (`leaked_para`/`leaked_ppm`/
    * `leaked_keys`) and from the SAME SOURCE (`leaked_same_src`).
    * The same-source column is the group split's GUARANTEE made
    * measurable: a source-hash split puts all of a source in one
    * split, so same-source leakage is ZERO BY CONSTRUCTION, while the
    * naive doc-hash split scatters one source's docs across splits
    * and leaks its boilerplate into eval (spec-pinned: group = 0,
    * naive > 0). Cross-source leakage (the boilerplate class) remains
    * under both schemes — the honest reading: a group split fixes
    * same-origin leakage, only d25-style global dedup fixes shared
    * boilerplate.
    *
    * Plan: one documents scan → map-only double split labels (f43's
    * ticket algebra, stated identically) → paragraph explode → the
    * occurrence stream localCheckpointed once for its three consumers
    * (train-key distinct, train-(key,source) distinct, eval side) →
    * two hash-co-partitioned left joins → one bounded agg. */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    def digit(c: String, i: Int) =
      s"(locate(substr(md5($c), $i, 1), '0123456789abcdef') - 1)"
    def ticket(c: String) =
      s"CAST(((${digit(c, 1)} * 16 + ${digit(c, 2)}) * 16 + ${digit(c, 3)}) * 16 + ${digit(c, 4)} AS INT)"
    val splitCase =
      "CASE WHEN t % 100 < 80 THEN 'train' WHEN t % 100 < 90 THEN 'val' ELSE 'test' END"
    val occ = Tables.fanout(
      Tables(spark, dir, "documents").select(col("doc_id"), col("source"), col("text")))
      .withColumn("t", expr(ticket("source")))
      .withColumn("gsplit", expr(splitCase))
      .withColumn("t", expr(ticket("CAST(doc_id AS STRING)")))
      .withColumn("nsplit", expr(splitCase))
      .withColumn("w", expr("split(text, ' ')"))
      .withColumn("n_words", expr("CAST(size(w) AS BIGINT)"))
      .select(col("doc_id"), col("source"), col("gsplit"), col("nsplit"), explode(expr(
        """transform(sequence(0, (n_words + 15) div 16 - 1), idx ->
             CASE WHEN (doc_id * 7 + idx) % 13 = 0
               THEN concat('boilerplate footer v', CAST(idx % 3 AS STRING))
               ELSE array_join(slice(w, CAST(idx * 16 + 1 AS INT), 16), ' ') END)"""))
        .as("content"))
      .select(col("source"), col("gsplit"), col("nsplit"),
        expr("substr(md5(content), 1, 16)").as("h"))
      .select(explode(expr(
        """array(named_struct('scheme', 'group', 'split', gsplit),
                 named_struct('scheme', 'naive', 'split', nsplit))""")).as("s"),
        col("source"), col("h"))
      .select(col("s.scheme").as("scheme"), col("s.split").as("split"),
        col("source"), col("h"))
      // three consumers (two train-key sides + the eval side): one
      // materialization of the compact occurrence stream
      .localCheckpoint(false)
    val tk = occ.filter(col("split") === "train")
      .select(col("scheme").as("ts"), col("h").as("th")).distinct()
      .withColumn("hit", lit(1))
    val tks = occ.filter(col("split") === "train")
      .select(col("scheme").as("ts2"), col("h").as("th2"), col("source").as("tsrc"))
      .distinct().withColumn("hit_src", lit(1))
    occ.filter(col("split") =!= "train")
      .join(tk, expr("scheme = ts AND h = th"), "left")
      .join(tks, expr("scheme = ts2 AND h = th2 AND source = tsrc"), "left")
      .groupBy("scheme", "split")
      .agg(count(lit(1)).as("n_para"),
        sum(expr("CAST(hit IS NOT NULL AS BIGINT)")).as("leaked_para"),
        countDistinct(when(col("hit").isNotNull, col("h"))).as("leaked_keys"),
        expr("sum(CAST(hit IS NOT NULL AS BIGINT)) * 1000000 div count(1)").as("leaked_ppm"),
        sum(expr("CAST(hit_src IS NOT NULL AS BIGINT)")).as("leaked_same_src"))
      .orderBy("scheme", "split")
  }

  val qSplitLeakageSql: String = {
    def digit(c: String, i: Int) =
      s"(strpos('0123456789abcdef', substr(md5($c), $i, 1)) - 1)"
    def ticket(c: String) =
      s"CAST(((${digit(c, 1)} * 16 + ${digit(c, 2)}) * 16 + ${digit(c, 3)}) * 16 + ${digit(c, 4)} AS INT)"
    val splitCase =
      "CASE WHEN t % 100 < 80 THEN 'train' WHEN t % 100 < 90 THEN 'val' ELSE 'test' END"
    s"""WITH d AS (
        SELECT doc_id, source, string_split(text, ' ') AS w,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          ${ticket("source")} AS t, ${ticket("CAST(doc_id AS VARCHAR)")} AS tn
        FROM documents),
      sp AS (SELECT doc_id, source, w, n_words, $splitCase AS gsplit,
             ${splitCase.replace("t % 100", "tn % 100")} AS nsplit FROM d),
      pp AS (SELECT doc_id, source, gsplit, nsplit,
             unnest(generate_series(0, (n_words + 15) // 16 - 1)) AS idx, w FROM sp),
      occ0 AS (
        SELECT doc_id, source, gsplit, nsplit, idx,
          substr(md5(CASE WHEN (doc_id * 7 + idx) % 13 = 0
               THEN 'boilerplate footer v' || CAST(idx % 3 AS VARCHAR)
               ELSE array_to_string(list_slice(w, idx * 16 + 1, idx * 16 + 16), ' ') END), 1, 16) AS h
        FROM pp),
      occ AS (
        SELECT sc.scheme AS scheme, source,
          CASE WHEN sc.scheme = 'group' THEN gsplit ELSE nsplit END AS split, h
        FROM occ0, (SELECT unnest(['group', 'naive']) AS scheme) sc),
      tk AS (SELECT DISTINCT scheme AS ts, h AS th FROM occ WHERE split = 'train'),
      tks AS (SELECT DISTINCT scheme AS ts2, h AS th2, source AS tsrc FROM occ WHERE split = 'train'),
      ev AS (SELECT * FROM occ WHERE split <> 'train')
      SELECT ev.scheme, ev.split, count(*) AS n_para,
        CAST(sum(CASE WHEN tk.th IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS leaked_para,
        CAST(count(DISTINCT CASE WHEN tk.th IS NOT NULL THEN ev.h END) AS BIGINT) AS leaked_keys,
        CAST(sum(CASE WHEN tk.th IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS leaked_ppm,
        CAST(sum(CASE WHEN tks.th2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS leaked_same_src
      FROM ev LEFT JOIN tk ON ev.scheme = tk.ts AND ev.h = tk.th
              LEFT JOIN tks ON ev.scheme = tks.ts2 AND ev.h = tks.th2 AND ev.source = tks.tsrc
      GROUP BY 1, 2 ORDER BY ev.scheme, ev.split"""
  }

  // ------------------------------------------------------------------
  // f49 — per-source data card
  // ------------------------------------------------------------------

  /** f49 — `q_data_card`: the per-SOURCE dataset card ("datasheets for
    * datasets", Gebru et al. 2018 — the one-page hygiene summary a
    * training-data lake publishes per ingested source): document and
    * word volume, language spread, Gopher pass rate, C4 keep rate and
    * paragraph-duplication rate, each in integer ppm. A source whose
    * card shows a collapsing pass rate or a boilerplate explosion gets
    * cut from the mix before it poisons a run — the readout f39's
    * mixing weights consume.
    *
    * Composition capstone (f28's discipline): the card JOINS the f46 /
    * f47 / d25 verdicts per doc — each sub-plan is the REGISTERED
    * operator itself, not a re-derivation, so the card can never
    * disagree with the family it summarizes. Cost = the three
    * sub-plans + row-scale doc_id joins + one bounded source agg. */
  def qDataCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("words"))
    val g = qGopherRules(spark, dir).select(col("doc_id"), col("pass"))
    val c = qC4Filters(spark, dir).select(col("doc_id"), col("doc_kept"))
    val p = qDedupParagraph(spark, dir)
      .select(col("doc_id"), col("n_para"), col("dropped_para"))
    d.join(g, "doc_id").join(c, "doc_id").join(p, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum("words").as("words"),
        countDistinct(col("lang")).as("langs"),
        expr("sum(CAST(pass AS BIGINT)) * 1000000 div count(1)").as("gopher_pass_ppm"),
        expr("sum(CAST(doc_kept AS BIGINT)) * 1000000 div count(1)").as("c4_keep_ppm"),
        expr("sum(dropped_para) * 1000000 div sum(n_para)").as("para_dup_ppm"))
      .orderBy("source")
  }

  val qDataCardSql: String =
    s"""WITH g AS ($qGopherRulesSql),
      c AS ($qC4FiltersSql),
      p AS ($qDedupParagraphSql),
      d AS (
        SELECT doc_id, source, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS words
        FROM documents)
      SELECT d.source, count(*) AS docs,
        CAST(sum(d.words) AS BIGINT) AS words,
        CAST(count(DISTINCT d.lang) AS BIGINT) AS langs,
        CAST(sum(CAST(g.pass AS BIGINT)) * 1000000 // count(*) AS BIGINT) AS gopher_pass_ppm,
        CAST(sum(CAST(c.doc_kept AS BIGINT)) * 1000000 // count(*) AS BIGINT) AS c4_keep_ppm,
        CAST(sum(p.dropped_para) * 1000000 // sum(p.n_para) AS BIGINT) AS para_dup_ppm
      FROM d JOIN g ON d.doc_id = g.doc_id
             JOIN c ON d.doc_id = c.doc_id
             JOIN p ON d.doc_id = p.doc_id
      GROUP BY d.source ORDER BY d.source"""

  // ------------------------------------------------------------------
  // f51 — filter-ablation matrix (which filter does the killing)
  // ------------------------------------------------------------------

  /** f51 — `q_filter_ablation`: the per-source filter ABLATION table
    * (the analysis every pipeline paper publishes next to its filter
    * stack — RefinedWeb/Dolma-style "marginal kill rate" accounting):
    * f49 reports each filter's pass rate in isolation; this reports
    * the 2×2 INTERACTION — per source, how many docs only Gopher
    * kills, only C4 kills, both kill, neither (kept), in counts and
    * ppm. The marginal columns are what decide whether a filter earns
    * its compute: a filter whose kills are all shared with a cheaper
    * one is dead weight at 100 TB. COMPOSITION discipline (f49's): the
    * verdicts come from the REGISTERED f46/f47 operators — never a
    * re-derivation, so the ablation cannot disagree with the family it
    * analyzes. Cost: the two sub-plans + one row-scale doc_id join +
    * one bounded source agg (ScanCountSpec-class shape, ≤3 documents
    * scans). */
  def qFilterAblation(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    val g = qGopherRules(spark, dir).select(col("doc_id"), col("pass"))
    val c = qC4Filters(spark, dir).select(col("doc_id"), col("doc_kept"))
    d.join(g, "doc_id").join(c, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(expr("CAST(NOT pass AND doc_kept AS BIGINT)")).as("gopher_only"),
        sum(expr("CAST(pass AND NOT doc_kept AS BIGINT)")).as("c4_only"),
        sum(expr("CAST(NOT pass AND NOT doc_kept AS BIGINT)")).as("both_kill"),
        sum(expr("CAST(pass AND doc_kept AS BIGINT)")).as("kept"))
      .withColumn("gopher_only_ppm", expr("gopher_only * 1000000 div docs"))
      .withColumn("c4_only_ppm", expr("c4_only * 1000000 div docs"))
      .withColumn("both_kill_ppm", expr("both_kill * 1000000 div docs"))
      .withColumn("kept_ppm", expr("kept * 1000000 div docs"))
      .orderBy("source")
  }

  val qFilterAblationSql: String =
    s"""WITH g AS ($qGopherRulesSql),
      c AS ($qC4FiltersSql),
      d AS (SELECT doc_id, source FROM documents),
      j AS (
        SELECT d.source,
          CASE WHEN NOT g.pass AND c.doc_kept THEN 1 ELSE 0 END AS go,
          CASE WHEN g.pass AND NOT c.doc_kept THEN 1 ELSE 0 END AS co,
          CASE WHEN NOT g.pass AND NOT c.doc_kept THEN 1 ELSE 0 END AS bk,
          CASE WHEN g.pass AND c.doc_kept THEN 1 ELSE 0 END AS kp
        FROM d JOIN g ON d.doc_id = g.doc_id JOIN c ON d.doc_id = c.doc_id)
      SELECT source, count(*) AS docs,
        CAST(sum(go) AS BIGINT) AS gopher_only,
        CAST(sum(co) AS BIGINT) AS c4_only,
        CAST(sum(bk) AS BIGINT) AS both_kill,
        CAST(sum(kp) AS BIGINT) AS kept,
        CAST(sum(go) AS BIGINT) * 1000000 // count(*) AS gopher_only_ppm,
        CAST(sum(co) AS BIGINT) * 1000000 // count(*) AS c4_only_ppm,
        CAST(sum(bk) AS BIGINT) * 1000000 // count(*) AS both_kill_ppm,
        CAST(sum(kp) AS BIGINT) * 1000000 // count(*) AS kept_ppm
      FROM j GROUP BY source ORDER BY source"""

  // ------------------------------------------------------------------
  // f50 — per-benchmark × per-source contamination matrix
  // ------------------------------------------------------------------

  /** f50 — `q_contamination_matrix`: the per-benchmark contamination
    * TABLE every serious model card publishes (GPT-3 Appendix C /
    * PaLM's contamination analysis — the public standard): f10 flags
    * individual (train doc, eval doc) pairs; this rolls the same
    * ≥3-shared-shingles evidence up to the (benchmark suite, corpus
    * source) grid — for each suite and source, how many of the
    * source's docs are contaminated (ppm) and the worst overlap. The
    * eval docs (doc_id ≡ 0 mod 50) partition into 5 suites by
    * doc_id div 50 mod 5; a corpus doc is contaminated AGAINST A SUITE
    * iff it shares ≥3 distinct shingles with the suite's UNION index
    * (distinct (suite, shingle) — suite-level, not per-eval-doc, so a
    * doc grazing 3 different eval docs once each still flags).
    *
    * Shape at 100 TB: the suite index is benchmark-sized → broadcast;
    * the corpus side is ONE map-only shingle explode + broadcast hash
    * probe (f10's argument); the only row-scale shuffle carries
    * MATCHED (doc, suite) rows; the matrix itself is
    * suites × sources — bounded. The zero-row cells come from the
    * bounded totals×suites cross (broadcast both), so clean sources
    * REPORT 0 rather than vanish — the datasheet's point. */
  def qContaminationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val sh = d.select(col("doc_id"), col("source"),
      explode(expr(graft.functions.TextFns.shSpark)).as("shingle"))
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(expr("concat('suite_', CAST(doc_id div 50 % 5 AS STRING))").as("suite"),
        col("shingle"))
      .distinct()
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
    val hits = corpus.join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"), col("source").as("hsource"), col("suite").as("hsuite"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    val m = hits.groupBy("hsuite", "hsource")
      .agg(count(lit(1)).as("n_contaminated"), max("shared").as("max_shared"))
    val tot = d.filter(col("doc_id") % 50 =!= 0)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val suites = d.filter(col("doc_id") % 50 === 0)
      .select(expr("concat('suite_', CAST(doc_id div 50 % 5 AS STRING))").as("suite"))
      .distinct()
    tot.crossJoin(broadcast(suites))
      .join(broadcast(m),
        col("hsuite") === col("suite") && col("hsource") === col("source"), "left")
      .select(col("source"), col("suite"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        expr("coalesce(n_contaminated, 0L) * 1000000 div n_docs").as("contaminated_ppm"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy("source", "suite")
  }

  val qContaminationMatrixSql: String = {
    val sh = graft.functions.TextFns.shDuck
    s"""WITH s AS (SELECT doc_id, source, unnest($sh) AS shingle FROM documents),
      bench AS (
        SELECT DISTINCT 'suite_' || CAST(doc_id // 50 % 5 AS VARCHAR) AS suite, shingle
        FROM s WHERE doc_id % 50 = 0),
      corpus AS (SELECT doc_id, source, shingle FROM s WHERE doc_id % 50 <> 0),
      hits AS (
        SELECT c.doc_id, c.source AS hsource, b.suite AS hsuite, COUNT(*) AS shared
        FROM corpus c JOIN bench b USING (shingle)
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3),
      tot AS (SELECT source, COUNT(*) AS n_docs FROM documents WHERE doc_id % 50 <> 0 GROUP BY 1),
      suites AS (SELECT DISTINCT 'suite_' || CAST(doc_id // 50 % 5 AS VARCHAR) AS suite
        FROM documents WHERE doc_id % 50 = 0),
      m AS (
        SELECT hsuite, hsource, COUNT(*) AS n_contaminated, MAX(shared) AS max_shared
        FROM hits GROUP BY 1, 2)
      SELECT t.source, s.suite, t.n_docs,
        COALESCE(m.n_contaminated, 0) AS n_contaminated,
        COALESCE(m.n_contaminated, 0) * 1000000 // t.n_docs AS contaminated_ppm,
        COALESCE(m.max_shared, 0) AS max_shared
      FROM tot t CROSS JOIN suites s
      LEFT JOIN m ON m.hsuite = s.suite AND m.hsource = t.source
      ORDER BY t.source, s.suite"""
  }

  /** f52 — `q_source_drift`: per-source DISTRIBUTION DRIFT between
    * corpus snapshots — the ingest-regression tripwire every
    * continuously-crawled corpus needs (a crawler or extractor change
    * shifts the shape of what a source yields long before its volume
    * moves; f49's data card counts, THIS tests the shape): documents
    * split into the two snapshot halves (doc_id parity — the
    * deterministic stand-in for crawl N vs N+1), each doc bucketed by
    * length class (literal thresholds 200/400 chars — no model join,
    * fully stateless), and per source the 2×3 contingency table gets
    * an EXACT χ²: per cell (o·N − r·c)²·10⁶ div (N·r·c) summed —
    * integer floor division per cell, identical both engines (c71's
    * 2×2 algebra generalized; HUGEINT/decimal(38,0) holds to ~3·10⁷
    * docs per source — beyond that, drop the 10⁶ scale first, c84's
    * reassociation). Verdict drifted iff χ² > 5.991 (df = 2, 95%).
    * One scan, one source-grain agg — scan-rate at corpus size. */
  def qSourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("source"), (col("doc_id") % 2 === 0).as("early"),
        expr("CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END").as("b"))
    def cell(e: Boolean, k: Int) =
      sum(when(col("early") === e && col("b") === k, 1L).otherwise(0L))
    val t = d.groupBy("source").agg(
      cell(true, 0).as("e0"), cell(true, 1).as("e1"), cell(true, 2).as("e2"),
      cell(false, 0).as("l0"), cell(false, 1).as("l1"), cell(false, 2).as("l2"))
    val chi =
      """CAST(
           (CASE WHEN (e0+l0) = 0 THEN 0 ELSE
             (CAST(e0 AS DECIMAL(38,0))*n - CAST(re AS DECIMAL(38,0))*(e0+l0))
             * (CAST(e0 AS DECIMAL(38,0))*n - CAST(re AS DECIMAL(38,0))*(e0+l0)) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * re * (e0+l0)) END) +
           (CASE WHEN (e1+l1) = 0 THEN 0 ELSE
             (CAST(e1 AS DECIMAL(38,0))*n - CAST(re AS DECIMAL(38,0))*(e1+l1))
             * (CAST(e1 AS DECIMAL(38,0))*n - CAST(re AS DECIMAL(38,0))*(e1+l1)) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * re * (e1+l1)) END) +
           (CASE WHEN (e2+l2) = 0 THEN 0 ELSE
             (CAST(e2 AS DECIMAL(38,0))*n - CAST(re AS DECIMAL(38,0))*(e2+l2))
             * (CAST(e2 AS DECIMAL(38,0))*n - CAST(re AS DECIMAL(38,0))*(e2+l2)) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * re * (e2+l2)) END) +
           (CASE WHEN (e0+l0) = 0 THEN 0 ELSE
             (CAST(l0 AS DECIMAL(38,0))*n - CAST(rl AS DECIMAL(38,0))*(e0+l0))
             * (CAST(l0 AS DECIMAL(38,0))*n - CAST(rl AS DECIMAL(38,0))*(e0+l0)) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * rl * (e0+l0)) END) +
           (CASE WHEN (e1+l1) = 0 THEN 0 ELSE
             (CAST(l1 AS DECIMAL(38,0))*n - CAST(rl AS DECIMAL(38,0))*(e1+l1))
             * (CAST(l1 AS DECIMAL(38,0))*n - CAST(rl AS DECIMAL(38,0))*(e1+l1)) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * rl * (e1+l1)) END) +
           (CASE WHEN (e2+l2) = 0 THEN 0 ELSE
             (CAST(l2 AS DECIMAL(38,0))*n - CAST(rl AS DECIMAL(38,0))*(e2+l2))
             * (CAST(l2 AS DECIMAL(38,0))*n - CAST(rl AS DECIMAL(38,0))*(e2+l2)) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * rl * (e2+l2)) END)
         AS BIGINT)"""
    t.withColumn("re", col("e0") + col("e1") + col("e2"))
      .withColumn("rl", col("l0") + col("l1") + col("l2"))
      .withColumn("n", col("re") + col("rl"))
      .withColumn("chi2_micro",
        when(col("re") === 0L || col("rl") === 0L, 0L).otherwise(expr(chi)))
      .withColumn("drifted", col("chi2_micro") > 5991000L)
      .select("source", "e0", "e1", "e2", "l0", "l1", "l2",
        "chi2_micro", "drifted")
      .orderBy("source")
  }

  val qSourceDriftSql: String = {
    def cell(o: String): String =
      s"""(CASE WHEN (e$o + l$o) = 0 THEN 0 ELSE
            (CAST(e$o AS HUGEINT)*n - CAST(re AS HUGEINT)*(e$o+l$o))
            * (CAST(e$o AS HUGEINT)*n - CAST(re AS HUGEINT)*(e$o+l$o)) * 1000000
            // (CAST(n AS HUGEINT) * re * (e$o+l$o)) END) +
          (CASE WHEN (e$o + l$o) = 0 THEN 0 ELSE
            (CAST(l$o AS HUGEINT)*n - CAST(rl AS HUGEINT)*(e$o+l$o))
            * (CAST(l$o AS HUGEINT)*n - CAST(rl AS HUGEINT)*(e$o+l$o)) * 1000000
            // (CAST(n AS HUGEINT) * rl * (e$o+l$o)) END)"""
    s"""WITH d AS (
        SELECT source, doc_id % 2 = 0 AS early,
          CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END AS b
        FROM documents),
      t AS (
        SELECT source,
          CAST(SUM(CASE WHEN early AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS e0,
          CAST(SUM(CASE WHEN early AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
          CAST(SUM(CASE WHEN early AND b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
          CAST(SUM(CASE WHEN NOT early AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS l0,
          CAST(SUM(CASE WHEN NOT early AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS l1,
          CAST(SUM(CASE WHEN NOT early AND b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS l2
        FROM d GROUP BY source),
      m AS (
        SELECT *, e0+e1+e2 AS re, l0+l1+l2 AS rl, e0+e1+e2+l0+l1+l2 AS n
        FROM t)
      SELECT source, e0, e1, e2, l0, l1, l2,
        CAST(CASE WHEN re = 0 OR rl = 0 THEN 0 ELSE
          ${cell("0")} + ${cell("1")} + ${cell("2")}
        END AS BIGINT) AS chi2_micro,
        (CASE WHEN re = 0 OR rl = 0 THEN 0 ELSE
          ${cell("0")} + ${cell("1")} + ${cell("2")}
        END) > 5991000 AS drifted
      FROM m ORDER BY source"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_source_drift", qSourceDrift, Oracle(qSourceDriftSql)),
    Query("q_contamination_matrix", qContaminationMatrix, Oracle(qContaminationMatrixSql)),
    Query("q_filter_ablation", qFilterAblation, Oracle(qFilterAblationSql)),
    Query("q_gopher_rules", qGopherRules, Oracle(qGopherRulesSql)),
    Query("q_c4_filters", qC4Filters, Oracle(qC4FiltersSql)),
    Query("q_dedup_paragraph", qDedupParagraph, Oracle(qDedupParagraphSql)),
    Query("q_ccnet_buckets", qCcnetBuckets, Oracle(qCcnetBucketsSql)),
    Query("q_dedup_cross_source", qDedupCrossSource, Oracle(qDedupCrossSourceSql)),
    Query("q_split_leakage", qSplitLeakage, Oracle(qSplitLeakageSql)),
    Query("q_data_card", qDataCard, Oracle(qDataCardSql)))
}
