package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 F (continued) — BPE tokenizer training (f24): the map-reduce
  * shape behind every production tokenizer (Sennrich et al. 2016 —
  * learn merges from corpus pair statistics). The 100 TB contract is
  * the classic one: pair counting runs over the DISTINCT-WORD table
  * weighted by word frequency (cost ∝ vocabulary, not corpus — the
  * corpus is scanned once ever, at word-count time), each merge step
  * is one bounded aggregation, and the driver holds only the argmax
  * pair per step (control-only loop, d6/e11's pattern).
  */
object Bpe {

  /** distinct words of the corpus with frequencies — the ONLY pass
    * over the raw text; everything downstream works on this
    * vocabulary-sized table. */
  private def wordFreq(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
      // the wrapped-token encode scheme (<a><b> → <ab>) and the
      // '<'-count token metric silently CORRUPT if a corpus word ever
      // carries the delimiter; fail loudly instead of miscounting.
      // Post-aggregation ⇒ one regex per DISTINCT word (vocabulary-
      // bounded), not per token.
      .withColumn("w",
        when(col("w").rlike("[<>]"),
          expr("raise_error('BPE delimiter collision: corpus word contains < or >')"))
          .otherwise(col("w")))

  // f24 — one BPE pair-count step on the initial character alphabet:
  // adjacent-symbol pair frequencies weighted by word frequency, the
  // statistic whose argmax IS the next merge rule. Map-only explode
  // over i∈[1, len), then ONE pair-keyed aggregation (map-side
  // combined; pair cardinality ≤ |alphabet|² keys). Top-20 presented
  // with a total (cnt DESC, a, b) order so the merge choice is
  // deterministic cross-engine.
  def qBpeStep(spark: SparkSession, dir: String): DataFrame = {
    val wf = wordFreq(spark, dir)
    wf.select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substr(w, i, 1)").as("a"),
        expr("substr(w, i + 1, 1)").as("b"), col("f"))
      .groupBy("a", "b").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(20)
  }

  val qBpeStepSql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      wf AS (SELECT w, COUNT(*) AS f FROM toks WHERE length(w) >= 2 GROUP BY w),
      pairs AS (SELECT substr(w, CAST(i AS INT), 1) AS a, substr(w, CAST(i AS INT) + 1, 1) AS b, f
        FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i)),
      pc AS (SELECT a, b, CAST(SUM(f) AS BIGINT) AS cnt FROM pairs GROUP BY a, b)
      SELECT a, b, cnt FROM pc ORDER BY cnt DESC, a, b LIMIT 20"""

  /** The full training loop: learn `nMerges` merge rules. State lives
    * distributed as (symbol-array, freq) rows; each iteration is
    *   (1) one pair-count aggregation,
    *   (2) a 1-ROW collect of the argmax pair (ties broken (a, b)
    *       lexicographically — same total order as qBpeStep),
    *   (3) a map-only greedy left-to-right merge fold (higher-order
    *       `aggregate`, no UDF) applying the rule to every word.
    * Only the winning pair ever reaches the driver; the symbol table
    * never does. localCheckpoint every 8 steps cuts the growing
    * lineage (e11's trainCentroids discipline). Returns the learned
    * rules in order.
    */
  def trainBpe(spark: SparkSession, dir: String, nMerges: Int): Seq[(String, String)] =
    trainBpeFrom(wordFreq(spark, dir).localCheckpoint(), nMerges)

  /** Train from an ALREADY-CHECKPOINTED word-frequency table — lets
    * the encode/tokenize queries share ONE corpus word-count scan
    * between training and their own vocab projection (round 13: each
    * previously called wordFreq twice — a redundant full corpus
    * scan+agg that was the steepest part of q_tokenize_corpus's 100×
    * slope). */
  private def trainBpeFrom(wf: DataFrame, nMerges: Int): Seq[(String, String)] = {
    // wf is checkpointed: the per-iteration lineage is a bounded map
    // over the vocabulary, never a corpus rescan
    var words = wf.select(expr("split(w, '')").as("syms"), col("f"))
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var step = 0
    while (step < nMerges) {
      val top = words
        .select(col("syms"), col("f"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("i"))
        .select(expr("element_at(syms, i)").as("a"),
          expr("element_at(syms, i + 1)").as("b"), col("f"))
        .groupBy("a", "b").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) { step = nMerges }
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        rules += ((a, b))
        // greedy left-to-right merge: exactly the BPE apply rule —
        // a fresh merge output never re-pairs with the symbol before
        // it in the same pass
        val esc = (s: String) => s.replace("\\", "\\\\").replace("'", "\\'")
        val merged = expr(
          s"""aggregate(syms, CAST(array() AS array<string>), (acc, x) ->
              CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${esc(a)}' AND x = '${esc(b)}'
                   THEN concat(slice(acc, 1, size(acc) - 1), array('${esc(a + b)}'))
                   ELSE concat(acc, array(x)) END)""")
        val next = words.select(merged.as("syms"), col("f"))
        words = (if ((step + 1) % 8 == 0) next.localCheckpoint() else next)
        step += 1
      }
    }
    rules.toSeq
  }

  /** Train → encode: the checkpointed vocabulary (w, f) and the
    * expression encoding its word `w` with the 8 rules [[trainBpeFrom]]
    * learns on it, as literal string replaces over the wrapped-token
    * form (see f41). Shared by f41, f42 and f45. */
  private def bpeEncoding(spark: SparkSession, dir: String): (DataFrame, Column) = {
    val wf = wordFreq(spark, dir).localCheckpoint()
    val rules = trainBpeFrom(wf, 8)
    val esc = (s: String) => s.replace("\\", "\\\\").replace("'", "\\'")
    val encExpr = rules.foldLeft("regexp_replace(w, '(.)', '<$1>')") {
      case (e, (a, b)) =>
        s"replace($e, '<${esc(a)}><${esc(b)}>', '<${esc(a + b)}>')"
    }
    (wf, expr(encExpr))
  }

  /** The vocabulary's BPE token count per word (w, w_tokens). */
  private def vocabTokens(spark: SparkSession, dir: String): DataFrame = {
    val (wf, enc) = bpeEncoding(spark, dir)
    wf.select(col("w"), enc.as("enc"))
      .select(col("w"),
        expr("CAST(length(enc) - length(replace(enc, '<', '')) AS BIGINT)").as("w_tokens"))
  }

  /** f41 — `q_bpe_encode`: the APPLY half of the tokenizer (f24/
    * trainBpe learn the merges; every training-data pipeline then
    * ENCODES the corpus with them — the token counts fed to f16's
    * packing and f40's epoch budgeting are this operator's output).
    * Train 8 merges with [[trainBpe]] (driver holds only the 8 rules),
    * then encode each vocabulary word by applying the rules in rank
    * order as literal string replaces over the WRAPPED-TOKEN form
    * (`hello` → `<h><e><l><l><o>`; merge (a,b) = replace
    * `<a><b>` → `<ab>`): a single replace pass is exhaustive AND
    * greedy left-to-right — a replacement never re-pairs with the
    * token before it, and no `<a><b>` can survive or be created by
    * its own rule — which is exactly trainBpe's aggregate-fold
    * semantics, now in a codegen'd expression chain with zero
    * lambdas. Cost ∝ VOCABULARY, not corpus (the corpus was scanned
    * once at word-count time). Oracle: DuckDB re-derives the same 8
    * rules as a generated 8-level CTE chain (pair-count → argmax →
    * replace per level, same (cnt DESC, a, b) tie order) — fully
    * independent training, so the driver check gates the whole
    * train→encode loop, not just the apply. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (wf, enc) = bpeEncoding(spark, dir)
    wf.select(col("w"), col("f"), enc.as("encoded"))
      .withColumn("n_tokens",
        expr("CAST(length(encoded) - length(replace(encoded, '<', '')) AS BIGINT)"))
      .withColumn("n_chars", length(col("w")).cast("long"))
      .orderBy(col("f").desc, col("w"))
      .limit(200)
  }

  val qBpeEncodeSql: String = {
    // level i: pair-count the wrapped corpus state, pick the argmax
    // rule, apply it — w8's string IS the encoding (each level's
    // replace is exhaustive, later rules see merged tokens).
    // Every level CTE is MATERIALIZED and referenced once (the rule
    // arrives as a 1-row cross join): with DuckDB's default CTE
    // inlining each w_i would be re-expanded per reference and the
    // 8-level chain explodes to 4^8 base scans (observed as an
    // fd-exhaustion crash); materialization keeps it linear.
    val levels = (0 until 8).map { i =>
      s"""p$i AS MATERIALIZED (
            SELECT t.a, t.b, CAST(SUM(t.f) AS BIGINT) AS cnt FROM (
              SELECT list_extract(tk, CAST(u.i AS INT)) AS a,
                     list_extract(tk, CAST(u.i AS INT) + 1) AS b, f
              FROM (SELECT string_split(substr(s, 2, length(s) - 2), '><') AS tk, f
                    FROM w$i) q,
                   unnest(generate_series(1, len(q.tk) - 1)) AS u(i)) t
            GROUP BY t.a, t.b),
          r$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
          w${i + 1} AS MATERIALIZED (
            SELECT w, f, replace(s, '<' || r.a || '><' || r.b || '>',
              '<' || r.a || r.b || '>') AS s
            FROM w$i, r$i r)"""
    }.mkString(",\n")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        wf AS (SELECT w, COUNT(*) AS f FROM toks WHERE length(w) >= 2 GROUP BY w),
        w0 AS MATERIALIZED (
          SELECT w, f, regexp_replace(w, '(.)', '<\\1>', 'g') AS s FROM wf),
        $levels
      SELECT w, f, s AS encoded,
        CAST(length(s) - length(replace(s, '<', '')) AS BIGINT) AS n_tokens,
        CAST(length(w) AS BIGINT) AS n_chars
      FROM w8 ORDER BY f DESC, w LIMIT 200"""
  }

  /** f42 — `q_tokenize_corpus`: corpus-wide BPE token accounting, the
    * production data flow (tokenize the VOCABULARY once — f41 — then
    * corpus tokenization is a broadcast JOIN against the word→tokens
    * table, never a per-document re-encode): per document its BPE
    * token count, whitespace token count and kept-char count, plus
    * the per-doc compression ratio in integer micro-units. This is
    * the number f16's sequence packing and f40's epoch budgeting
    * actually consume. Plan: the corpus explodes to words ONCE (f3's
    * scan), the ≤|vocab| encoded table broadcasts onto it, one
    * doc-keyed re-aggregation — at 100 TB the vocab table is the
    * only thing the 8-rule training ever re-touches. Words shorter
    * than 2 chars are untokenized passthroughs (1 token each),
    * mirroring wordFreq's training filter. */
  def qTokenizeCorpus(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabTokens(spark, dir)
    val words = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ws_tokens"),
        sum(coalesce(col("w_tokens"), lit(1L))).as("bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      // NULLIF: a doc of only empty split tokens has n_chars = 0 —
      // Spark's div would NULL, DuckDB's // would error; align on NULL
      .withColumn("compression_micro",
        expr("bpe_tokens * 1000000 div NULLIF(n_chars, 0)"))
      .orderBy("doc_id")
  }

  /** f45 — `q_tokenizer_fertility`: the per-LANGUAGE tokenizer-eval
    * readout (fertility — BPE tokens per word — is the standard
    * public metric for how well a tokenizer fits each language of a
    * multilingual corpus; a high-fertility language pays more sequence
    * length per sentence, the readout that drives vocab re-training or
    * f39-style mix re-weighting): f42's vocab-join tokenization rolled
    * up by `lang` — words, BPE tokens, chars, fertility and
    * chars-per-token in integer micro-units. Same plan economics as
    * f42 (train once, ONE corpus explode, broadcast vocab join) with a
    * language-bounded final agg instead of the per-doc one. */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabTokens(spark, dir)
    val words = Tables(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("w_tokens"), lit(1L))).as("bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .withColumn("fertility_micro",
        expr("bpe_tokens * 1000000 div NULLIF(n_words, 0)"))
      .withColumn("chars_per_token_micro",
        expr("n_chars * 1000000 div NULLIF(bpe_tokens, 0)"))
      .select("lang", "n_words", "bpe_tokens", "n_chars",
        "fertility_micro", "chars_per_token_micro")
      .orderBy("lang")
  }

  val qTokenizerFertilitySql: String = {
    val idx = qBpeEncodeSql.indexOf("SELECT w, f, s AS encoded")
    val ctes = qBpeEncodeSql.substring(0, idx).trim.stripSuffix(",")
    s"""$ctes,
        vocab AS MATERIALIZED (
          SELECT w, CAST(length(s) - length(replace(s, '<', '')) AS BIGINT) AS w_tokens
          FROM w8),
        words AS (
          SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      SELECT lang, COUNT(*) AS n_words,
        CAST(SUM(COALESCE(v.w_tokens, 1)) AS BIGINT) AS bpe_tokens,
        CAST(SUM(length(words.w)) AS BIGINT) AS n_chars,
        CAST(SUM(COALESCE(v.w_tokens, 1)) * 1000000
          // NULLIF(COUNT(*), 0) AS BIGINT) AS fertility_micro,
        CAST(SUM(length(words.w)) * 1000000
          // NULLIF(CAST(SUM(COALESCE(v.w_tokens, 1)) AS BIGINT), 0) AS BIGINT) AS chars_per_token_micro
      FROM words LEFT JOIN vocab v ON v.w = words.w
      GROUP BY lang ORDER BY lang"""
  }

  val qTokenizeCorpusSql: String = {
    val idx = qBpeEncodeSql.indexOf("SELECT w, f, s AS encoded")
    val ctes = qBpeEncodeSql.substring(0, idx).trim.stripSuffix(",")
    s"""$ctes,
        vocab AS MATERIALIZED (
          SELECT w, CAST(length(s) - length(replace(s, '<', '')) AS BIGINT) AS w_tokens
          FROM w8),
        words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      SELECT doc_id, COUNT(*) AS ws_tokens,
        CAST(SUM(COALESCE(v.w_tokens, 1)) AS BIGINT) AS bpe_tokens,
        CAST(SUM(length(words.w)) AS BIGINT) AS n_chars,
        CAST(SUM(COALESCE(v.w_tokens, 1)) * 1000000
          // NULLIF(CAST(SUM(length(words.w)) AS BIGINT), 0) AS BIGINT) AS compression_micro
      FROM words LEFT JOIN vocab v ON v.w = words.w
      GROUP BY doc_id ORDER BY doc_id"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_bpe_step", qBpeStep, Oracle(qBpeStepSql)),
    Query("q_bpe_encode", qBpeEncode, Oracle(qBpeEncodeSql)),
    Query("q_tokenize_corpus", qTokenizeCorpus, Oracle(qTokenizeCorpusSql)),
    Query("q_tokenizer_fertility", qTokenizerFertility, Oracle(qTokenizerFertilitySql)))
}
