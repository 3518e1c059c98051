package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}
import graft.functions.TextFns._

/** §2 D — deduplication over `documents` / `embeddings`.
  *
  * Scale shape: every variant is linear-plus-one-shuffle. MinHash/LSH
  * and SimHash avoid the O(n²) pair join by shuffling once on band/
  * bucket keys and only verifying candidate pairs; the same pattern
  * carries the embedding near-dup. At 100 TB the band join is the only
  * wide stage and its key space (band, bkey) is uniform by
  * construction (md5), so no skew salting is needed.
  *
  * Nothing is kept between calls: a query checkpoints the
  * intermediates its plan reads more than once (shingle sets, pair
  * graph, CC labels) and passes them on as values, so every call reads
  * the files under `dir` as they are then.
  */
object Dedup {

  /** d1 — exact dedup: group by md5(normalized text), keep min doc_id. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), md5(expr(normSpark)).as("content_key"))
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
      .orderBy("content_key")
  }

  val qDedupExactSql: String =
    s"""SELECT md5($normDuck) AS content_key, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
      FROM documents GROUP BY 1 ORDER BY content_key"""

  /** d2 — MinHash+LSH near-dup: 3-gram shingles → 8 minhashes → 4
    * bands of 2 → band-bucket join → verified shingle-Jaccard ≥ 0.2.
    *
    * The signature is computed by exploding shingles and taking 8
    * min-aggregates: md5 + MIN are whole-stage-codegen'd with map-side
    * partial aggregation, an order of magnitude faster than the
    * equivalent interpreted array-lambda fold (and the shuffle it adds
    * is on doc_id, which partial aggs shrink to one row per doc per
    * partition). The 8 minhashes are 4-hex-digit SLICES of ONE md5
    * per shingle (own projection so it isn't inlined 8×) — candidate
    * quality is LSH-grade either way and the exact-Jaccard verify
    * step decides membership, so hashing once instead of 8× is pure
    * savings. */
  /** distinct 3-gram shingle sets per doc — the shared input of the
    * MinHash family (d2 pairs and the f15 fuzzy-decontamination
    * screen both verify against it). Fanned out so the one-row-group
    * scan parallelizes; checkpointed because each consumer references
    * it several times (band sides + verify sides) and Catalyst does
    * not share non-exchange subplans across self-join branches — at
    * 100 TB you'd persist the shingle table for the same reason. */
  private[graft] def shingleSets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    Tables.fanout(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), expr(shSpark).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true)
  }

  /** 8-minhash signature per doc (4-hex-digit slices of ONE md5 per
    * shingle — see [[qDedupMinhash]] for why slicing one hash is
    * LSH-grade): columns doc_id, h0..h7. Consumers band these as
    * their recall/cost point dictates (d2: 4 bands × 2; f15: 8 × 1). */
  private[graft] def minhashSig(sh: DataFrame): DataFrame = {
    val hashed = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), md5(col("s")).as("h"))
    // r16 optimization: min over a 4-hex-char STRING slice carries an
    // immutable agg buffer, and 8 of them demoted this aggregate — the
    // shared signature stage of the ENTIRE MinHash family, running over
    // the exploded shingle stream, the largest intermediate in dedup —
    // to SortAggregate + a full sort of that stream. A fixed-width
    // lowercase-hex min is ORDER-ISOMORPHIC to the integer min of its
    // value ('0'<'9'<'a'<'f' and equal width ⇒ lexicographic ≡ numeric),
    // so aggregate the 16-bit int (mutable buffer ⇒ HashAggregate with
    // map-side partials) and decode back to the identical string once
    // per group: lpad(lower(hex(min))) inverts conv(·,16,10) exactly on
    // this domain. Band keys, index rows and oracle values unchanged.
    val mins = (0 until 8).map(k =>
      lpad(lower(hex(min(expr(
        s"CAST(conv(substr(h, ${4 * k + 1}, 4), 16, 10) AS INT)")))), 4, "0").as(s"h$k"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Parametric LSH banding of the 8-minhash signature: b bands of r
    * rows (b·r = 8), band key = md5 of the band's concatenated
    * minhashes. d28's tuned pipeline, the d10/i7 signature index and
    * the 4×2 shorthand below all band through HERE — one banding
    * implementation means the planner's choice and the persisted
    * index can never drift apart. */
  private[graft] def minhashBands(sig: DataFrame, r: Int, b: Int): DataFrame =
    sig.select(col("doc_id"), explode(array((0 until b).map { bi =>
        struct(lit(bi).as("b"),
          md5(concat((0 until r).map(k => col(s"h${bi * r + k}")): _*)).as("bkey"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bkey").as("bkey"))

  /** d2's 4-bands-of-2 LSH blocking keys (the precision/recall point
    * tuned for pair DEDUP; f15 uses 8×1 for recall instead) — the
    * point [[tunedBanding]] derives from first principles. */
  private[graft] def minhashBands4x2(sig: DataFrame): DataFrame =
    minhashBands(sig, 2, 4)

  @volatile private var tunedCache: Option[(Int, Int)] = None

  /** d28's closed-form VERIFY-WEIGHTED band planner as a reusable
    * decision: argmin over the b·r = 8 factorizations of
    * cost = 4·fp + fn on the S-curve at the verify threshold
    * (t = 0.2), ties to smaller r. Pure arithmetic over a 4×39
    * literal grid — no table scan — so the result is data-independent
    * and cached for the JVM (the index build and the served screen
    * both consult it; it is a planner constant, not derived from any
    * corpus, so it can never go stale). Lands on (2, 4),
    * d2's shipped config — see [[qDedupTuned]] for why the verify
    * weight is what kills the candidate-exploding (1, 8) pick. */
  private[graft] def tunedBanding(spark: SparkSession): (Int, Int) = {
    tunedCache.getOrElse {
      val configs = spark.range(0, 4)
        .select(expr("shiftleft(1, CAST(id AS INT))").cast("int").as("r"),
          expr("shiftleft(1, 3 - CAST(id AS INT))").cast("int").as("b"))
      val grid = spark.range(1, 40).select(col("id").cast("int").as("j"))
      var cost = configs.crossJoin(broadcast(grid))
        .withColumn("s", expr("CAST(j AS DOUBLE) / 40.0"))
      (sChainS ++ Seq(s"1.0 - ($srS) AS q") ++ qChainS).foreach { stage =>
        val Array(e, n) = stage.split(" AS ")
        cost = cost.withColumn(n, expr(e))
      }
      val costT = cost.withColumn("p_micro", expr(pMicroS))
        .groupBy("r", "b")
        .agg((sum(expr("CASE WHEN j < 8 THEN 4 * p_micro ELSE 0 END"))
          + sum(expr("CASE WHEN j >= 8 THEN 1000000 - p_micro ELSE 0 END"))).as("cost_micro"))
      val bestRow = costT.orderBy(col("cost_micro"), col("r")).limit(1)
        .select("r", "b").head() // 1-row control-plane argmin
      val rb = (bestRow.getInt(0), bestRow.getInt(1))
      tunedCache = Some(rb)
      rb
    }
  }

  /** Verified MinHash near-dup pairs (doc_a, doc_b, jaccard), unordered
    * — the pair graph of the d-family. Checkpointed eagerly because its
    * consumers read it several times (both edge directions, every CC
    * round). It is built from the caller's shingle sets, so a query
    * that needs both binds [[shingleSets]] once and passes it here:
    * each intermediate is built once per query, from the files under
    * `dir` as they are at that call. */
  private[graft] def minhashPairs(sh: DataFrame): DataFrame = {
    val bands = minhashBands4x2(minhashSig(sh))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val withSets = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", expr("size(filter(sh_a, x -> array_contains(sh_b, x)))"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
    withSets.filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint(true)
  }

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(shingleSets(spark, dir)).orderBy("doc_a", "doc_b")

  val qDedupMinhashSql: String =
    s"""WITH s AS (
        SELECT doc_id, $shDuck AS sh FROM documents),
      sh AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      hs AS (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hl FROM sh),
      sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 7),
        k -> list_min(list_transform(hl, h -> substr(h, CAST(4 * k + 1 AS INT), 4)))) AS mh FROM hs),
      bx AS (SELECT doc_id, mh, unnest(generate_series(0, 3)) AS b FROM sig),
      bands AS (SELECT doc_id, b, md5(mh[2 * b + 1] || mh[2 * b + 2]) AS bkey FROM bx),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      ver AS (
        SELECT doc_a, doc_b,
          round(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 6) AS jaccard
        FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
      SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.2
      ORDER BY doc_a, doc_b"""

  /** d3 — SimHash: 16-bit signature from per-token md5 hex-digit
    * parities (bit-majority), integer-exact in both engines. The
    * 16-bit signature is exactly chunk c0 of the 64-bit signature
    * (same digits, same parity, same majority), so it reuses the
    * map-only native [[graft.functions.SimHash64]] expression — the
    * oracle keeps the explicit 16-lambda-fold formulation, proving the
    * equivalence every run. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"),
        expr("graft_simhash64(split(text, ' '))")(0).as("simhash"))
      .orderBy("doc_id")
  }

  val qDedupSimhashSql: String = {
    val bits = (0 until 16).map { j =>
      s"""(CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
            (((strpos('0123456789abcdef', substr(md5(t), ${j + 1}, 1)) - 1) % 2) * 2 - 1))) > 0
          THEN ${1 << j} ELSE 0 END)"""
    }.mkString(" + ")
    s"SELECT doc_id, CAST(($bits) AS INT) AS simhash FROM documents ORDER BY doc_id"
  }

  /** d3b — SimHash collision groups: documents sharing an identical
    * 16-bit signature are near-dup candidates (hamming-0 band of the
    * signature space); one shuffle on the signature. */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    qDedupSimhash(spark, dir)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .filter(col("n_docs") > 1)
      .orderBy("simhash")

  val qSimhashPairsSql: String = {
    val inner = qDedupSimhashSql.stripSuffix(" ORDER BY doc_id")
    s"""SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
       FROM ($inner) s GROUP BY simhash HAVING COUNT(*) > 1
       ORDER BY simhash"""
  }

  /** 64-bit simhash signature carried as 4 × 16-bit integer chunks
    * (c0..c3). Bit j (j < 32) is the parity of hex digit j of md5(t);
    * bits 32..63 use md5("x:" || t) for 32 more independent digits.
    * Carrying the signature as four small non-negative INTs keeps the
    * arithmetic integer-exact and sign-safe in BOTH engines (a single
    * BIGINT with bit 63 set would go negative) and the chunks double
    * as the multi-index block keys. Computed by the native
    * [[graft.functions.SimHash64]] expression: one map-side pass per
    * document (distinct-token counts, two digests per token, weighted
    * bit majority) — the previous explode + 64-column projection +
    * 64-partial-agg formulation paid two shuffles and a heavy codegen
    * unit for what is a pure per-row computation. */
  private[graft] def simhash64(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), expr("graft_simhash64(split(text, ' '))").as("ch"))
      .select(col("doc_id"),
        col("ch")(0).as("c0"), col("ch")(1).as("c1"),
        col("ch")(2).as("c2"), col("ch")(3).as("c3"))
  }

  /** d3c — multi-index Hamming near-dup over the 64-bit simhash:
    * pairs within distance ≤ 3 must agree exactly on at least one of
    * the 4 16-bit chunks (pigeonhole), so blocking on (chunk_idx,
    * chunk_value) finds ALL such pairs with one shuffle instead of an
    * O(n²) scan — the standard multi-index approach for Hamming ANN.
    * The block key space is 4 × 65,536 (vs 64 for the 16-bit toy
    * version), so the candidate join stays near-linear at scale.
    * Verified with summed per-chunk bit_count(xor). */
  def qSimhashNear(spark: SparkSession, dir: String): DataFrame = {
    // signature table computed once (64 md5-parity sums per doc), then
    // self-joined — see qDedupMinhash for why this is materialized
    val sig = simhash64(spark, dir).localCheckpoint(false)
    // filter on hamming BEFORE the pair-dedup: bit_count is a cheap
    // codegen'd op, and it shrinks the distinct's shuffle from every
    // blocked pair down to only the near-duplicates
    hammingPairs(sig).distinct().orderBy("doc_a", "doc_b")
  }

  /** The pigeonhole block join over 4 16-bit chunks (d3c, g8, g11):
    * the (doc_a < doc_b, hamming) pairs of a (doc_id, c0..c3) frame
    * within Hamming distance 3. Such a pair agrees exactly on at least
    * one chunk, so blocking on (chunk_idx, chunk_value) finds ALL of
    * them with one shuffle; a pair agreeing on several chunks appears
    * once per chunk, and the caller dedups or aggregates. */
  private[graft] def hammingPairs(sig: DataFrame): DataFrame = {
    val blocks = sig.withColumn("idx", explode(sequence(lit(0), lit(3))))
      .withColumn("chunk",
        element_at(array(col("c0"), col("c1"), col("c2"), col("c3")), col("idx") + 1))
      .select("doc_id", "idx", "chunk", "c0", "c1", "c2", "c3")
    blocks.as("x").join(blocks.as("y"),
        col("x.idx") === col("y.idx") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.c0 ^ y.c0) + bit_count(x.c1 ^ y.c1) + " +
          "bit_count(x.c2 ^ y.c2) + bit_count(x.c3 ^ y.c3)").cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** DuckDB twin of [[simhash64]]: doc_id, c0..c3. */
  private def simhash64Sql: String = {
    val sums = (0 until 64).map { j =>
      val src = if (j < 32) "p1" else "p2"
      val pos = (j % 32) + 1
      s"SUM(CASE WHEN substr($src, $pos, 1) = '1' THEN cnt ELSE -cnt END) AS s$j"
    }.mkString(", ")
    val chunks = (0 until 4).map { k =>
      val bits = (0 until 16)
        .map(b => s"(CASE WHEN s${16 * k + b} > 0 THEN ${1 << b} ELSE 0 END)")
        .mkString(" + ")
      s"CAST(($bits) AS INT) AS c$k"
    }.mkString(", ")
    s"""toks AS (
        SELECT doc_id, t, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
        GROUP BY doc_id, t),
      hashed AS (SELECT doc_id, cnt,
        translate(md5(t), '0123456789abcdef', '0101010101010101') AS p1,
        translate(md5('x:' || t), '0123456789abcdef', '0101010101010101') AS p2
        FROM toks),
      sums AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id),
      sig AS (SELECT doc_id, $chunks FROM sums)"""
  }

  val qSimhashNearSql: String = {
    val ham = "bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1)) + " +
      "bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3))"
    s"""WITH $simhash64Sql,
      blocks AS (
        SELECT doc_id, c0, c1, c2, c3, idx,
          CASE idx WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS chunk
        FROM (SELECT doc_id, c0, c1, c2, c3, unnest(generate_series(0, 3)) AS idx FROM sig) b),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST($ham AS INT) AS hamming
        FROM blocks x JOIN blocks y
          ON x.idx = y.idx AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        WHERE $ham <= 3)
      SELECT doc_a, doc_b, hamming FROM cand ORDER BY doc_a, doc_b"""
  }

  /** df cap for the shingle inverted index: a shingle shared by df
    * documents contributes O(df²) candidate pairs, so one boilerplate
    * shingle in 1M docs is a 10¹²-pair hot key. Shingles with df >
    * this cap are treated as boilerplate and excluded from the
    * similarity vocabulary entirely (index, shared counts, AND set
    * sizes — so the Jaccard stays internally consistent). */
  val ngramDfCap = 50

  /** d4 — n-gram Jaccard similarity via shingle inverted index (no
    * band approximation — exact pairs sharing ≥ 6 non-boilerplate
    * shingles, then Jaccard ≥ 0.2 over the df-capped vocabulary).
    * The shared-shingle pre-join bounds the pair space the same way
    * the LSH bands do, and the df cap bounds every posting list.
    *
    * Pair generation goes through per-shingle POSTING ARRAYS rather
    * than an index self-join: one aggregation shuffles each index row
    * once into a sorted ≤cap-length posting list, and the O(df²) pair
    * blow-up happens map-side AFTER that shuffle (one native
    * graft_pairs pass + inline) — the self-join shape shuffled the
    * full index twice and materialized every candidate row through
    * the join before the pair aggregation could shrink it. */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramStages(spark, dir).last._2

  /** The d4 pipeline cut at its stage boundaries; the last entry is
    * the full query. */
  private[graft] def ngramStages(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val d = Tables(spark, dir, "documents")
    // fan the narrow scan out BEFORE the shingle pass so the md5-heavy
    // sid computation uses every core (no-op on a real multi-split
    // scan); the exchange is reused by both consumers of `src`
    val src = Tables.fanout(d.select(col("doc_id"), col("text")))
    // ONE fused native pass per document: distinct 3-gram shingles
    // mapped straight to 60-bit md5-derived integer ids (the index
    // shuffles 8-byte keys instead of ~25-char strings; both engines
    // derive the id from the same md5 prefix, so even a collision
    // (≈n²/2⁶¹) yields identical results on both oracle sides)
    val sids = src.select(col("doc_id"),
      expr(s"graft_shingle_sids($toksSpark)").as("sids"))
    val inv0 = sids.select(col("doc_id"), explode(col("sids")).as("sid"))
    // ONE aggregation builds the posting lists AND witnesses the df
    // cap: graft_capped_list stops collecting at cap+1 elements, so a
    // length ≤ cap list is the COMPLETE posting set while cap+1 marks
    // "boilerplate shingle, drop" — without ever materializing the
    // full posting list of a hot shingle (bounded memory at 100 TB,
    // and the separate df-count pass + anti-join of the index are
    // gone). The explicit hash repartition pins the shuffle at the
    // session's parallelism: the pair stage downstream amplifies CPU
    // quadratically in df (C(df,2) pairs per posting row), so AQE's
    // byte-based coalescing — which sees only a few MB of posting
    // lists — would serialize exactly the hottest loop.
    val parts = spark.sessionState.conf.numShufflePartitions
    val postingAll = inv0.repartition(parts, col("sid")).groupBy("sid")
      .agg(expr(s"graft_capped_list(doc_id, ${ngramDfCap + 1})").as("ds"))
    val posting = postingAll
      .filter(size(col("ds")).between(1, ngramDfCap))
    val drop = postingAll.filter(size(col("ds")) === ngramDfCap + 1).select("sid")
    // ONE Generate + ONE aggregation computes BOTH halves of the
    // verification arithmetic: each kept posting row emits its C(df,2)
    // packed pairs (a << 32 | b after the in-helper sort, so ≥ 0) and
    // one negative `-(doc+1)` record per member doc; the single
    // groupBy then yields pair co-occurrence counts (`shared`) AND
    // per-doc kept-vocabulary sizes (how many kept posting lists
    // contain the doc = the doc's kept-sid count) from the same
    // shuffle. The pair/size split otherwise costs two reduce passes
    // over the posting exchange plus a second documents pass for
    // sizes. Packing keys the aggregation on one primitive long —
    // half the shuffle key bytes, one murmur per row.
    val recs = posting
      .select(explode(expr("graft_posting_records(ds)")).as("p"))
      .groupBy("p")
      .agg(count(lit(1)).as("cnt"))
    val cand = recs
      .filter(col("p") >= 0 && col("cnt") >= 6)
      .select(shiftrightunsigned(col("p"), 32).as("doc_a"),
        (col("p").bitwiseAND(lit(0xffffffffL))).as("doc_b"),
        col("cnt").as("shared"))
    val sizes = recs.filter(col("p") < 0)
      .select((-col("p") - 1).as("doc_id"), col("cnt").as("n"))
    // the surviving pairs are few and sizes is one compact row per doc:
    // broadcast the size table so the verify join never shuffles — the
    // SAME broadcast serves both sides (identical child plan ⇒ the
    // exchange is built once and reused)
    val bsz = broadcast(sizes)
    val full = cand
      .join(bsz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(bsz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "shared", "jaccard")
      .orderBy("doc_a", "doc_b")
    Seq("inv0" -> inv0, "drop" -> drop, "sizes" -> sizes,
      "posting" -> posting, "cand" -> cand, "full" -> full)
  }

  val qNgramJaccardSql: String =
    s"""WITH s AS (SELECT doc_id, $shDuck AS sh FROM documents),
      inv0 AS (
        SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sid
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM s) u),
      keep AS (SELECT sid FROM inv0 GROUP BY sid HAVING COUNT(*) <= $ngramDfCap),
      inv AS (SELECT doc_id, sid FROM inv0 JOIN keep USING (sid)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      cand AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
        FROM inv x JOIN inv y ON x.sid = y.sid AND x.doc_id < y.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 6)
      SELECT doc_a, doc_b, shared,
        round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.2
      ORDER BY doc_a, doc_b"""

  /** d13 — CONTAINMENT-based near-dup detection: the case Jaccard
    * structurally misses. When a short document is quoted wholesale
    * inside a much longer one (boilerplate expansion, quote-farms,
    * "article + appended comments"), the intersection is nearly all
    * of the SHORT doc but a small fraction of the union — Jaccard
    * stays low, MinHash bands rarely agree, yet for training-data
    * purposes the pair IS a duplicate (the short doc adds nothing).
    * Detection keys on containment C = |A∩B| / min(|A|, |B|) ≥ 0.8
    * instead. The candidate machinery is d4's, unchanged and shared:
    * df-capped posting lists → packed pair records → one aggregation
    * yielding shared counts and per-doc kept-vocabulary sizes from
    * the same shuffle; only the verification arithmetic differs, and
    * the threshold is CROSS-MULTIPLIED (shared·10 ≥ min(na,nb)·8 —
    * pure integer compare, no division in the predicate; the one
    * IEEE division producing the reported ratio happens on survivor
    * rows only). Same 100 TB shape as d4: every candidate bounded by
    * the df cap, nothing quadratic in corpus size. */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val st = ngramStages(spark, dir).toMap
    val bsz = broadcast(st("sizes"))
    st("cand")
      .join(bsz.as("ka"), col("doc_a") === col("ka.doc_id"))
      .join(bsz.as("kb"), col("doc_b") === col("kb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("ka.n").as("na"), col("kb.n").as("nb"))
      .filter(col("shared") * 10 >= least(col("na"), col("nb")) * 8)
      .withColumn("containment",
        round(col("shared").cast("double") / least(col("na"), col("nb")), 6))
      .select("doc_a", "doc_b", "shared", "na", "nb", "containment")
      .orderBy("doc_a", "doc_b")
  }

  val qDedupContainmentSql: String =
    s"""WITH s AS (SELECT doc_id, $shDuck AS sh FROM documents),
      inv0 AS (
        SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sid
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM s) u),
      keep AS (SELECT sid FROM inv0 GROUP BY sid HAVING COUNT(*) <= $ngramDfCap),
      inv AS (SELECT doc_id, sid FROM inv0 JOIN keep USING (sid)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      cand AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
        FROM inv x JOIN inv y ON x.sid = y.sid AND x.doc_id < y.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 6)
      SELECT doc_a, doc_b, shared, sa.n AS na, sb.n AS nb,
        round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE shared * 10 >= least(sa.n, sb.n) * 8
      ORDER BY doc_a, doc_b"""

  /** Band buckets larger than this refine their join key with the
    * NEXT band's 8 bits before pairing. Real embedding corpora are
    * CLUSTERED — a dense region shares sign patterns on many
    * hyperplanes, so without a cap one band bucket holds a large
    * slice of a cluster and the candidate self-join goes O(bucket²)
    * exactly where the data is thickest (measured: 18× cost for 10×
    * rows on a 10-cluster corpus). Refinement keeps true near-dups
    * (cosine ≈ 1 agrees on the extra band w.p. ≈ 1) while cutting
    * sub-threshold cluster pairs by the extra band's selectivity.
    * At 100 TB the refinement would recurse (idx+2, …) until buckets
    * fit; one level suffices for the tested regimes. */
  private[graft] val embBucketCap = 64L

  /** Candidate near-dup pairs for an embeddings-shaped DataFrame
    * (vec_id, embedding) via the banded 64-bit hyperplane signature
    * (see Ann.bandSpark): pairs agreeing on all 8 bits of SOME of the
    * 8 bands — and, in buckets over [[embBucketCap]], also on the
    * following band (adaptive key widening, the dense-region guard).
    * One shuffle on the bucket key — per-band key space 256, widened
    * to 65,536 where hot, so the candidate join stays the linear
    * multi-index shape of the fixed simhash d3c even on clustered
    * corpora. The bucket-size census is ≤ 8×256 rows and broadcasts;
    * DISTINCT runs on the narrow (vec_a, vec_b) pairs BEFORE the
    * embedding re-join, so multi-band duplicates never shuffle
    * vectors. Factored out so the spec can drive planted-pair recall
    * checks through the identical plan. */
  private[graft] def embCandidates(e: DataFrame): DataFrame = {
    // whole signature in one native-expression pass (each element read
    // and quantized once for all 64 planes), posexploded to (band idx,
    // band key) block rows that KEEP the signature array (8 ints) so
    // hot buckets can widen their key without a second pass over the
    // vectors; checkpointed because the joins below read it thrice
    val blocks = e
      .select(col("vec_id"), expr("graft_hyperband(embedding)").as("sig"))
      .select(col("vec_id"), col("sig"),
        posexplode(col("sig")).as(Seq("idx", "bval")))
      .localCheckpoint(false)
    // bucket census: at most bands × 2^bits = 2,048 keys — broadcast
    val hot = blocks.groupBy("idx", "bval").agg(count(lit(1)).as("n"))
      .filter(col("n") > embBucketCap).select("idx", "bval")
    val cold = blocks.join(broadcast(hot), Seq("idx", "bval"), "left_anti")
      .select("idx", "bval", "vec_id")
    val coldPairs = cold.as("x").join(cold.as("y"),
        col("x.idx") === col("y.idx") && col("x.bval") === col("y.bval") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    // hot buckets: widen the key with the NEXT band's value (cyclic)
    val refined = blocks.join(broadcast(hot), Seq("idx", "bval"))
      .withColumn("bval2", element_at(col("sig"),
        (pmod(col("idx") + 1, lit(graft.operators.Ann.embBands)) + 1).cast("int")))
      .select("idx", "bval", "bval2", "vec_id")
    val hotPairs = refined.as("x").join(refined.as("y"),
        col("x.idx") === col("y.idx") && col("x.bval") === col("y.bval") &&
          col("x.bval2") === col("y.bval2") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    coldPairs.union(hotPairs).distinct()
  }

  /** d5 — embedding-cosine near-dup: banded hyperplane-LSH blocking
    * (64 md5-derived integer hyperplanes, 8 bands × 8 bits) then
    * exact cosine ≥ 0.45 on the candidates. The verify step decides
    * membership, so banding only governs recall/cost — measured at
    * sf0.01 it yields 29× fewer candidate pairs than exhaustive while
    * finding 3.5× the pairs the old 4-bit bucket did. */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    val emb = e.localCheckpoint(false)
    embCandidates(emb)
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        expr(Ann.cosineSpark("ea", "eb")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.45)
      .orderBy("vec_a", "vec_b")
  }

  val qDedupEmbeddingSql: String = {
    val bands = (0 until Ann.embBands).map(b => s"${Ann.bandDuck(b)} AS b$b").mkString(",\n        ")
    def bandCase(sel: String) = {
      val arms = (0 until Ann.embBands - 1).map(b => s"WHEN $b THEN b$b").mkString(" ")
      s"CASE $sel $arms ELSE b${Ann.embBands - 1} END"
    }
    s"""WITH sig AS (SELECT vec_id, embedding,
        $bands
        FROM embeddings),
      blocks AS (
        SELECT vec_id, idx, ${bandCase("idx")} AS bval,
          ${bandCase(s"((idx + 1) % ${Ann.embBands})")} AS bval2
        FROM (SELECT *, unnest(generate_series(0, ${Ann.embBands - 1})) AS idx FROM sig) s),
      hot AS (
        SELECT idx, bval FROM blocks GROUP BY idx, bval HAVING count(*) > $embBucketCap),
      cold AS (
        SELECT b.* FROM blocks b WHERE NOT EXISTS (
          SELECT 1 FROM hot h WHERE h.idx = b.idx AND h.bval = b.bval)),
      hotb AS (
        SELECT b.* FROM blocks b WHERE EXISTS (
          SELECT 1 FROM hot h WHERE h.idx = b.idx AND h.bval = b.bval)),
      cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM cold x JOIN cold y
            ON x.idx = y.idx AND x.bval = y.bval AND x.vec_id < y.vec_id
          UNION ALL
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM hotb x JOIN hotb y
            ON x.idx = y.idx AND x.bval = y.bval AND x.bval2 = y.bval2
              AND x.vec_id < y.vec_id) u)
      SELECT vec_a, vec_b, ${Ann.cosineDuck("ex.embedding", "ey.embedding")} AS cos_sim
      FROM cand JOIN embeddings ex ON ex.vec_id = vec_a
        JOIN embeddings ey ON ey.vec_id = vec_b
      WHERE ${Ann.cosineDuck("ex.embedding", "ey.embedding")} >= 0.45
      ORDER BY vec_a, vec_b"""
  }

  /** d6 — near-dup connected components: LSH pairs only say "a≈b";
    * real corpus dedup must group transitively (a≈b, b≈c ⇒ one
    * cluster, keep one canonical doc). Pregel-style min-label
    * propagation over the verified MinHash pair graph: every node
    * starts as its own label, each round adopts the min label among
    * itself and its neighbors, convergence in O(component diameter)
    * rounds — the standard distributed CC (each round = one join +
    * one partial-agg shuffle; localCheckpoint breaks the growing
    * lineage exactly as an iterative production job would persist
    * between rounds). Driver-side logic is loop CONTROL only (a
    * per-round convergence count), never data; the loop is
    * [[propagate]], the one kernel d19 runs too. Oracle: DuckDB
    * recursive CTE reaching the same fixpoint. */
  def qDedupCc(spark: SparkSession, dir: String): DataFrame =
    ccOver(minhashPairs(shingleSets(spark, dir)))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"), max("id").as("max_doc"))
      .orderBy("component")

  /** Symmetric edge set (src, dst) of a (doc_a, doc_b) pair frame,
    * pre-partitioned on the per-round join key so the checkpointed
    * LogicalRDD carries HashPartitioning(dst) and every round's message
    * join reuses it instead of re-shuffling the (at scale, huge) edge
    * table — only the tiny label side moves. Shared by d6 and d19. */
  private[graft] def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select("doc_a", "doc_b")
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .repartition(col("dst"))
      .localCheckpoint(false)

  /** d6's min-label propagation over a (doc_a, doc_b) pair frame —
    * the per-doc labels; only docs appearing in at least one pair are
    * labelled. Shared by the cold pass (d6 and its consumers) and the
    * standing-side seed of the incremental pass (d19). The seed fuses
    * round 1 into one agg: label0(id) = min(id, min neighbor).
    * groupBy(dst) matches the edge partitioning — map-side only, no
    * exchange. Every node appears as a dst (symmetry). The seed is
    * also the first frontier, so every node messages in round one. */
  private[graft] def ccOver(pairs: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs)
    val seed = edges
      .groupBy(col("dst"))
      .agg(least(col("dst"), min(col("src"))).as("label"))
      .select(col("dst").as("id"), col("label"))
      .localCheckpoint(false)
    propagate(edges, seed, seed)._1
  }

  /** The one min-label propagation loop behind d6 and d19. Each round,
    * only `frontier` (id, label) nodes message their neighbours (the
    * edges side is exchange-free on its dst partitioning); a node's
    * own label rides the union tagged own=true, so one agg yields both
    * the new `label` and `prev`, and the nodes with label < prev are
    * the next frontier — counted on the checkpointed result, no extra
    * join. From any labels that are component members' ids and a
    * frontier holding one endpoint of every edge whose endpoints
    * disagree (the lower-labelled one), it reaches the same fixpoint
    * as a cold start — every node labelled by its component's
    * minimum — in O(component diameter) rounds. Runs at least one
    * round; returns (labels, rounds, Σ frontier sizes it produced). */
  private[graft] def propagate(edges: DataFrame, labels0: DataFrame,
      frontier0: DataFrame): (DataFrame, Int, Long) = {
    // safety valve, not a truncation: silently stopping early would
    // split a >cap-diameter component into wrong clusters — if the cap
    // is ever hit we fail LOUDLY (and the cap is far above any
    // near-dup chain the pair graph realistically produces)
    val maxRounds = 50
    var labels = labels0
    var frontier = frontier0
    var changed = 1L
    var moved = 0L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val msgs = edges
        .join(frontier.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"), lit(false).as("own"))
      val next = msgs
        .union(labels.select(col("id"), col("label"), lit(true).as("own")))
        .groupBy("id")
        .agg(min("label").as("label"),
          max(when(col("own"), col("label"))).as("prev"))
        .localCheckpoint(false)
      frontier = next.filter(col("label") < col("prev")).select("id", "label")
      changed = frontier.count()
      moved += changed
      labels = next.select("id", "label")
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"CC min-label propagation did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — component diameter exceeds the cap")
    (labels, rounds, moved)
  }

  /** d19 core — INCREMENTAL connected components with FRONTIER
    * propagation (the daily graph-maintenance twin of d8: yesterday's
    * components are paid for; today's batch must not re-run CC over
    * the whole history). Seeds: the standing subgraph's converged
    * labels (batch-free pairs), own-id for everything else. The
    * frontier starts as the endpoints of NEW (batch-incident) edges
    * only, and [[propagate]] then messages only from nodes whose label
    * just improved — so per-round message volume is O(affected
    * subgraph) (the components the batch actually touches or merges),
    * not O(all edges) like the cold pass' first round. Same loop,
    * same fixpoint as d6 on the full graph — which is why d19 shares
    * d6's oracle. Returns (labels, rounds, total frontier size across
    * rounds, the initial frontier included — the measured "affected"
    * volume). */
  private[graft] def incrLabels(spark: SparkSession, dir: String)
      : (DataFrame, Int, Long) = {
    val pairs = minhashPairs(shingleSets(spark, dir)).select("doc_a", "doc_b")
    val isBatch = (c: org.apache.spark.sql.Column) => c % 10 === 7
    val standingPairs = pairs.filter(!isBatch(col("doc_a")) && !isBatch(col("doc_b")))
    val newPairs = pairs.filter(isBatch(col("doc_a")) || isBatch(col("doc_b")))
      .localCheckpoint(false)
    val standing = ccOver(standingPairs) // yesterday's converged labels
    val edges = symmetricEdges(pairs)
    val seed = edges.select(col("dst").as("id")).distinct()
      .join(standing.select(col("id"), col("label").as("seed")), Seq("id"), "left")
      .select(col("id"), coalesce(col("seed"), col("id")).as("label"))
      .localCheckpoint(false)
    val frontier = newPairs.select(col("doc_a").as("id"))
      .union(newPairs.select(col("doc_b").as("id")))
      .distinct()
      .join(seed, "id")
      .localCheckpoint(false)
    val (labels, rounds, moved) = propagate(edges, seed, frontier)
    (labels, rounds, frontier.count() + moved)
  }

  /** d19 — q_dedup_cc_incr: d6's component table produced INCREMENTALLY
    * (see [[incrLabels]]) — same fixpoint, so it shares d6's oracle;
    * the spec additionally proves the affected-subgraph bound (total
    * frontier ≪ graph) and convergence in ≤ the cold pass' rounds. */
  def qDedupCcIncr(spark: SparkSession, dir: String): DataFrame =
    incrLabels(spark, dir)._1
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"), max("id").as("max_doc"))
      .orderBy("component")

  val qDedupCcSql: String = {
    val pairsInner = qDedupMinhashSql
    s"""WITH RECURSIVE mp AS (SELECT doc_a, doc_b FROM ($pairsInner) q),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM mp
        UNION ALL SELECT doc_b, doc_a FROM mp),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      reach(id, label) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
      SELECT MIN(label) AS component, COUNT(*) AS n_docs, MAX(id) AS max_doc
      FROM (SELECT id, MIN(label) AS label FROM reach GROUP BY id) c
      GROUP BY label ORDER BY component"""
  }

  /** d7 — canonical selection: the actual OUTPUT of corpus dedup is
    * one kept document per near-dup cluster, chosen by QUALITY (not
    * by min id — you keep the best copy, the ids are arbitrary).
    * Component = CC label for paired docs, the doc itself otherwise
    * (singletons keep themselves); keeper = argmax quality score,
    * ties broken by min doc_id. Composes d6's components with f2's
    * quality scores — the exact shape a training-data pipeline feeds
    * to its writer. */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "documents").select(col("doc_id"))
    val labels = ccOver(minhashPairs(shingleSets(spark, dir)))
      .select(col("id").as("doc_id"), col("label"))
    val scores = TextOps.qQualityScore(spark, dir).select(col("doc_id"), col("score"))
    val comp = d.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("component"))
      .join(scores, "doc_id")
    val w = Window.partitionBy("component")
      .orderBy(col("score").desc, col("doc_id"))
    comp.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("keeper"), col("score"))
      .orderBy("component")
  }

  val qDedupKeepBestSql: String = {
    val cc = qDedupCcSql
    // re-derive per-doc labels (the CC CTE chain minus the final agg)
    val idx = cc.indexOf("SELECT MIN(label)")
    val ctes = cc.substring(0, idx).trim
    s"""$ctes,
      labels AS (SELECT id AS doc_id, MIN(label) AS label FROM reach GROUP BY id),
      scores AS (SELECT doc_id, score FROM ($qQualityScoreInner) qs),
      comp AS (
        SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS component, s.score
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
        JOIN scores s ON s.doc_id = d.doc_id),
      r AS (
        SELECT component, doc_id, score,
          ROW_NUMBER() OVER (PARTITION BY component ORDER BY score DESC, doc_id) AS rk
        FROM comp)
      SELECT component, doc_id AS keeper, score FROM r WHERE rk = 1
      ORDER BY component"""
  }

  /** f2's scoring SQL reduced to (doc_id, score) for composition. */
  private def qQualityScoreInner: String = TextOps.qQualityScoreSql

  /** d8 — INCREMENTAL dedup: screen an arriving batch (doc_id % 10 ==
    * 7 models "today's ingest") against the standing corpus index —
    * the shape production dedup actually runs daily, where re-deduping
    * the whole corpus (d2/d6) would be quadratic over time. Exact
    * content-key match ⇒ drop_exact; else MinHash-band candidate +
    * verified Jaccard ≥ 0.2 ⇒ drop_near; else keep. Scale shape: the
    * batch is tiny next to the index, so the band/key joins broadcast
    * the BATCH side and the index streams map-only past it — per-day
    * cost is O(batch + index scan), with the index signature table
    * persisted in practice (checkpointed here). */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val isNew = col("doc_id") % 10 === 7
    val keys = Tables.fanout(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), md5(expr(normSpark)).as("ck"))
    val exact = keys.filter(isNew)
      .join(keys.filter(!isNew).select(col("doc_id").as("idx_id"), col("ck")), "ck")
      .groupBy("doc_id").agg(min("idx_id").as("m_exact"))
    val sh = shingleSets(spark, dir)
    val bands = minhashBands4x2(minhashSig(sh))
    val cand = bands.filter(isNew).as("n")
      .join(bands.filter(!isNew).as("i"),
        col("n.b") === col("i.b") && col("n.bkey") === col("i.bkey"))
      .select(col("n.doc_id").as("doc_id"), col("i.doc_id").as("idx_id"))
      .distinct()
    screenVerdict(d.select(col("doc_id")).filter(isNew), exact, nearMatches(cand, sh, sh))
  }

  /** d8's near screen: the (doc_id, idx_id) candidates whose shingle
    * sets — `batchSh` for the doc, `indexSh` for the index side, both
    * (doc_id, sh) — reach Jaccard ≥ 0.2, as (doc_id, m_near) with the
    * lowest matching index id. Shared with the served screen (e16). */
  private[graft] def nearMatches(cand: DataFrame, batchSh: DataFrame,
      indexSh: DataFrame): DataFrame =
    cand
      .join(batchSh.select(col("doc_id"), col("sh").as("sh_n")), "doc_id")
      .join(indexSh.select(col("doc_id").as("idx_id"), col("sh").as("sh_i")), "idx_id")
      .withColumn("inter", expr("size(filter(sh_n, x -> array_contains(sh_i, x)))"))
      .filter(col("inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_i")) - col("inter")) >= 0.2)
      .groupBy("doc_id").agg(min("idx_id").as("m_near"))

  /** d8's per-doc verdict over the batch (doc_id) frame: an exact
    * (doc_id, m_exact) match drops first, then a near (doc_id, m_near)
    * one, else keep. */
  private[graft] def screenVerdict(batch: DataFrame, exact: DataFrame,
      near: DataFrame): DataFrame =
    batch
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("m_exact").isNotNull, "drop_exact")
          .when(col("m_near").isNotNull, "drop_near")
          .otherwise("keep").as("verdict"),
        coalesce(col("m_exact"), col("m_near")).as("match_id"))
      .orderBy("doc_id")

  val qDedupIncrementalSql: String =
    s"""WITH keys AS (SELECT doc_id, md5($normDuck) AS ck FROM documents),
      s AS (SELECT doc_id, $shDuck AS sh FROM documents),
      sh AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      hs AS (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hl FROM sh),
      sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 7),
        k -> list_min(list_transform(hl, h -> substr(h, CAST(4 * k + 1 AS INT), 4)))) AS mh FROM hs),
      bx AS (SELECT doc_id, mh, unnest(generate_series(0, 3)) AS b FROM sig),
      bands AS (SELECT doc_id, b, md5(mh[2 * b + 1] || mh[2 * b + 2]) AS bkey FROM bx),
      exact AS (
        SELECT n.doc_id, MIN(i.doc_id) AS m FROM keys n JOIN keys i ON n.ck = i.ck
        WHERE n.doc_id % 10 = 7 AND i.doc_id % 10 <> 7 GROUP BY 1),
      cand AS (SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS idx_id
        FROM bands n JOIN bands i ON n.b = i.b AND n.bkey = i.bkey
        WHERE n.doc_id % 10 = 7 AND i.doc_id % 10 <> 7),
      near AS (
        SELECT cand.doc_id, MIN(idx_id) AS m
        FROM cand JOIN sh sn ON sn.doc_id = cand.doc_id JOIN sh si ON si.doc_id = idx_id
        WHERE CAST(len(list_filter(sn.sh, x -> list_contains(si.sh, x))) AS DOUBLE)
          / (len(sn.sh) + len(si.sh) - len(list_filter(sn.sh, x -> list_contains(si.sh, x)))) >= 0.2
        GROUP BY 1)
      SELECT d.doc_id,
        CASE WHEN e.m IS NOT NULL THEN 'drop_exact'
             WHEN nr.m IS NOT NULL THEN 'drop_near' ELSE 'keep' END AS verdict,
        COALESCE(e.m, nr.m) AS match_id
      FROM documents d LEFT JOIN exact e ON e.doc_id = d.doc_id
        LEFT JOIN near nr ON nr.doc_id = d.doc_id
      WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id"""

  /** d9 — dedup-index quality as a query (the d-family twin of e10's
    * ANN recall evaluation): recall of d2's 4×2 banded MinHash
    * candidates against EXACT ground truth, bucketed by true Jaccard
    * — the measured LSH S-curve (bands catch nearly everything at
    * J ≥ 0.5 and intentionally little at the 0.2 boundary; this query
    * quantifies exactly where the knee sits on the real corpus).
    * Ground truth needs no cartesian — and no posting SELF-JOIN
    * either: exact pairs come off per-shingle posting lists built
    * with d4's one-aggregation df-cap witness ([[ngramDfCap]]), so a
    * boilerplate shingle shared by k docs can never emit its C(k,2)
    * pair rows — the blow-up d4 caps and d5 guards against is bounded
    * INSIDE this query (≤ C(cap,2) pair rows per posting row), not by
    * a run-it-on-a-sample convention. Recall is measured on the
    * capped universe: still exact for every pair whose shingles are
    * all non-boilerplate — every pair on this corpus, the recall
    * table is unchanged — and the capped truth is the right yardstick
    * anyway, because the production screen (d4) lives in the same
    * capped vocabulary. */
  def qDedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // posting lists with the cap witnessed in ONE aggregation: ≤ cap
    // elements = the COMPLETE posting set, cap+1 = boilerplate, drop
    // (bounded memory; see qNgramJaccard for the repartition note)
    val parts = spark.sessionState.conf.numShufflePartitions
    val postingAll = ex.repartition(parts, col("s")).groupBy("s")
      .agg(expr(s"graft_capped_list(doc_id, ${ngramDfCap + 1})").as("ds"))
    val posting = postingAll.filter(size(col("ds")).between(1, ngramDfCap))
    // ONE Generate + ONE aggregation yields pair intersection counts
    // (packed a<<32|b records, count per pair = |A∩B|) AND per-doc
    // kept-vocabulary sizes (negative records) from the same shuffle
    val recs = posting
      .select(explode(expr("graft_posting_records(ds)")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("cnt"))
    val inter = recs.filter(col("p") >= 0)
      .select(shiftrightunsigned(col("p"), 32).as("doc_a"),
        (col("p").bitwiseAND(lit(0xffffffffL))).as("doc_b"),
        col("cnt").as("inter"))
    val sizes = recs.filter(col("p") < 0)
      .select((-col("p") - 1).as("doc_id"), col("cnt").as("n"))
    // one compact row per doc — broadcast, reused by both join sides
    val bsz = broadcast(sizes)
    val withJ = inter
      .join(bsz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(bsz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sa.n") + col("sb.n") - col("inter")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "jaccard")
    val caught = minhashPairs(sh)
      .select(col("doc_a"), col("doc_b"), lit(1).as("caught"))
    withJ.join(caught, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket", (floor(col("jaccard") * 10) / 10).cast("double"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0))).cast("long").as("n_caught"),
        round(sum(coalesce(col("caught"), lit(0))).cast("double") / count(lit(1)), 6)
          .as("recall"))
      .orderBy("bucket")
  }

  val qDedupRecallSql: String = {
    val band = qDedupMinhashSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH s AS (SELECT doc_id, $shDuck AS sh FROM documents),
      sh AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      ex AS (SELECT doc_id, unnest(sh) AS sg FROM sh),
      keep AS (SELECT sg FROM ex GROUP BY sg HAVING COUNT(*) <= $ngramDfCap),
      inv AS (SELECT doc_id, sg FROM ex JOIN keep USING (sg)),
      ints AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM inv a JOIN inv b ON a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      wj AS (
        SELECT doc_a, doc_b,
          round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
        FROM ints JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b),
      tr AS (SELECT doc_a, doc_b, jaccard FROM wj WHERE jaccard >= 0.2),
      bandpairs AS (SELECT doc_a, doc_b, 1 AS caught FROM ($band) bp)
      SELECT CAST(floor(jaccard * 10) / 10 AS DOUBLE) AS bucket,
        COUNT(*) AS n_true,
        CAST(SUM(COALESCE(caught, 0)) AS BIGINT) AS n_caught,
        round(CAST(SUM(COALESCE(caught, 0)) AS DOUBLE) / COUNT(*), 6) AS recall
      FROM tr LEFT JOIN bandpairs USING (doc_a, doc_b)
      GROUP BY 1 ORDER BY bucket"""
  }

  /** d11 core, factored so the spec can plant a near-identical pair
    * and assert exactly the redundant member is dropped. Input must
    * carry (vec_id, embedding, label); returns the REMOVAL list
    * (vec_id, cluster, cent_dot). See [[qDedupSemantic]]. */
  private[graft] def semanticVictims(e: DataFrame, tau: Double = 0.4): DataFrame =
    semanticVictimsFrom(e, labelCentroids(e), tau)

  /** The position-exploded working set in INTEGER MICRO-UNITS:
    * qm = round(v, 6)·10⁶ as a long (e11's decimal(8,6) quantization
    * pushed all the way to integers). Everything downstream is exact
    * 64-bit arithmetic — sums, squares, compares — so no engine's
    * rounding or decimal→double cast can drift. (The first cut kept
    * decimal(8,6) centroids built with round(double, 6); at sf0.1
    * one centroid dim hit a half boundary where Spark's
    * BigDecimal-of-shortest-string rounding and DuckDB's numeric
    * rounding disagree — integer micros remove round() entirely.) */
  private def quantizedPe(e: DataFrame): DataFrame = e
    .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
    .select(col("vec_id"), col("i"),
      (round(col("v").cast("double"), 6).cast("decimal(8,6)") * 1000000)
        .cast("long").as("qm"))

  /** Per-(label, dim) centroid in micro-units: cm = floor(Σqm / n).
    * Σqm is an exact long (< 2⁵³, so the double cast is exact), the
    * division is one IEEE op, and floor() rounds toward -∞
    * identically in both engines — no round(), no decimal division.
    * The trained alternative is `Ann.seedsDF(trainCentroids(...))`
    * mapped to the same (label, i, cm) shape — k is a free knob. */
  private[graft] def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"))
      .join(quantizedPe(e), "vec_id")
      .groupBy(col("label"), col("i"))
      .agg(floor(sum(col("qm")).cast("double") / count(lit(1)))
        .cast("long").as("cm"))

  /** Nearest-centroid assignment against an explicit (label, i, cm)
    * centroid frame: squared-L2 and the centroid dot in exact long
    * micro² units (|qm−cm| ≤ 4·10⁶ ⇒ Σ of 64 squares ≤ 10¹⁵ — no
    * overflow), argmin by row_number over (d2, label) — pure integer
    * compares, bit-identical in any engine. Returns (vec_id, cl,
    * cdot) with cdot in micro² units. */
  private[graft] def semanticAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val d2s = quantizedPe(e).join(broadcast(cent), "i")
      .groupBy("vec_id", "label")
      .agg(sum((col("qm") - col("cm")) * (col("qm") - col("cm"))).as("d2"),
        sum(col("qm") * col("cm")).as("cdot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("label"))
    d2s.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("cl"), col("cdot"))
  }

  private[graft] def semanticVictimsFrom(e: DataFrame, cent: DataFrame,
      tau: Double): DataFrame = {
    // checkpointed: everything below reads these twice or more (d5's
    // pattern — at 100 TB this materialization is the persisted
    // assignment table every SemDeDup run writes anyway)
    val assigned = semanticAssign(e, cent).localCheckpoint(false)
    val withVec = assigned
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .localCheckpoint(false)
    // within-cluster pairing, vectors riding the one cl-keyed shuffle
    // (the pair stream is the big side here — re-joining it against
    // the corpus twice would shuffle it twice). Deliberately ALL
    // pairs, no LSH blocking: a banded multi-index hot path was built
    // and MEASURED 3.7× worse on tight over-dense clusters (20k
    // corpus, 14.7 s → 54.9 s) — cluster members share hyperplane
    // signs, so bands don't split them, they multiply the pair
    // stream by the band count. The scale mechanism for over-dense
    // clusters is the SemDeDup contract itself: k grows with the
    // corpus (train more cells — the spec proves the pair budget
    // collapses and planted recall holds under trained k).
    val pairs = withVec.as("x")
      .join(withVec.as("y"),
        col("x.cl") === col("y.cl") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"),
        col("x.cdot").as("ca"), col("y.cdot").as("cb"),
        expr(Ann.cosineSpark("x.embedding", "y.embedding")).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
    // keep rule: of each redundant pair, DROP the member closer to
    // the centroid (higher cdot; vec_id breaks exact ties) — SemDeDup
    // keeps the lowest-centroid-similarity representative so cluster
    // edges survive. Within one cluster |centroid| is constant, so
    // ordering by the exact-decimal cdot IS ordering by cosine — no
    // division, no float fold anywhere in the rule. The rule is
    // PAIR-LOCAL: in a dense ≥ tau graph a chain can drop a member
    // whose own keeper was dropped — over-pruning, never
    // under-pruning (every victim has a ≥ tau witness), the
    // conservative direction for training-data dedup; transitive
    // one-per-group selection is d6+d7's job.
    val victims = pairs
      .select(when(col("ca") > col("cb") ||
          (col("ca") === col("cb") && col("va") > col("vb")), col("va"))
        .otherwise(col("vb")).as("vec_id"))
      .distinct()
    victims.join(assigned, "vec_id")
      .select(col("vec_id"), col("cl").as("cluster"),
        (col("cdot").cast("double") / 1e12).as("cent_dot"))
      .orderBy("vec_id")
  }

  /** d11 — SemDeDup-style semantic deduplication (cluster, then prune
    * within-cluster high-cosine redundancy — Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are assigned to their NEAREST
    * per-label centroid by exact-decimal squared-L2 (not trusted to
    * their stored label — boundary vectors reassign), candidate pairs
    * are generated ONLY within a cluster, and of every pair with
    * quantized cosine ≥ 0.4 the member nearer its centroid is dropped
    * (keep the edge representative). Returns the removal list.
    *
    * Scale shape (the paper's tradeoff, re-expressed in Spark): the
    * centroid table is k×dim and broadcasts; assignment is one scan
    * of the n×dim exploded working set joined to that broadcast (n·k
    * partial products, map-side combined); pair generation is the
    * ONE cluster-keyed shuffle and is bounded by Σ|cluster|² — k is
    * chosen so clusters fit (at 100 TB k grows with n, exactly as
    * SemDeDup runs 50k clusters for billions of examples), and an
    * over-dense cluster would widen its key with a d5-style LSH band
    * before pairing. No division and no float accumulation anywhere
    * determinism-critical: centroids re-quantize to decimal(8,6)
    * after one IEEE division, distances/dots are exact decimal sums.
    *
    * ref capability: beyond the reference — the LLM-training-data
    * semantic-dedup stage (SURVEY §2 D). */
  def qDedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    semanticVictims(Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label"))
  }

  /** d12 — incremental semantic screen (d8's daily-ingest shape for
    * the SemDeDup family): the arriving batch (vec_id % 50 = 0 — the
    * f15 convention for a deterministic arrival set) is admitted or
    * rejected against the STANDING corpus without re-deduplicating
    * it. Centroids come from the standing corpus only (the persisted
    * model a production run trains once per cycle — d11's scaladoc),
    * one assignment pass covers both sides, and the screen is the
    * broadcast-batch shape: the tiny batch broadcasts, standing
    * members stream past it, and only same-cluster members pay a
    * cosine. Returns one verdict row per batch vector (n_dups ≥ τ
    * neighbors in its cluster, admitted = none). At 100 TB the
    * standing side would read from d10's cluster-partitioned index
    * layout so a batch touches only its clusters' partitions. */
  def qDedupSemanticIncr(spark: SparkSession, dir: String): DataFrame = {
    val tau = 0.4
    val e = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")
    val cent = labelCentroids(e.filter(col("vec_id") % 50 =!= 0))
    val withVec = semanticAssign(e, cent)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .localCheckpoint(false)
    val b = withVec.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("b_id"), col("cl"), col("embedding").as("be"))
    val s = withVec.filter(col("vec_id") % 50 =!= 0)
      .select(col("cl"), col("embedding").as("se"))
    val hits = broadcast(b).join(s, "cl")
      .select(col("b_id"), expr(Ann.cosineSpark("be", "se")).as("c"))
      .filter(col("c") >= tau)
      .groupBy("b_id").agg(count(lit(1)).as("n_dups"))
    b.select(col("b_id").as("vec_id"), col("cl").as("cluster"))
      .join(hits.select(col("b_id").as("vec_id"), col("n_dups")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) === 0).as("admitted"))
      .orderBy("vec_id")
  }

  val qDedupSemanticIncrSql: String =
    s"""WITH qpe AS (
        SELECT vec_id, i,
          CAST(CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(8,6)) * 1000000 AS BIGINT) AS qm
        FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
      cent AS (
        SELECT e.label, q.i,
          CAST(FLOOR(CAST(SUM(q.qm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
        FROM embeddings e JOIN qpe q USING (vec_id)
        WHERE e.vec_id % 50 <> 0
        GROUP BY e.label, q.i),
      d2s AS (
        SELECT q.vec_id, c.label,
          CAST(SUM((q.qm - c.cm) * (q.qm - c.cm)) AS BIGINT) AS d2
        FROM qpe q JOIN cent c USING (i)
        GROUP BY q.vec_id, c.label),
      assigned AS (
        SELECT vec_id, label AS cl FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
          FROM d2s) r
        WHERE rn = 1),
      hits AS (
        SELECT b.vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM assigned b JOIN assigned s ON b.cl = s.cl AND s.vec_id % 50 <> 0
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        JOIN embeddings es ON es.vec_id = s.vec_id
        WHERE b.vec_id % 50 = 0
          AND ${Ann.cosineDuck("eb.embedding", "es.embedding")} >= 0.4
        GROUP BY b.vec_id),
      batch AS (SELECT vec_id, cl FROM assigned WHERE vec_id % 50 = 0)
      SELECT b.vec_id, b.cl AS cluster,
        COALESCE(h.n_dups, 0) AS n_dups,
        COALESCE(h.n_dups, 0) = 0 AS admitted
      FROM batch b LEFT JOIN hits h USING (vec_id)
      ORDER BY b.vec_id"""

  val qDedupSemanticSql: String =
    s"""WITH qpe AS (
        SELECT vec_id, i,
          CAST(CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(8,6)) * 1000000 AS BIGINT) AS qm
        FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
      cent AS (
        SELECT e.label, q.i,
          CAST(FLOOR(CAST(SUM(q.qm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
        FROM embeddings e JOIN qpe q USING (vec_id)
        GROUP BY e.label, q.i),
      d2s AS (
        SELECT q.vec_id, c.label,
          CAST(SUM((q.qm - c.cm) * (q.qm - c.cm)) AS BIGINT) AS d2,
          CAST(SUM(q.qm * c.cm) AS BIGINT) AS cdot
        FROM qpe q JOIN cent c USING (i)
        GROUP BY q.vec_id, c.label),
      assigned AS (
        SELECT vec_id, label AS cl, cdot FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
          FROM d2s) r
        WHERE rn = 1),
      wv AS (
        SELECT a.vec_id, a.cl, a.cdot, embedding
        FROM assigned a JOIN embeddings USING (vec_id)),
      pairs AS (
        SELECT x.vec_id AS va, y.vec_id AS vb, x.cdot AS ca, y.cdot AS cb,
          ${Ann.cosineDuck("x.embedding", "y.embedding")} AS cos_sim
        FROM wv x JOIN wv y ON x.cl = y.cl AND x.vec_id < y.vec_id),
      victims AS (
        SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND va > vb)
          THEN va ELSE vb END AS vec_id
        FROM pairs WHERE cos_sim >= 0.4)
      SELECT v.vec_id, a.cl AS cluster, CAST(a.cdot AS DOUBLE) / 1e12 AS cent_dot
      FROM victims v JOIN assigned a ON a.vec_id = v.vec_id
      ORDER BY v.vec_id"""

  /** d17 — the DEDUP PIPELINE end-to-end as ONE declarative plan (the
    * D-family capstone next to f28/b28/b29/g11/h13): the three passes
    * a production corpus actually runs, in order — (1) EXACT dedup
    * (d1's md5 content key, min-id keeper), (2) NEAR-dup collapse over
    * the exact keepers (d2's verified pair graph → d6's connected
    * components → d7's keep-BEST-quality canonical selection), (3)
    * EXACT-SUBSTRING cleaning (d14) of the surviving canonicals —
    * each document leaves with a verdict: `exact_dup` (and its
    * keeper), `near_dup` (and its component's canonical), or `kept`
    * (with its token counts after substring cleaning). Every stage is
    * the gated component verbatim (the checkpointed pair graph, d7's
    * exact quality ranking, d14's coverage-delta machinery); the
    * composition is itself oracle-gated at both scales — the oracle
    * replays exact keying, the recursive-CTE components, the quality
    * rank and the substring chain over the SURVIVOR set. Stage order
    * is the cost argument: exact dedup is the cheapest pass and
    * shrinks the pair-graph input; near-dup collapse shrinks the
    * substring pass's token volume; d14 (the most expensive per
    * token) runs last on the least data. */
  def qDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val keyed = d.withColumn("ck", md5(expr(normSpark)))
    val exactKeep = keyed.groupBy("ck").agg(min(col("doc_id")).as("ek"))
    // r16: s1 and ranked (below) are the plan's two fan-out points —
    // without materialization each union leg re-ran the md5-normalize
    // + keeper-join (here) and the score/label/rank chain (below), and
    // the executed DAG was ~58 sequential codegen stages of mostly
    // re-derivation (the local wall is stage latency; A/B min-of-3
    // 6.7 → 5.5-6.5 s at matched anchors). The trade is one extra
    // corpus-width write each — the same "persist between dedup
    // passes" discipline a production pipeline uses, and the final
    // plan now reads documents ZERO times (gate default, was a
    // whitelisted 20).
    val s1 = keyed.join(exactKeep, "ck").localCheckpoint(true)
    val exactDups = s1.filter(col("doc_id") =!= col("ek"))
      .select(col("doc_id"), lit("exact_dup").as("verdict"), col("ek").as("dup_of"),
        lit(null).cast("long").as("n_tokens"), lit(null).cast("long").as("n_removed"))
    val keepers1 = s1.filter(col("doc_id") === col("ek")).select("doc_id", "text")
    val labels = ccOver(minhashPairs(shingleSets(spark, dir)))
      .select(col("id").as("doc_id"), col("label"))
    val scores = TextOps.qQualityScore(spark, dir).select(col("doc_id"), col("score"))
    val w = Window.partitionBy("component").orderBy(col("score").desc, col("doc_id"))
    val ranked = keepers1.join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("label"), col("doc_id")))
      .join(scores, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("best", first(col("doc_id")).over(w))
      .localCheckpoint(true) // second fan-out point — see s1 above
    val nearDups = ranked.filter(col("rk") > 1)
      .select(col("doc_id"), lit("near_dup").as("verdict"), col("best").as("dup_of"),
        lit(null).cast("long").as("n_tokens"), lit(null).cast("long").as("n_removed"))
    val kept = substringDedup(ranked.filter(col("rk") === 1).select("doc_id", "text"))
      .select(col("doc_id"), lit("kept").as("verdict"),
        lit(null).cast("long").as("dup_of"), col("n_tokens"), col("n_removed"))
    exactDups.union(nearDups).union(kept).orderBy("doc_id")
  }

  val qDedupE2eSql: String = {
    val cc = qDedupCcSql
    val idx = cc.indexOf("SELECT MIN(label)")
    val ctes = cc.substring(0, idx).trim
    s"""$ctes,
      labels AS (SELECT id AS doc_id, MIN(label) AS label FROM reach GROUP BY id),
      keyed AS (SELECT doc_id, text, md5($normDuck) AS ck FROM documents),
      ekt AS (SELECT ck, MIN(doc_id) AS ek FROM keyed GROUP BY ck),
      s1 AS (SELECT k.doc_id, k.text, e.ek FROM keyed k JOIN ekt e USING (ck)),
      scores AS (SELECT doc_id, score FROM ($qQualityScoreInner) qs),
      rkd AS (
        SELECT c.doc_id, c.text,
          ROW_NUMBER() OVER w AS rk,
          FIRST_VALUE(c.doc_id) OVER w AS best
        FROM (
          SELECT s1.doc_id, s1.text, COALESCE(l.label, s1.doc_id) AS component, sc.score
          FROM s1 LEFT JOIN labels l ON l.doc_id = s1.doc_id
          JOIN scores sc ON sc.doc_id = s1.doc_id
          WHERE s1.doc_id = s1.ek) c
        WINDOW w AS (PARTITION BY component ORDER BY score DESC, doc_id)),
      surv AS (SELECT doc_id, text FROM rkd WHERE rk = 1),
      st AS (SELECT doc_id, string_split(text, ' ') AS toks FROM surv),
      ss AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 10)) AS p0 FROM st),
      ssh AS (SELECT doc_id, CAST(p0 AS INT) AS p,
          CAST('0x' || substr(md5(array_to_string(toks[(p0 + 1):(p0 + 10)], ' ')), 1, 15) AS BIGINT) AS h
        FROM ss),
      sk AS (SELECT doc_id, p,
          COUNT(*) OVER (PARTITION BY h) AS n_occ,
          ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        FROM ssh),
      scov AS (SELECT doc_id, p FROM sk WHERE n_occ > 1 AND rn > 1),
      sdel AS (
        SELECT doc_id, p AS i, 1 AS dd FROM scov
        UNION ALL SELECT doc_id, p + 10, -1 FROM scov),
      sts AS (SELECT doc_id, CAST(i0 - 1 AS INT) AS i, 0 AS dd, 1 AS kind FROM (
          SELECT doc_id, unnest(generate_series(1, len(toks))) AS i0 FROM st) x),
      sallr AS (
        SELECT doc_id, i, dd, kind FROM sts
        UNION ALL SELECT doc_id, i, dd, 0 FROM sdel),
      sc2 AS (SELECT doc_id, i, kind,
          SUM(dd) OVER (PARTITION BY doc_id ORDER BY i, kind
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov
        FROM sallr),
      keptagg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN cov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        FROM sc2 WHERE kind = 1 GROUP BY doc_id)
      SELECT * FROM (
        SELECT doc_id, 'exact_dup' AS verdict, ek AS dup_of,
          CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS n_removed
        FROM s1 WHERE doc_id <> ek
        UNION ALL
        SELECT doc_id, 'near_dup', best, NULL, NULL FROM rkd WHERE rk > 1
        UNION ALL
        SELECT doc_id, 'kept', NULL, n_tokens, n_removed FROM keptagg)
      ORDER BY doc_id"""
  }

  /** d16 — PageRank over the verified near-dup graph (the authority
    * signal for canonical selection: in a link-free corpus the
    * near-dup GRAPH is the only structure, and a highly-ranked node —
    * one many near-copies point at, directly or through chains — is
    * the natural keep; d7 keys on per-doc quality, d16 on graph
    * centrality, production dedup uses both). 8 damped iterations
    * (d = 0.85) ENTIRELY in integer micro-units: ranks start at 10⁶,
    * each step is r' = 150000 + (850000·Σ⌊r(u)/deg(u)⌋) div 10⁶ —
    * every division floors, so the fixed iteration count yields
    * bit-identical ranks in any engine (e16's exact-integer
    * power-chain argument; the DuckDB oracle replays the same 8 steps
    * as MATERIALIZED CTEs). Driver loop is control-only (d6's CC
    * pattern): per iteration ONE join + ONE agg over the edge list,
    * lineage checkpointed every 4 rounds; at 100 TB the edge list is
    * the d2 pair graph you already persisted. Undirected ⇒ no
    * dangling nodes. */
  def qDedupPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(minhashPairs(shingleSets(spark, dir)).select("doc_a", "doc_b"))

  /** d16 core over any (doc_a, doc_b) undirected pair frame — the
    * spec drives hand-built graphs against an in-memory replay of the
    * same integer recurrence. */
  private[graft] def pagerankOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // r16 optimization: the degree-annotated edge list is loop-INVARIANT,
    // but each of the 8 rounds' jobs re-derived it (degree agg + join =
    // 2 shuffles per round, 16 across the descent, plus a 17th for the
    // final deg join). One lazy checkpoint each materializes them on
    // round 1 and every later round reads the blocks — exactly the
    // "persist the message-passing structure once" discipline an
    // iterative production job uses (d6's CC already checkpoints its
    // edge table for the same reason). Values unchanged.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val out = edges.join(deg, "src").localCheckpoint(false)
    var rank = deg.select(col("src").as("id"), lit(1000000L).as("r"))
    for (i <- 1 to 8) {
      rank = out.join(rank, out("src") === rank("id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"),
          (lit(150000L) + expr("(850000 * s) div 1000000")).as("r"))
      if (i % 4 == 0) rank = rank.localCheckpoint(true)
    }
    rank.join(deg, rank("id") === deg("src"))
      .select(col("id").as("doc_id"), col("r").as("rank_micro"), col("deg"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
  }

  val qDedupPagerankSql: String = {
    val iters = (1 to 8).map { i =>
      s"""r$i AS MATERIALIZED (
        SELECT e.dst AS id,
          CAST(150000 + (850000 * CAST(SUM(r.r // d.deg) AS BIGINT)) // 1000000 AS BIGINT) AS r
        FROM edges e JOIN r${i - 1} r ON e.src = r.id JOIN deg d ON d.src = e.src
        GROUP BY e.dst)"""
    }.mkString(",\n      ")
    s"""WITH mp AS MATERIALIZED (SELECT doc_a, doc_b FROM ($qDedupMinhashSql) q),
      edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM mp
        UNION ALL SELECT doc_b, doc_a FROM mp),
      deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      r0 AS MATERIALIZED (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
      $iters
      SELECT r8.id AS doc_id, r8.r AS rank_micro, d.deg AS deg
      FROM r8 JOIN deg d ON d.src = r8.id
      ORDER BY rank_micro DESC, doc_id"""
  }

  /** d15 — URL-canonicalization dedup (the crawl pipeline's FIRST
    * dedup pass, upstream of any content hashing: the same resource
    * is referenced under scheme-case variants, trailing slashes,
    * fragments, and tracking parameters, and fetching each variant
    * multiplies crawl cost before content dedup can even see the
    * copies). The reference's own path algebra (utils.py chop_blob,
    * ingest.py url routing) is the A-family ancestor of this op. The
    * synthetic reference stream derives deterministic variants from
    * event keys (scheme upper-casing, trailing '/', utm_* tracking
    * params, '#' fragments — mirrored arithmetic in the oracle); the
    * canonicalizer lowercases the scheme, strips the fragment, drops
    * the utm_ tracking param, and removes the trailing slash — a
    * MAP-ONLY normalization chain (codegen'd string fns) followed by
    * ONE canonical-key agg (count + min-event keeper, map-side
    * combined: a million-refs hot URL never concentrates). */
  /** d15's canonicalization chain as a reusable Column (lowercase
    * scheme, strip fragment, drop utm_ tracking param, trim trailing
    * slash) — shared by the batch dedup and the h22 streaming
    * frontier guard. Codegen'd string functions, map-only. */
  private[graft] def canonicalUrl(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lowered = concat(lower(substring(raw, 1, 5)), raw.substr(lit(6), length(raw)))
    regexp_replace(
      regexp_replace(
        regexp_replace(lowered, "#.*$", ""),
        "\\?utm_source=email&", "?"),
      "/$", "")
  }

  def qDedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"))
      .withColumn("base", graft.functions.Synth.userUrl(col("user_id")))
      .withColumn("raw", concat(
        when(col("event_id") % 3 === 0,
          concat(lit("HTTPS"), expr("substring(base, 6)"))).otherwise(col("base")),
        when(col("event_id") % 5 === 1, lit("/"))
          .when(col("event_id") % 5 === 2,
            concat(lit("?utm_source=email&id="), (col("event_id") % 7).cast("string")))
          .when(col("event_id") % 5 === 3,
            concat(lit("?id="), (col("event_id") % 7).cast("string")))
          .when(col("event_id") % 5 === 4, lit("#sec2"))
          .otherwise(lit(""))))
      .withColumn("canon", canonicalUrl(col("raw")))
    e.groupBy("canon")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("raw")).as("n_raw_forms"),
        min(col("event_id")).as("keeper_event"))
      .orderBy("canon")
  }

  val qDedupUrlSql: String = {
    val base = graft.functions.Synth.userUrlSql
    s"""WITH e AS (
        SELECT event_id, ($base) AS base FROM events),
      r AS (
        SELECT event_id,
          (CASE WHEN event_id % 3 = 0 THEN 'HTTPS' || substr(base, 6) ELSE base END) ||
          (CASE WHEN event_id % 5 = 1 THEN '/'
                WHEN event_id % 5 = 2 THEN '?utm_source=email&id=' || CAST(event_id % 7 AS VARCHAR)
                WHEN event_id % 5 = 3 THEN '?id=' || CAST(event_id % 7 AS VARCHAR)
                WHEN event_id % 5 = 4 THEN '#sec2'
                ELSE '' END) AS raw
        FROM e),
      c AS (
        SELECT event_id, raw,
          regexp_replace(
            replace(regexp_replace(lower(substr(raw, 1, 5)) || substr(raw, 6), '#.*$$', ''),
              '?utm_source=email&', '?'),
            '/$$', '') AS canon
        FROM r)
      SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_refs,
        CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_raw_forms,
        MIN(event_id) AS keeper_event
      FROM c GROUP BY canon ORDER BY canon"""
  }

  /** d14 — EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — their ExactSubstr
    * pass: any ≥L-token substring appearing twice anywhere in the
    * corpus is removed from all but its first occurrence). Where f19
    * cuts NON-overlapping spans (cheap, but a duplicate straddling a
    * span boundary escapes), d14 slides an OVERLAPPING L-token window
    * — every duplicated region is witnessed by some window — and
    * removes MAXIMAL duplicated ranges: coverage intervals from all
    * non-keeper window occurrences merge per document before any text
    * is touched. Lee et al. do this with a corpus-wide suffix array;
    * the Spark-first re-expression is three bounded shuffles:
    *
    *  1. window keeper/count agg on md5(window) — min(struct(doc_id,
    *     pos)) + count are map-side-combinable, so million-fold
    *     boilerplate windows partial-aggregate on every task (f19's
    *     keeper argument, unchanged by the overlap);
    *  2. the window stream re-joins the duplicated keys (equi-join on
    *     the md5, AQE skew-eligible) — each non-keeper occurrence
    *     emits two coverage DELTAS (+1 at pos, −1 at pos+L), never a
    *     materialized token range;
    *  3. one doc_id-keyed exchange: the token stream unions the
    *     deltas, a running sum turns deltas into per-token coverage
    *     (interval merge as prefix arithmetic — overlapping covers
    *     stack instead of needing pairwise merging), and the per-doc
    *     reassembly agg rides the same exchange.
    *
    * Output per doc: token counts kept/removed, the number of maximal
    * removed ranges, and the reassembled clean text. Docs shorter than
    * L tokens produce no windows and pass through untouched. Exact and
    * order-free end to end ⇒ fully oracle-gated. */
  def qDedupSubstring(spark: SparkSession, dir: String): DataFrame =
    substringDedup(Tables(spark, dir, "documents").select("doc_id", "text"))

  /** d14 core over any (doc_id, text) frame (spec drives planted
    * corpora: straddling duplicates f19 misses, nested/overlapping
    * covers, whole-doc dups). L = 10 tokens. */
  private[graft] def substringDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 10
    val toks = Tables.fanout(
      docs.select(col("doc_id"), split(col("text"), " ").as("toks")))
    // fused native sliding-window pass (graft_window_sids): one 60-bit
    // md5-derived id per position — the interpreted slice/array_join/
    // md5 chain re-materialized an array + hex string per TOKEN and
    // measured 3.7× slower at 50k docs; ids also shuffle as 8 bytes
    // instead of 32-char hex (d4's sid argument)
    val sh = toks.filter(size(col("toks")) >= L)
      .select(col("doc_id"), posexplode(expr(s"graft_window_sids(toks, $L)"))
        .as(Seq("p", "h")))
    val dupKeys = sh.groupBy("h")
      .agg(min(struct(col("doc_id"), col("p"))).as("keep"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    val covered = sh.join(dupKeys, "h")
      .filter(struct(col("doc_id"), col("p")) =!= col("keep"))
      .select(col("doc_id"), col("p"))
    val deltas = covered.select(col("doc_id"), col("p").as("i"),
        lit(1).as("d"), lit(0).as("kind"), lit(null).cast("string").as("tok"))
      .union(covered.select(col("doc_id"), (col("p") + L).as("i"),
        lit(-1).as("d"), lit(0).as("kind"), lit(null).cast("string").as("tok")))
    val tokStream = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "tok")))
      .select(col("doc_id"), col("i"), lit(0).as("d"), lit(1).as("kind"), col("tok"))
    // deltas sort before the token at the same position ((i,0) < (i,1)):
    // a cover opening AT i hides token i; one closing at i+L frees token i+L
    val wRun = Window.partitionBy("doc_id").orderBy("i", "kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTok = Window.partitionBy("doc_id").orderBy("i")
    tokStream.union(deltas)
      .withColumn("cov", sum(col("d")).over(wRun))
      .filter(col("kind") === 1)
      .withColumn("prev_cov", lag(col("cov"), 1, 0L).over(wTok))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov") > 0, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("cov") > 0 && col("prev_cov") <= 0, 1L).otherwise(0L)).as("n_ranges"),
        expr("array_join(transform(filter(array_sort(collect_list(struct(i, tok, cov))), s -> s.cov = 0), s -> s.tok), ' ')")
          .as("text_clean"))
      .orderBy("doc_id")
  }

  val qDedupSubstringSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 10)) AS p0 FROM t),
      sh AS (SELECT doc_id, CAST(p0 AS INT) AS p,
          CAST('0x' || substr(md5(array_to_string(toks[(p0 + 1):(p0 + 10)], ' ')), 1, 15) AS BIGINT) AS h
        FROM s),
      k AS (SELECT doc_id, p,
          COUNT(*) OVER (PARTITION BY h) AS n_occ,
          ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        FROM sh),
      cov0 AS (SELECT doc_id, p FROM k WHERE n_occ > 1 AND rn > 1),
      deltas AS (
        SELECT doc_id, p AS i, 1 AS d, 0 AS kind, CAST(NULL AS VARCHAR) AS tok FROM cov0
        UNION ALL
        SELECT doc_id, p + 10, -1, 0, NULL FROM cov0),
      ts AS (SELECT doc_id, CAST(i0 - 1 AS INT) AS i, 0 AS d, 1 AS kind, tok FROM (
          SELECT doc_id, unnest(toks) AS tok, unnest(generate_series(1, len(toks))) AS i0
          FROM t) x),
      allr AS (SELECT * FROM ts UNION ALL SELECT * FROM deltas),
      c AS (SELECT doc_id, i, kind, tok,
          SUM(d) OVER (PARTITION BY doc_id ORDER BY i, kind
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov
        FROM allr),
      tc AS (SELECT doc_id, i, tok, cov,
          COALESCE(LAG(cov) OVER (PARTITION BY doc_id ORDER BY i), 0) AS prev_cov
        FROM c WHERE kind = 1)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN cov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        CAST(SUM(CASE WHEN cov > 0 AND prev_cov <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ranges,
        COALESCE(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY i), '') AS text_clean
      FROM tc GROUP BY doc_id ORDER BY doc_id"""

  /** d20 — bloom-prescreened incremental EXACT dedup (c46's runtime
    * bloom at the dedup grain, closing d8's cost asymmetry): d8
    * screens today's batch against the standing corpus by joining
    * content keys — at 100 TB the INDEX side of that join is the whole
    * corpus, and even broadcast-batch hashing pays an exchange-side
    * hash probe per index row. Here the batch's content keys collapse
    * to an 8 KB bloom (2¹⁶ bits, two xxhash64 probes over the md5
    * content key) collected ONCE driver-side and constant-folded into
    * the INDEX SCAN's filter as a literal 1024-long array — membership
    * is map-side bit math, so ~all of the corpus exits at the scan and
    * only possible-collision rows (true matches + fp) reach the exact
    * broadcast-batch join that makes the result byte-identical to the
    * plain join for ANY fp rate. The bloom build collects O(batch)
    * words, never corpus rows. Verdict table mirrors d8's exact half
    * (drop_exact / keep, min-index match). Oracle: the plain key join
    * — the bloom is architecture, invisible in results. */
  def qDedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val m = 1 << 16
    val d = Tables(spark, dir, "documents")
    val isNew = col("doc_id") % 10 === 7
    val keys = d.select(col("doc_id"), md5(expr(normSpark)).as("ck"))
    def h(k: Column, seed: Int): Column =
      pmod(xxhash64(k, lit(seed)), lit(m.toLong)).cast("long")
    val words = new Array[Long](m / 64)
    keys.filter(isNew)
      .select(explode(array(h(col("ck"), 0), h(col("ck"), 1))).as("bit"))
      .groupBy((col("bit") / 64).cast("int").as("w"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")).as("bits"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    val bloom = array(words.toIndexedSeq.map(lit): _*)
    val batch = keys.filter(isNew)
    val survivors = keys.filter(!isNew)
      .withColumn("_b0", h(col("ck"), 0))
      .withColumn("_b1", h(col("ck"), 1))
      .withColumn("_w0", element_at(bloom, (col("_b0") / 64).cast("int") + 1))
      .withColumn("_w1", element_at(bloom, (col("_b1") / 64).cast("int") + 1))
      .filter(expr("(shiftright(_w0, CAST(_b0 % 64 AS INT)) & 1) = 1") &&
        expr("(shiftright(_w1, CAST(_b1 % 64 AS INT)) & 1) = 1"))
      .select(col("doc_id").as("idx_id"), col("ck"))
    val matches = survivors
      .join(broadcast(batch), "ck")
      .groupBy("doc_id").agg(min("idx_id").as("match_id"))
    batch.select(col("doc_id"))
      .join(broadcast(matches), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "drop_exact").otherwise("keep")
          .as("verdict"),
        col("match_id"))
      .orderBy("doc_id")
  }

  val qDedupBloomSql: String =
    s"""WITH keys AS (SELECT doc_id, md5($normDuck) AS ck FROM documents),
      m AS (
        SELECT n.doc_id, MIN(i.doc_id) AS match_id
        FROM keys n JOIN keys i ON n.ck = i.ck
        WHERE n.doc_id % 10 = 7 AND i.doc_id % 10 <> 7 GROUP BY 1)
      SELECT k.doc_id,
        CASE WHEN m.match_id IS NOT NULL THEN 'drop_exact' ELSE 'keep' END AS verdict,
        m.match_id
      FROM keys k LEFT JOIN m ON m.doc_id = k.doc_id
      WHERE k.doc_id % 10 = 7 ORDER BY k.doc_id"""

  /** d21 — the dedup SAVINGS report (what every dedup deployment
    * publishes before it's allowed to delete anything: how much of the
    * corpus is duplicated, in how large clusters, and what storage/
    * token mass dedup would reclaim): per CLUSTER SIZE, the cluster
    * count, doc count, total char mass, and the DUPLICATE char mass
    * (everything but each cluster's keeper — d6/d7's min-doc keeper
    * convention), with the reclaim share in micro-units of the whole
    * corpus. Keeper chars ride the same agg as the size (min(struct
    * (doc_id, n_chars)) — no second scan, no join-back); the
    * histogram fold is component-bounded, the corpus total a 1-row
    * broadcast. Shares d6's component fixpoint (and its oracle CTE
    * chain verbatim), so the report can never disagree with the
    * dedup it describes. */
  def qDedupReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    val labels = ccOver(minhashPairs(shingleSets(spark, dir)))
      .select(col("id").as("doc_id"), col("label"))
    val comp = d.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("component"), col("n_chars"))
    val per = comp.groupBy("component")
      .agg(count(lit(1)).as("sz"), sum(col("n_chars")).as("chars"),
        min(struct(col("doc_id"), col("n_chars"))).as("k"))
      .select(col("component"), col("sz"), col("chars"),
        col("k.n_chars").as("keeper_chars"))
    val tot = comp.agg(sum(col("n_chars")).as("corpus_chars"))
    per.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        sum(col("chars") - col("keeper_chars")).as("dup_chars"))
      .crossJoin(broadcast(tot))
      .withColumn("reclaim_share_micro",
        expr("dup_chars * 1000000 div corpus_chars"))
      .drop("corpus_chars")
      .orderBy("cluster_size")
  }

  val qDedupReportSql: String = {
    val cc = qDedupCcSql
    val idx = cc.indexOf("SELECT MIN(label)")
    val ctes = cc.substring(0, idx).trim
    s"""$ctes,
      lbl AS (SELECT id AS doc_id, MIN(label) AS label FROM reach GROUP BY id),
      comp AS (
        SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS component, d.n_chars
        FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id),
      per AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS sz,
          CAST(SUM(n_chars) AS BIGINT) AS chars,
          arg_min(n_chars, doc_id) AS keeper_chars
        FROM comp GROUP BY component),
      tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS corpus_chars FROM comp)
      SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(SUM(sz) AS BIGINT) AS n_docs,
        CAST(SUM(chars) AS BIGINT) AS total_chars,
        CAST(SUM(chars - keeper_chars) AS BIGINT) AS dup_chars,
        CAST(SUM(chars - keeper_chars) AS BIGINT) * 1000000
          // MAX(corpus_chars) AS reclaim_share_micro
      FROM per CROSS JOIN tot
      GROUP BY sz ORDER BY cluster_size"""
  }

  /** d22 — near-dup THRESHOLD ablation (f34's sweep shape for the
    * dedup decision itself: "pick t" is the call every dedup
    * deployment makes, and this is the table it's made from): per
    * threshold t ∈ {0.2 .. 0.9}, the surviving pair count and the
    * docs the greedy lower-id-wins screen would drop (distinct doc_b
    * over pairs ≥ t — d1's keeper convention at pair grain). Sweep
    * floor = 0.2 DELIBERATELY: that is d2's verify floor, below it
    * candidate recall is the LSH band config's, not the threshold's
    * (d9 measures that axis). Thresholds compare as j/10.0 doubles
    * against the round(,6) jaccards — identical IEEE values both
    * engines (f34's argument). Plan: the checkpointed verified pair table
    * (bounded) crossed with a broadcast 8-row threshold dim, two
    * bounded aggs — nothing re-touches shingles. */
  def qDedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(shingleSets(spark, dir))
    val ts = spark.range(2, 10).select((col("id") / 10.0).as("t"))
    pairs.crossJoin(broadcast(ts))
      .filter(col("jaccard") >= col("t"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
      .orderBy("t")
  }

  val qDedupSweepSql: String = {
    val inner = qDedupMinhashSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($inner),
      ts AS (SELECT unnest(generate_series(2, 9)) / 10.0 AS t)
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
      FROM pairs JOIN ts ON jaccard >= t
      GROUP BY t ORDER BY t"""
  }

  /** d24 — `q_dedup_bbit`: b-BIT MINWISE HASHING (Li & König 2010 —
    * store only the lowest b bits of each minhash; at b=1 the
    * signature is 8 BITS per doc instead of 8×16, the 16× index-
    * storage lever a 100 TB dedup index actually pulls): per verified
    * d2 pair, the 1-bit match fraction m (parity of each chunk's last
    * hex digit — the same "lowest bits" the paper keeps) and the
    * standard b=1 estimator ŝ = 2m − 1 (two unrelated minhashes agree
    * on one bit half the time; matching above chance is signal),
    * clamped at 0 and stated in integer micro-units, against the
    * exact verified Jaccard and the absolute error. With 8 hashes the
    * estimator is deliberately coarse (variance ∝ 1/hashes — the spec
    * gates the identical-doc and ordering invariants, not tightness;
    * production runs ≥64 hashes where it concentrates). Plan: the
    * checkpointed pair graph + the signature of the same shingle sets
    * joined twice — nothing re-touches shingles, the bit math is
    * map-only. */
  def qDedupBbit(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir)
    val pairs = minhashPairs(sh)
    val sig = minhashSig(sh)
    val bitCols = (0 until 8).map(k =>
      expr(s"(locate(substr(h$k, 4, 1), '0123456789abcdef') - 1) % 2").as(s"b$k"))
    val bits = sig.select(col("doc_id") +: bitCols: _*)
    val matchSum = (0 until 8).map(k =>
      s"CASE WHEN a$k = c$k THEN 1 ELSE 0 END").mkString(" + ")
    pairs
      .join(bits.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(k => col(s"b$k").as(s"a$k")): _*), "doc_a")
      .join(bits.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(k => col(s"b$k").as(s"c$k")): _*), "doc_b")
      .withColumn("n_match", expr(s"CAST($matchSum AS INT)"))
      .withColumn("est_micro",
        expr("greatest(CAST(n_match AS BIGINT) * 2000000 div 8 - 1000000, 0)"))
      .withColumn("err_micro",
        expr("abs(est_micro - CAST(round(jaccard * 1000000) AS BIGINT))"))
      .select("doc_a", "doc_b", "jaccard", "n_match", "est_micro", "err_micro")
      .orderBy("doc_a", "doc_b")
  }

  val qDedupBbitSql: String = {
    val inner = qDedupMinhashSql.replace("ORDER BY doc_a, doc_b", "")
    val bitsK = (0 until 8).map(k =>
      s"(strpos('0123456789abcdef', substr(mh[${k + 1}], 4, 1)) - 1) % 2 AS b$k").mkString(", ")
    val matchSum = (0 until 8).map(k =>
      s"CASE WHEN ba.b$k = bb.b$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH pairs AS ($inner),
      s AS (
        SELECT doc_id, $shDuck AS sh FROM documents),
      sh2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      hs2 AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS hl FROM sh2),
      sig2 AS (SELECT doc_id, list_transform(generate_series(0, 7),
        k -> list_min(list_transform(hl, h -> substr(h, CAST(4 * k + 1 AS INT), 4)))) AS mh FROM hs2),
      bits AS (SELECT doc_id, $bitsK FROM sig2),
      m AS (
        SELECT doc_a, doc_b, jaccard,
          CAST($matchSum AS INT) AS n_match
        FROM pairs
        JOIN bits ba ON ba.doc_id = doc_a
        JOIN bits bb ON bb.doc_id = doc_b)
      SELECT doc_a, doc_b, jaccard, n_match,
        GREATEST(CAST(n_match AS BIGINT) * 2000000 // 8 - 1000000, 0) AS est_micro,
        ABS(GREATEST(CAST(n_match AS BIGINT) * 2000000 // 8 - 1000000, 0)
          - CAST(round(jaccard * 1000000) AS BIGINT)) AS err_micro
      FROM m ORDER BY doc_a, doc_b"""
  }

  // d23 — shared power chains: every exponent in play is a power of
  // two, so s^r and (1-s^r)^b are pure squaring chains — the SAME
  // finite sequence of IEEE multiplications in both engines, no pow()
  // (whose last-ulp behavior is library-specific) anywhere
  private val sChainS = Seq(
    "s * s AS s2", "s2 * s2 AS s4", "s4 * s4 AS s8", "s8 * s8 AS s16",
    "s16 * s16 AS s32", "s32 * s32 AS s64", "s64 * s64 AS s128")
  private val srS =
    """CASE r WHEN 1 THEN s WHEN 2 THEN s2 WHEN 4 THEN s4 WHEN 8 THEN s8
       WHEN 16 THEN s16 WHEN 32 THEN s32 WHEN 64 THEN s64 ELSE s128 END"""
  private val qChainS = Seq(
    "q * q AS q2", "q2 * q2 AS q4", "q4 * q4 AS q8", "q8 * q8 AS q16",
    "q16 * q16 AS q32", "q32 * q32 AS q64", "q64 * q64 AS q128")
  private val qbS =
    """CASE b WHEN 1 THEN q WHEN 2 THEN q2 WHEN 4 THEN q4 WHEN 8 THEN q8
       WHEN 16 THEN q16 WHEN 32 THEN q32 WHEN 64 THEN q64 ELSE q128 END"""
  private val pMicroS = s"CAST(floor((1.0 - ($qbS)) * 1000000.0) AS BIGINT)"

  /** d23 — `q_lsh_tune`: the CLOSED-FORM band-config planner d2's
    * (bands, rows) came from. For every factorization b·r = 128 of the
    * signature, the LSH S-curve p(s) = 1 − (1 − s^r)^b (the standard
    * banding analysis — Leskovec/Rajaraman/Ullman, "Mining of Massive
    * Datasets" ch. 3; the same optimization datasketch ships publicly)
    * is evaluated on the s = j/40 grid and scored against d22's t = 0.8
    * decision threshold: false-positive mass (captured pairs below t),
    * false-negative mass (missed pairs above t), and the curve's
    * midpoint. This is the table a dedup deployment reads BEFORE
    * paying d2's shuffle — pure parameter algebra, no table scan, the
    * planning twin of d22's empirical sweep.
    *
    * Engine agreement is EXACT, not approximate: all exponents are
    * powers of two so both engines run identical squaring chains, and
    * the masses sum floor(p·1e6) integers — no double accumulation
    * order anywhere. */
  def qLshTune(spark: SparkSession, dir: String): DataFrame = {
    val configs = spark.range(0, 8)
      .select(expr("shiftleft(1, CAST(id AS INT))").cast("int").as("r"),
        expr("shiftleft(1, 7 - CAST(id AS INT))").cast("int").as("b"))
    val grid = spark.range(1, 40).select(col("id").cast("int").as("j"))
    var df = configs.crossJoin(broadcast(grid))
      .withColumn("s", expr("CAST(j AS DOUBLE) / 40.0"))
    sChainS.foreach { stage =>
      val Array(e, n) = stage.split(" AS ")
      df = df.withColumn(n, expr(e))
    }
    df = df.withColumn("q", expr(s"1.0 - ($srS)"))
    qChainS.foreach { stage =>
      val Array(e, n) = stage.split(" AS ")
      df = df.withColumn(n, expr(e))
    }
    df.withColumn("p_micro", expr(pMicroS))
      .groupBy("r", "b")
      .agg(
        sum(expr("CASE WHEN j < 32 THEN p_micro ELSE 0 END")).as("fp_micro"),
        sum(expr("CASE WHEN j >= 32 THEN 1000000 - p_micro ELSE 0 END")).as("fn_micro"),
        // 40 = "past the grid": the steepest r=128 curve never reaches
        // 0.5 inside s < 1 at this resolution
        coalesce(min(expr("CASE WHEN p_micro >= 500000 THEN j END")), lit(40)).as("midpoint_j"))
      .withColumn("cost_micro", col("fp_micro") + col("fn_micro"))
      .select("r", "b", "fp_micro", "fn_micro", "cost_micro", "midpoint_j")
      .orderBy("r")
  }

  val qLshTuneSql: String =
    s"""WITH cfg AS (
          SELECT CAST(1 << i AS INT) AS r, CAST(1 << (7 - i) AS INT) AS b
          FROM (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS i)),
        grid AS (
          SELECT CAST(unnest(generate_series(1, 39)) AS INT) AS j),
        g0 AS (
          SELECT r, b, j, CAST(j AS DOUBLE) / 40.0 AS s FROM cfg, grid),
        g1 AS (SELECT *, ${sChainS.take(1).mkString} FROM g0),
        g2 AS (SELECT *, ${sChainS(1)} FROM g1),
        g3 AS (SELECT *, ${sChainS(2)} FROM g2),
        g4 AS (SELECT *, ${sChainS(3)} FROM g3),
        g5 AS (SELECT *, ${sChainS(4)} FROM g4),
        g6 AS (SELECT *, ${sChainS(5)} FROM g5),
        g7 AS (SELECT *, ${sChainS(6)} FROM g6),
        h0 AS (SELECT *, 1.0 - ($srS) AS q FROM g7),
        h1 AS (SELECT *, ${qChainS.take(1).mkString} FROM h0),
        h2 AS (SELECT *, ${qChainS(1)} FROM h1),
        h3 AS (SELECT *, ${qChainS(2)} FROM h2),
        h4 AS (SELECT *, ${qChainS(3)} FROM h3),
        h5 AS (SELECT *, ${qChainS(4)} FROM h4),
        h6 AS (SELECT *, ${qChainS(5)} FROM h5),
        h7 AS (SELECT *, ${qChainS(6)} FROM h6),
        p AS (SELECT r, b, j, $pMicroS AS p_micro FROM h7)
      SELECT r, b,
        CAST(SUM(CASE WHEN j < 32 THEN p_micro ELSE 0 END) AS BIGINT) AS fp_micro,
        CAST(SUM(CASE WHEN j >= 32 THEN 1000000 - p_micro ELSE 0 END) AS BIGINT) AS fn_micro,
        CAST(SUM(CASE WHEN j < 32 THEN p_micro ELSE 0 END)
           + SUM(CASE WHEN j >= 32 THEN 1000000 - p_micro ELSE 0 END) AS BIGINT) AS cost_micro,
        COALESCE(MIN(CASE WHEN p_micro >= 500000 THEN j END), 40) AS midpoint_j
      FROM p GROUP BY r, b ORDER BY r"""

  /** d28 — `q_dedup_tuned`: d23's planner EXECUTED — the closed loop a
    * production dedup runs: score every factorization b·r = 8 of the
    * d2 signature with the S-curve cost AT THE VERIFY THRESHOLD
    * (t = 0.2, j < 8 of the 40-grid — d23 plans the 0.8 decision
    * threshold; this plans the screen that feeds d2's exact-Jaccard
    * verify), pick the argmin config (ties → smaller r), then band
    * the 8-minhash signature with THAT choice and run the
    * candidate→verify pipeline. The cost is VERIFY-WEIGHTED —
    * cost = 4·fp + fn, because a false candidate is not free: it
    * costs an exact-Jaccard verification (and the unweighted metric
    * picks the recall-max (1, 8) banding, whose single-minhash
    * buckets explode quadratically in candidates — measured 14×
    * slower at 5k docs and unviable at 100×). With the verify
    * weight the argmin lands on (r=2, b=4) — deriving d2's shipped
    * production config from first principles, which is the point:
    * the planner and the pipeline agree. The chosen (r, b) rides on
    * every output row so the driver compare gates the PLANNING and
    * the EXECUTION together; the (r, b) collect is ONE bounded
    * control-plane row (argmin of a 4-row cost table); everything
    * downstream is d2's machinery at the chosen point. At 100 TB
    * the plan step is free (no table scan) and r-too-low is exactly
    * what the fp weight guards against. */
  def qDedupTuned(spark: SparkSession, dir: String): DataFrame = {
    // 1. the planner's argmin ([[tunedBanding]] — the same decision
    // the d10/i7 signature index bands its persisted keys with)
    val (rSel, bSel) = tunedBanding(spark)
    // 2. execute d2's pipeline at the chosen (r, b)
    val sh = shingleSets(spark, dir)
    val sig = minhashSig(sh)
    val bands = minhashBands(sig, rSel, bSel)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("inter", expr("CAST(size(array_intersect(sa, sb)) AS DOUBLE)"))
      .withColumn("jaccard",
        expr("round(inter / (CAST(size(sa) + size(sb) AS DOUBLE) - inter), 6)"))
      .filter(col("jaccard") >= 0.2)
      .select(lit(rSel).as("r"), lit(bSel).as("b"),
        col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val qDedupTunedSql: String = {
    val g = (0 until 7).map(i => s"g${i + 1} AS (SELECT *, ${sChainS(i)} FROM g$i)").mkString(",\n        ")
    val h = (0 until 7).map(i => s"h${i + 1} AS (SELECT *, ${qChainS(i)} FROM h$i)").mkString(",\n        ")
    s"""WITH cfg AS (
          SELECT CAST(1 << i AS INT) AS r, CAST(1 << (3 - i) AS INT) AS b
          FROM (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS i)),
        grid AS (SELECT CAST(unnest(generate_series(1, 39)) AS INT) AS j),
        g0 AS (SELECT r, b, j, CAST(j AS DOUBLE) / 40.0 AS s FROM cfg, grid),
        $g,
        h0 AS (SELECT *, 1.0 - ($srS) AS q FROM g7),
        $h,
        p AS (SELECT r, b, j, $pMicroS AS p_micro FROM h7),
        costt AS (
          SELECT r, b,
            CAST(SUM(CASE WHEN j < 8 THEN 4 * p_micro ELSE 0 END)
               + SUM(CASE WHEN j >= 8 THEN 1000000 - p_micro ELSE 0 END) AS BIGINT) AS cost_micro
          FROM p GROUP BY r, b),
        best AS (SELECT r, b FROM costt ORDER BY cost_micro, r LIMIT 1),
        s0 AS (SELECT doc_id, $shDuck AS sh FROM documents),
        shs AS (SELECT doc_id, sh FROM s0 WHERE len(sh) > 0),
        hsx AS (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS hl FROM shs),
        sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 7),
          k -> list_min(list_transform(hl, h -> substr(h, CAST(4 * k + 1 AS INT), 4)))) AS mh FROM hsx),
        bx AS (SELECT doc_id, mh, r, b, unnest(generate_series(0, b - 1)) AS bi FROM sig, best),
        bands AS (SELECT doc_id, bi,
          md5(array_to_string(list_transform(generate_series(1, r),
            k -> mh[bi * r + k]), '')) AS bkey FROM bx),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y ON x.bi = y.bi AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        ver AS (
          SELECT doc_a, doc_b,
            round(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 6) AS jaccard
          FROM cand JOIN shs sa ON sa.doc_id = doc_a JOIN shs sb ON sb.doc_id = doc_b)
      SELECT b2.r AS r, b2.b AS b, v.doc_a AS doc_a, v.doc_b AS doc_b, v.jaccard AS jaccard
      FROM ver v, best b2 WHERE v.jaccard >= 0.2
      ORDER BY v.doc_a, v.doc_b"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_dedup_tuned", qDedupTuned, Oracle(qDedupTunedSql)),
    Query("q_dedup_bbit", qDedupBbit, Oracle(qDedupBbitSql)),
    Query("q_lsh_tune", qLshTune, Oracle(qLshTuneSql)),
    Query("q_dedup_sweep", qDedupSweep, Oracle(qDedupSweepSql)),
    Query("q_dedup_report", qDedupReport, Oracle(qDedupReportSql)),
    Query("q_dedup_bloom", qDedupBloom, Oracle(qDedupBloomSql)),
    Query("q_dedup_e2e", qDedupE2e, Oracle(qDedupE2eSql)),
    Query("q_dedup_pagerank", qDedupPagerank, Oracle(qDedupPagerankSql)),
    Query("q_dedup_url", qDedupUrl, Oracle(qDedupUrlSql)),
    Query("q_dedup_substring", qDedupSubstring, Oracle(qDedupSubstringSql)),
    Query("q_dedup_semantic", qDedupSemantic, Oracle(qDedupSemanticSql)),
    Query("q_dedup_semantic_incr", qDedupSemanticIncr, Oracle(qDedupSemanticIncrSql)),
    Query("q_dedup_recall", qDedupRecall, Oracle(qDedupRecallSql)),
    Query("q_dedup_incremental", qDedupIncremental, Oracle(qDedupIncrementalSql)),
    Query("q_dedup_keep_best", qDedupKeepBest, Oracle(qDedupKeepBestSql)),
    Query("q_dedup_containment", qDedupContainment, Oracle(qDedupContainmentSql)),
    Query("q_dedup_cc", qDedupCc, Oracle(qDedupCcSql)),
    // d19 is an ARCHITECTURE change (incremental, frontier-bounded),
    // not a semantics change — same fixpoint, same oracle as d6
    Query("q_dedup_cc_incr", qDedupCcIncr, Oracle(qDedupCcSql)),
    Query("q_dedup_exact", qDedupExact, Oracle(qDedupExactSql)),
    Query("q_dedup_minhash", qDedupMinhash, Oracle(qDedupMinhashSql)),
    Query("q_dedup_simhash", qDedupSimhash, Oracle(qDedupSimhashSql)),
    Query("q_simhash_pairs", qSimhashPairs, Oracle(qSimhashPairsSql)),
    Query("q_simhash_near", qSimhashNear, Oracle(qSimhashNearSql)),
    Query("q_ngram_jaccard", qNgramJaccard, Oracle(qNgramJaccardSql)),
    Query("q_dedup_embedding", qDedupEmbedding, Oracle(qDedupEmbeddingSql)))
}
