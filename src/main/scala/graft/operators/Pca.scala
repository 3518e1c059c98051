package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.{Oracle, Query, Tables}

/** §2 E (continued) — e16: distributed PCA training by power
  * iteration, the dimensionality-reduction step FAISS-style pipelines
  * (PCA→IVF, OPQ) run before indexing. The corpus-sized work is ONE
  * pass: the 64×64 gramian G = QᵀQ accumulates as a single map-side-
  * combined aggregation over the pair-exploded quantized components
  * (d11's integer micro-units — G entries are exact 64-bit sums). The
  * eigensolve itself runs on the DRIVER over the collected 4 096-entry
  * G (d6/e11/f24's control-only pattern — this is exactly where
  * production trains PCA/OPQ: the gramian is O(d²) no matter how many
  * trillion rows produced it), in EXACT integer arithmetic: the
  * rescaled gramian is squared 3 times (near-degenerate spectra —
  * λ₂/λ₁ ≈ 0.93 on clustered corpora — make plain power iteration
  * crawl; squaring squares the ratio) and then power-iterated 8
  * steps ≈ 64 plain steps. Every rescale is a truncating division by
  * (1 + max|·|/10⁶), so entries stay ≤10⁶ and every product-sum
  * stays ≤64·10¹²; the DuckDB oracle replays the identical chain
  * through 3 squaring + 8 iteration CTE pairs — bit-equal, no float
  * eigensolver anywhere.
  *
  * Overflow budget: |qm| ≤ 10⁶ ⇒ G_ij ≤ 10¹²·n, exact in Int64 up to
  * n ≈ 9·10⁶ vectors; past that, drop one decimal digit of qm per
  * 100× rows (the iteration's own arithmetic is n-independent after
  * the first rescale). Sign is pinned by the deterministic all-ones
  * start; convergence to the top component is gated in TrainingSpec
  * against a double-precision reference eigensolve.
  */
object Pca {

  val dim = 64
  private val iters = 8
  private val squarings = 3

  /** Pair-exploded quantized components: (i, j, qi·qj). The
    * quantization runs ONCE per component via transform() on the
    * array — quantizing inside the 64×-amplified pair stream cost
    * 10× wall time (measured at sf0.1: 10.3 s → 0.85 s) — and the
    * narrow source fans out so the d² explode parallelizes. */
  private def pairProducts(e: DataFrame): DataFrame = {
    val qarr = Tables.fanout(e.select(expr(
      """transform(embedding,
         x -> CAST(CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(8,6)) * 1000000 AS BIGINT))""")
      .as("qa")))
    qarr.select(posexplode(col("qa")).as(Seq("i", "qi")), col("qa"))
      .select(col("i"), col("qi"), posexplode(col("qa")).as(Seq("j", "qj")))
      .select(col("i"), col("j"), (col("qi") * col("qj")).as("prod"))
  }

  /** Truncating rescale to ≤10⁶ micro-units — the one lossy (but
    * deterministic, engine-identical) step of the chain. */
  private[graft] def rescale(g: Array[Long]): Array[Long] = {
    val m = g.map(math.abs).max
    g.map(_ / (1 + m / 1000000L))
  }

  /** Exact d×d square of a rescaled matrix: |entries| ≤ 10⁶ ⇒ every
    * product-sum ≤ d·10¹² — no overflow at any d ≤ 9·10⁶. */
  private[graft] def matSquare(a: Array[Long], d: Int): Array[Long] =
    Array.tabulate(d * d) { idx =>
      val i = idx / d; val j = idx % d
      var s = 0L
      var k = 0
      while (k < d) { s += a(i * d + k) * a(k * d + j); k += 1 }
      s
    }

  /** The exact-integer power iteration over a dense gramian (row-major
    * d×d longs) — shared by the operator and the spec's reference.
    * The gramian is rescaled and SQUARED `squarings` times first
    * (still exact-integer, modulo the deterministic rescale
    * truncation): squaring squares every eigen-ratio, so `steps`
    * iterations on G^(2^squarings) converge like steps·2^squarings
    * plain iterations — the fix for the near-degenerate spectra
    * clustered embedding corpora actually have (λ₂/λ₁ ≈ 0.93 on the
    * test corpus: 8 plain steps leave |cos| ≈ 0.33; 8 steps on G⁸
    * reach > 0.999). */
  private[graft] def powerIterate(g: Array[Long], d: Int, steps: Int,
      squarings: Int = 3): Array[Long] = {
    var a = rescale(g)
    (1 to squarings).foreach(_ => a = rescale(matSquare(a, d)))
    var w = Array.fill(d)(1000000L)
    (1 to steps).foreach { _ =>
      val u = Array.tabulate(d) { i =>
        var s = 0L
        var j = 0
        while (j < d) { s += a(i * d + j) * w(j); j += 1 }
        s
      }
      val m = u.map(math.abs).max
      w = u.map(_ / (1 + m / 1000000L))
    }
    w
  }

  // e16 — top principal component of the embedding corpus.
  def qPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val g = pairProducts(e).groupBy("i", "j").agg(sum(col("prod")).as("g"))
    val dense = Array.ofDim[Long](dim * dim)
    g.collect().foreach { r =>
      dense(r.getInt(0) * dim + r.getInt(1)) = r.getLong(2)
    }
    val w = powerIterate(dense, dim, iters)
    val rows = w.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("dim", LongType, nullable = false),
        StructField("w_micro", LongType, nullable = false))))
      .orderBy("dim")
  }

  val qPcaPowerSql: String = {
    // every CTE is referenced at least twice downstream — without
    // MATERIALIZED, DuckDB inlines them and the chained CTEs re-plan
    // the gramian exponentially (observed: minutes instead of <1 s)
    val sq = (t: Int) =>
      s"""s$t AS MATERIALIZED (
           SELECT x.i AS i, y.j AS j, CAST(SUM(x.v * y.v) AS BIGINT) AS v
           FROM a${t - 1} x JOIN a${t - 1} y ON x.j = y.i GROUP BY 1, 2),
         a$t AS MATERIALIZED (
           SELECT i, j, v // (1 + (SELECT MAX(ABS(v)) FROM s$t) // 1000000) AS v
           FROM s$t)"""
    val step = (t: Int) =>
      s"""u$t AS MATERIALIZED (
           SELECT a.i, CAST(SUM(a.v * w${t - 1}.w) AS BIGINT) AS u
           FROM a$squarings a JOIN w${t - 1} ON a.j = w${t - 1}.i GROUP BY a.i),
         w$t AS MATERIALIZED (
           SELECT i, u // (1 + (SELECT MAX(ABS(u)) FROM u$t) // 1000000) AS w
           FROM u$t)"""
    s"""WITH q AS MATERIALIZED (
        SELECT vec_id, i,
          CAST(CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(8,6)) * 1000000 AS BIGINT) AS qm
        FROM embeddings, unnest(generate_series(1, $dim)) AS t(i)),
      g AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.qm * b.qm) AS BIGINT) AS gij
        FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
      a0 AS MATERIALIZED (
        SELECT i, j, gij // (1 + (SELECT MAX(ABS(gij)) FROM g) // 1000000) AS v
        FROM g),
      ${(1 to squarings).map(sq).mkString(",\n      ")},
      w0 AS (
        SELECT i, CAST(1000000 AS BIGINT) AS w
        FROM unnest(generate_series(1, $dim)) AS t(i)),
      ${(1 to iters).map(step).mkString(",\n      ")}
      SELECT CAST(i - 1 AS BIGINT) AS dim, CAST(w AS BIGINT) AS w_micro
      FROM w$iters ORDER BY dim"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_pca_power", qPcaPower, Oracle(qPcaPowerSql)))
}
