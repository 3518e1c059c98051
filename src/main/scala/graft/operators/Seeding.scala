package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 E (depth) — e28 `q_kcenter_seed`: deterministic k-center /
  * farthest-point seeding (Gonzalez 1985 — the public 2-approximation
  * that FAISS-style pipelines use as the reproducible alternative to
  * k-means++ when the seed set must be exactly re-derivable; k-means++
  * D²-sampling needs randomness, Gonzalez does not, which is what
  * makes it oracle-checkable cross-engine).
  *
  * Round r: the next center is the vector FARTHEST from the chosen
  * set (max over vectors of min over centers of d²), ties broken by
  * the smaller vec_id. Distances are exact int64 sums over the
  * family's quantized components (floor(v·2²⁰) — Ann.scala's
  * convention: float summation order can flip an argmax near a tie,
  * exact integers cannot).
  *
  * Plan shape: each round is ONE scan of the quantized vectors + one
  * 1-row argmax agg (max of a packed (d², ¬vec_id) struct); the
  * running min-distance column folds the new center in with a
  * `least(...)`, so round r costs one pass — k rounds = k passes,
  * never a k×N join. The per-round 1-row collect is bounded control
  * plane (the same discipline as e11's seeds and f24's BPE argmax).
  * At 100 TB each pass is map-only + a combinable agg; the chosen
  * centers (k×dim longs) ride the closure, never a shuffle.
  *
  * Output: one row per round — the chosen center and the max-min
  * radius² that selected it (strictly non-increasing, the Gonzalez
  * invariant the spec pins), plus the final k=4 coverage radius².
  */
object Seeding {

  private val Dim = 64

  /** exact int64 squared distance between the row's raw float vector
    * and a literal quantized center (64-long array literal), via the
    * native `graft_qdist2` kernel — the declarative
    * transform→zip_with→aggregate template is interpreted per element
    * and dominated the 100× wall clock (12.3 s → 2.9 s); the template
    * remains the DuckDB oracle and SeedingSpec pins kernel ≡ template
    * on planted probes. */
  private def distExpr(center: Array[Long]): String = {
    val arr = center.mkString("array(", "L, ", "L)")
    s"graft_qdist2(embedding, $arr)"
  }

  def qKcenterSeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // seed: vec_id 0 (the deterministic init every engine reproduces)
    def centerVec(id: Long): Array[Long] =
      q.filter(col("vec_id") === id)
        .select(expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))"))
        .collect()(0).getSeq[Long](0).toArray

    var centers = List(0L)
    var centerArrs = List(centerVec(0L))
    var rows = List((0, 0L, 0L)) // (step, center_id, radius2)
    var dminCol = expr(distExpr(centerArrs.head))
    for (step <- 1 to 3) {
      // argmax of (dmin, then smallest vec_id): max over a 2-field struct
      val picked = q.withColumn("dmin", dminCol)
        .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("m"))
        .select(col("m.dmin"), (-col("m.nid")).as("vec_id"))
        .collect()(0)
      val (radius2, cid) = (picked.getLong(0), picked.getLong(1))
      rows = (step, cid, radius2) :: rows
      centers = cid :: centers
      val cArr = centerVec(cid)
      centerArrs = cArr :: centerArrs
      dminCol = least(dminCol, expr(distExpr(cArr)))
    }
    // final coverage radius² of the k=4 set
    val finalR = q.withColumn("dmin", dminCol).agg(max("dmin")).collect()(0).getLong(0)
    rows = (4, -1L, finalR) :: rows
    rows.reverse.toDF("step", "center_id", "radius2")
      .orderBy("step")
  }

  val qKcenterSeedSql: String = {
    def d(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, $Dim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
    s"""WITH q AS (
        SELECT vec_id,
          list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings),
      c0 AS (SELECT qv FROM q WHERE vec_id = 0),
      d0 AS (SELECT q.vec_id, ${d("q.qv", "c.qv")} AS dd FROM q, c0 c),
      s1 AS (SELECT vec_id, dd FROM d0 ORDER BY dd DESC, vec_id LIMIT 1),
      c1 AS (SELECT qv FROM q WHERE vec_id = (SELECT vec_id FROM s1)),
      d1 AS (SELECT q.vec_id, LEAST(d0.dd, ${d("q.qv", "c.qv")}) AS dd
             FROM q JOIN d0 ON q.vec_id = d0.vec_id, c1 c),
      s2 AS (SELECT vec_id, dd FROM d1 ORDER BY dd DESC, vec_id LIMIT 1),
      c2 AS (SELECT qv FROM q WHERE vec_id = (SELECT vec_id FROM s2)),
      d2 AS (SELECT q.vec_id, LEAST(d1.dd, ${d("q.qv", "c.qv")}) AS dd
             FROM q JOIN d1 ON q.vec_id = d1.vec_id, c2 c),
      s3 AS (SELECT vec_id, dd FROM d2 ORDER BY dd DESC, vec_id LIMIT 1),
      c3 AS (SELECT qv FROM q WHERE vec_id = (SELECT vec_id FROM s3)),
      d3 AS (SELECT q.vec_id, LEAST(d2.dd, ${d("q.qv", "c.qv")}) AS dd
             FROM q JOIN d2 ON q.vec_id = d2.vec_id, c3 c)
      SELECT CAST(0 AS INT) AS step, CAST(0 AS BIGINT) AS center_id, CAST(0 AS BIGINT) AS radius2
      UNION ALL SELECT 1, vec_id, dd FROM s1
      UNION ALL SELECT 2, vec_id, dd FROM s2
      UNION ALL SELECT 3, vec_id, dd FROM s3
      UNION ALL SELECT 4, -1, (SELECT max(dd) FROM d3)
      ORDER BY step"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_kcenter_seed", qKcenterSeed, Oracle(qKcenterSeedSql)))
}
