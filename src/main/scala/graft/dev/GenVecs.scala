package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** dev tool: synthesize an `embeddings.parquet` corpus with the driver
  * testdata's shape (vec_id, float[64] embedding, label 0-9) at an
  * arbitrary row count — the embedding-side twin of [[GenDocs]], used
  * ONCE for the §5 scaling measurement of the d5/e-family (the driver
  * ships sf ≤ 0.1 = 2,000 vectors; the linearity claim needs a
  * measured 10× point). Geometry mirrors what IVF/LSH assume: 10
  * genuine clusters (unit-norm center + small per-dim jitter, so
  * label = the true cell), and ~5% of vectors are near-copies of an
  * earlier vector in the same cluster (cosine ≈ 1 — d5's planted
  * near-dups). Deterministic: every coordinate derives from md5
  * arithmetic over (id, dim), no RNG object.
  *
  * The third arg is the cluster spread (noise amplitude vs the
  * unit-ish center): ~0.35 gives tight topic clusters (within-cluster
  * cosine ≈ 0.9, ABOVE d5's 0.45 verify threshold — quadratic true
  * output, the hot-bucket stress corpus), ~1.3 gives loose clusters
  * (within-cluster cosine ≈ 0.37, below threshold — linear true
  * output, the honest scaling corpus where only planted dups match).
  *
  *   runMain graft.dev.GenVecs 20000 /tmp/gen_vecs 1.3
  */
object GenVecs {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(20000)
    val out = args.lift(1).getOrElse("/tmp/gen_vecs")
    val amp = args.lift(2).map(_.toDouble).getOrElse(0.35)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val withVec = synthesize(spark, rows, amp)
    withVec.coalesce(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[genvecs] wrote $rows vectors to $out/embeddings.parquet")
    spark.stop()
  }

  /** The corpus as a DataFrame (vec_id, embedding float[64], label) —
    * factored out so specs can synthesize a clustered corpus in-session
    * (the k-means training spec) without a parquet round-trip. */
  def synthesize(spark: SparkSession, rows: Int, amp: Double): org.apache.spark.sql.DataFrame = {
    // u(tag, i) ~ uniform in [-1, 1), from one md5 per (tag, dim)
    def u(tag: String, i: String) =
      s"(conv(substr(md5(concat($tag, '_', $i)), 1, 6), 16, 10) / 8388608.0 - 1.0)"
    // dup sources: vec_id % 20 == 7 copies vec_id - 30 with 1% jitter.
    // The offset must land on a NON-dup slot ((id-30) % 20 == 17):
    // copying another dup row would chain JITTER TAGS, not vectors —
    // vec(47) built from j(27) is cosine ≈ 0.88 to vec(27) (which was
    // built from j(7)), i.e. an ordinary cluster mate, not a planted
    // copy (caught by the clustered-corpus recall spec). The dup
    // inherits its source's label, so it stays in the same cluster.
    val base = spark.range(rows.toLong).select(col("id").as("vec_id"))
      .withColumn("src_id",
        when(pmod(col("vec_id"), lit(20)) === 7 && col("vec_id") >= 30,
          col("vec_id") - 30).otherwise(col("vec_id")))
      .withColumn("label", pmod(col("src_id"), lit(10)).cast("int"))
      .withColumn("noise_amp", lit(amp))
    // center(label, i) + jitter(src, i) [+ tiny dup jitter]: cluster
    // spread 0.35 vs unit-ish center keeps cosine-to-center ≈ 0.9
    val withVec = base.withColumn("raw", expr(
      s"""transform(sequence(0, 63), i ->
            cast(${u("concat('c', label)", "i")}
               + noise_amp * ${u("concat('j', src_id)", "i")}
               + if(src_id = vec_id, 0.0d, 0.01d * ${u("concat('d', vec_id)", "i")})
             as double))"""))
      .withColumn("nrm", expr("sqrt(aggregate(raw, 0.0d, (a, x) -> a + x * x))"))
      .select(col("vec_id"),
        expr("transform(raw, x -> cast(x / nrm as float))").as("embedding"),
        col("label"))
      .orderBy("vec_id")
    withVec
  }
}
