package graft

import org.apache.spark.sql.functions._

/** The native KMV sketch (c51's engine): exact below k, error-bounded
  * above k, and partitioning-independent (lossless mergeability).
  */
class KmvSpec extends SparkTestBase {

  private def sid(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    var v = 0L
    (0 until 8).foreach(i => v = (v << 8) | (d(i) & 0xffL))
    v >>> 4
  }

  test("below k the sketch is the exact distinct set; set algebra is exact") {
    import spark.implicits._
    val segA = (0 until 100).map(i => ("a", sid(s"user$i")))
    val segB = (70 until 150).map(i => ("b", sid(s"user$i")))
    val df = (segA ++ segB ++ segA).toDF("seg", "h") // dup rows: distinctness
    df.createOrReplaceTempView("kmv_in")
    val sk = spark.sql("SELECT seg, graft_kmv(h, 256) AS sk FROM kmv_in GROUP BY seg")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sk("a").length == 100 && sk("b").length == 80)
    assert(sk("a").toSet == segA.map(_._2).toSet)
    assert(sk("a") == sk("a").sorted, "sketch must be ascending")
    assert(sk("a").toSet.intersect(sk("b").toSet).size == 30)
  }

  test("above k the estimate lands within the KMV error bound") {
    import spark.implicits._
    val n = 20000
    val rows = (0 until n).map(i => sid(s"id$i")).toDF("h")
    rows.createOrReplaceTempView("kmv_big")
    val arr = spark.sql("SELECT graft_kmv(h, 256) AS sk FROM kmv_big")
      .head().getSeq[Long](0)
    assert(arr.length == 256)
    val est = 255.0 * (1L << 60).toDouble / arr(255)
    // 1/sqrt(k) ~ 6.3%; allow 4 sigma
    assert(math.abs(est / n - 1.0) < 0.25, s"estimate $est for true $n")
  }

  test("the sketch is partitioning-independent (lossless merge)") {
    import spark.implicits._
    val rows = (0 until 5000).map(i => sid(s"p$i"))
    def sketch(parts: Int): Seq[Long] = {
      rows.toDF("h").repartition(parts).createOrReplaceTempView("kmv_p")
      spark.sql("SELECT graft_kmv(h, 128) AS sk FROM kmv_p").head().getSeq[Long](0)
    }
    assert(sketch(1) == sketch(13))
  }
}
