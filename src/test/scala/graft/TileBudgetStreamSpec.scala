package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.IngestStream
import graft.streaming.IngestStream.{FgbOut, LayerFeature, TileBudgetOut, TileFeature}

/** h33/h34 — the streaming byte-budget cut and the live FGB index
  * accounting must converge to their batch ops (b49, b50) exactly. */
class TileBudgetStreamSpec extends SparkTestBase {

  private def batched[T](all: Array[T], rot: Int): Seq[Seq[T]] = {
    val mixed = all.sortBy(x => Integer.rotateLeft(x.hashCode, rot))
    Seq(mixed.take(all.length / 3).toSeq,
      mixed.slice(all.length / 3, 2 * all.length / 3).toSeq,
      mixed.drop(2 * all.length / 3).toSeq)
  }

  test("h33: streaming byte budget equals the b49 batch cut, any batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = operators.GeoOps.tiled(spark, sfDir, 6)
      .select("event_id", "xt", "yt").collect()
      .map(r => TileFeature(r.getLong(0), r.getInt(1), r.getInt(2)))

    val input = MemoryStream[TileFeature]
    val q = IngestStream.streamingTileBudget(input.toDS())
      .writeStream.format("memory").queryName("h33_budget")
      .outputMode(OutputMode.Update()).start()
    val outs =
      try {
        batched(all, 9).foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h33_budget").as[TileBudgetOut].collect().toSeq
      } finally q.stop()

    val got = outs.groupBy(o => (o.xt, o.yt)).view
      .mapValues { os => val l = os.maxBy(_.version); (l.kept, l.keptBytes, l.keptChecksum) }
      .toMap
    val want = operators.GeoRaster.qTileBudget(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("xt"), r.getAs[Int]("yt")) ->
        (r.getAs[Long]("kept"), r.getAs[Long]("kept_bytes"),
          r.getAs[Long]("kept_checksum"))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (t, w) =>
      assert(got(t) == w, s"tile $t diverged: stream ${got(t)} batch $w")
    }
  }

  test("h34: streaming FGB index accounting equals b50 row-for-row, any batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = operators.GeoOps.tiled(spark, sfDir, 12)
      .withColumn("h", expr("graft_hilbert(12, CAST(xt AS BIGINT), CAST(yt AS BIGINT))"))
      .select("user_id", "event_type", "h").collect()
      .map(r => LayerFeature(r.getLong(0), r.getString(1), r.getLong(2)))

    val input = MemoryStream[LayerFeature]
    val q = IngestStream.streamingFgbIndex(input.toDS())
      .writeStream.format("memory").queryName("h34_fgb")
      .outputMode(OutputMode.Update()).start()
    val outs =
      try {
        batched(all, 5).foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h34_fgb").as[FgbOut].collect().toSeq
      } finally q.stop()

    val got = outs.groupBy(o => (o.userId, o.layer)).view
      .mapValues { os => val l = os.maxBy(_.version)
        (l.n, l.hmin, l.hmax, l.nNodes, l.indexBytes) }
      .toMap
    val want = operators.GeoGeom.qFgbIndex(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("layer")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("hmin"), r.getAs[Long]("hmax"),
          r.getAs[Long]("n_nodes"), r.getAs[Long]("index_bytes"))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, w) =>
      assert(got(k) == w, s"layer $k diverged: stream ${got(k)} batch $w")
    }
  }
}
