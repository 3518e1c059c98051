package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.IngestStream
import graft.streaming.IngestStream.{ReservoirOut, WeightedDoc}

/** h16 — the streaming weighted-sample reservoir must converge to
  * EXACTLY the f23 batch sample on the same corpus (E-S priorities
  * are prefix-stable), with one fixed-size state row per stratum.
  */
class StreamSampleSpec extends SparkTestBase {

  test("h16: streaming reservoir equals the batch weighted sample, any batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = Tables(spark, sfDir, "documents")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => WeightedDoc(r.getLong(0), r.getString(1), r.getLong(2)))
    // adversarial batching: shuffled deterministically, uneven splits
    val mixed = all.sortBy(d => Integer.rotateLeft(d.docId.hashCode, 13))
    val batches = Seq(mixed.take(50), mixed.slice(50, 90), mixed.drop(90))

    val input = MemoryStream[WeightedDoc]
    val q = IngestStream.streamingWeightedSample(input.toDS(), 25)
      .writeStream.format("memory").queryName("h16_sample")
      .outputMode(OutputMode.Update()).start()
    val (outs, stateRows) =
      try {
        batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
        (spark.table("h16_sample").as[ReservoirOut].collect().toSeq,
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      } finally q.stop()

    val langs = all.map(_.lang).distinct
    assert(stateRows == langs.length.toLong,
      s"state rows $stateRows != strata ${langs.length}")

    // final reservoir per stratum (highest version wins)
    val finalIds = outs.groupBy(_.lang).view
      .mapValues(os => os.maxBy(_.version).ids).toMap
    // batch truth: f23's per-lang selection in rank order
    val want = operators.Retrieval.qWeightedSample(spark, sfDir).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    langs.foreach { l =>
      assert(finalIds(l) == want(l),
        s"stratum $l diverged:\n stream ${finalIds(l)}\n batch  ${want(l)}")
      assert(finalIds(l).length <= 25)
    }

    // intermediate reservoirs never exceed k and versions advance
    outs.groupBy(_.lang).foreach { case (l, os) =>
      assert(os.forall(_.ids.length <= 25), s"stratum $l overflowed")
      val vs = os.map(_.version).sorted
      assert(vs == vs.distinct, s"stratum $l emitted duplicate versions")
    }
  }

  test("h18: streaming KMV sketch equals the batch graft_kmv, any batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 64
    // segments with partial overlap, enough members to exceed k
    def sid(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(i => v = (v << 8) | (d(i) & 0xffL))
      v >>> 4
    }
    val members = (0 until 300).map(i => IngestStream.SegMember("x", sid(s"u$i"))) ++
      (150 until 400).map(i => IngestStream.SegMember("y", sid(s"u$i")))
    // adversarial batching: interleaved, shuffled, with duplicates
    val mixed = (members ++ members.take(80))
      .sortBy(m => Integer.rotateLeft(m.h.hashCode, 7))
    val batches = Seq(mixed.take(37), mixed.slice(37, 41), mixed.drop(41))

    val input = MemoryStream[IngestStream.SegMember]
    val q = IngestStream.streamingKmv(input.toDS(), k)
      .writeStream.format("memory").queryName("h18_kmv")
      .outputMode(OutputMode.Update()).start()
    val (outs, stateRows) =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        (spark.table("h18_kmv").as[IngestStream.KmvOut].collect().toSeq,
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      } finally q.stop()
    assert(stateRows == 2L, s"state must be one row per segment, got $stateRows")

    val live = outs.groupBy(_.seg).view
      .mapValues(os => os.maxBy(_.version).sketch).toMap
    members.toDF("seg", "h").createOrReplaceTempView("h18_batch")
    val want = spark.sql(s"SELECT seg, graft_kmv(h, $k) FROM h18_batch GROUP BY seg")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    Seq("x", "y").foreach { s =>
      assert(live(s) == want(s), s"segment $s diverged from batch sketch")
      assert(live(s).length == k)
    }
  }
}
