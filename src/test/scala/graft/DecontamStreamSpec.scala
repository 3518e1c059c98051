package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.IngestStream
import graft.streaming.IngestStream.DocArrival

/** h38 — the streaming decontamination guard must reproduce the batch
  * f50 suite-contamination rule per doc, with ZERO streaming state. */
class DecontamStreamSpec extends SparkTestBase {

  test("h38: stream verdicts equal the batch ≥3-shared-shingles rule; the guard holds no state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = Tables(spark, sfDir, "documents")
    // the static eval-suite index (f50's suites)
    val sh = d.select(col("doc_id"), explode(expr(graft.functions.TextFns.shSpark)).as("shingle"))
    val suiteIndex = sh.filter(col("doc_id") % 50 === 0)
      .select(expr("concat('suite_', CAST(doc_id div 50 % 5 AS STRING))").as("suite"),
        col("shingle"))
      .distinct()
      .localCheckpoint(true)

    // batch truth: per corpus doc the max distinct shingles shared with
    // any one suite (f50's hit rule before the ≥3 cut)
    val batch = sh.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(suiteIndex), "shingle")
      .groupBy(col("doc_id"), col("suite"))
      .agg(count(lit(1)).as("shared"))
      .groupBy("doc_id").agg(max("shared").as("max_shared"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val corpus = d.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text")).as[DocArrival].collect()

    val input = MemoryStream[DocArrival]
    val q = IngestStream.streamingDecontaminationGuard(input.toDF(), suiteIndex)
      .writeStream.format("memory").queryName("h38_guard")
      .outputMode(OutputMode.Append()).start()
    val (outs, stateOps) =
      try {
        Seq(corpus.take(200), corpus.slice(200, 350), corpus.drop(350))
          .foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
        (spark.table("h38_guard").collect().toSeq,
          q.lastProgress.stateOperators.length)
      } finally q.stop()

    assert(stateOps == 0, "the guard must plan ZERO state operators")
    assert(outs.length == corpus.length, "every arrival gets a verdict")
    outs.foreach { r =>
      val id = r.getLong(0)
      val maxShared = r.getInt(2)
      val verdict = r.getString(3)
      assert(maxShared == batch.getOrElse(id, 0L).toInt,
        s"doc $id: stream max_shared $maxShared != batch ${batch.getOrElse(id, 0L)}")
      assert(verdict == (if (maxShared >= 3) "drop_contaminated" else "keep"))
    }
    // the planted contamination is populated: some doc drops
    assert(outs.exists(_.getString(3) == "drop_contaminated"),
      "no contaminated doc in the feed — the parity went vacuous")
  }
}
