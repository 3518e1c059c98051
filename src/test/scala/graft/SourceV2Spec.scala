package graft

/** DataSource V2 connector: partitioned distributed scan, column
  * pruning pushdown, and payload parity with the a1 message algebra.
  */
class SourceV2Spec extends SparkTestBase {

  test("graft-queue v2 source reads a partitioned synthetic backlog") {
    val df = spark.read.format("graft-queue")
      .option("numMessages", 100).option("numPartitions", 3).load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("event_id", "blob_url", "token", "join_vector_tiles"))
    assert(df.count() == 100)
    assert(df.select("event_id").distinct().count() == 100)
    assert(df.rdd.getNumPartitions == 3, "id range must split into numPartitions slices")
  }

  test("column pruning reaches the v2 scan") {
    val df = spark.read.format("graft-queue")
      .option("numMessages", 10).load().select("event_id")
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    assert(leaves.head.output.map(_.name) == Seq("event_id"),
      s"scan must prune to the required column, got ${leaves.head.output}")
  }

  test("payload matches the a1 message algebra (url, token, flag)") {
    val row = spark.read.format("graft-queue").option("numMessages", 5).load()
      .where("event_id = 2").collect()(0)
    assert(row.getAs[String]("blob_url") ==
      "https://acct.blob.core.windows.net/userdata/user2/raw/file_2.nc")
    // a known answer, md5("2"), not md5hex compared with itself
    assert(graft.sources.IngestQueueSource.md5hex("2") == "c81e728d9d4c2f636f067f89cc14862c")
    assert(row.getAs[String]("token") == "c81e728d9d4c2f636f067f89cc14862c")
    assert(row.getAs[Boolean]("join_vector_tiles"))
  }

  test("event_id range predicate prunes input partitions (filter pushdown)") {
    def q = spark.read.format("graft-queue")
      .option("numMessages", 1000).option("numPartitions", 4).load()
    // full scan plans all 4 fixed chunks of the id space
    assert(q.rdd.getNumPartitions == 4)
    // a range predicate covering one chunk plans exactly that chunk
    val ranged = q.where("event_id >= 500 AND event_id < 750")
    assert(ranged.rdd.getNumPartitions == 1,
      "chunks outside the pushed range must not be planned")
    assert(ranged.count() == 250)
    val ids = ranged.agg(org.apache.spark.sql.functions.min("event_id"),
      org.apache.spark.sql.functions.max("event_id")).collect()(0)
    assert(ids.getLong(0) == 500 && ids.getLong(1) == 749)
    // point lookup plans a single partition and nothing is re-filtered
    val point = q.where("event_id = 7")
    assert(point.rdd.getNumPartitions == 1)
    assert(point.collect().map(_.getAs[Long]("event_id")).toSeq == Seq(7L))
    // non-id predicates stay post-scan (residual) and still apply
    val mixed = q.where("event_id < 250 AND join_vector_tiles")
    assert(mixed.rdd.getNumPartitions == 1)
    assert(mixed.count() == 125, "residual filter must still be evaluated")
  }
}
