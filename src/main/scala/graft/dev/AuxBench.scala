package graft.dev

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{IngestStream, ServiceLoop}
import graft.operators.Serving

/** dev tool: the two perf surfaces the per-query bench cannot see —
  *
  * 1. STREAMING THROUGHPUT: rows/sec draining a file-source backlog
  *    under Trigger.AvailableNow with the RocksDB state store (the
  *    production configuration), for the stateful streaming ops:
  *    h1 (stage state machine), h8 (sharded heavy hitters), h11
  *    (near-dup guard), plus the composed i1→h1→i5 service loop in
  *    messages/sec.
  * 2. INDEX BUILD VS SERVE: the one-off build cost of the persisted
  *    ANN/dedup indexes vs the per-query serve cost they buy
  *    (q_ann_ivfpq_indexed / q_dedup_served in the main bench measure
  *    serve only, amortizing the build by design).
  *
  * Prints ONE JSON line; recorded in SURVEY §5 per round.
  *
  *   runMain graft.dev.AuxBench [nEvents] [sfDir]
  */
object AuxBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.GraftSession.local()
    // the production state store; set before the first stream starts
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_aux_$tag").toString
    def drain(tag: String)(start: String => org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val t0 = System.nanoTime()
      val q = start(tmp(s"${tag}_ckpt"))
      if (!q.awaitTermination(600000L)) sys.error(s"$tag did not drain")
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }
    def rps(v: Double): Double = math.rint(n / v)

    // ---- backlog: n ingest events over n/5 assets, stages cycling ----
    val eventsDir = tmp("events")
    spark.range(n.toLong).select(
        concat(lit("https://acct/u"), (col("id") % (n / 5)).cast("string")).as("url"),
        concat(lit("user"), (col("id") % 1500).cast("string")).as("user"),
        element_at(array(lit("downloaded"), lit("processing"), lit("processing"),
          lit("processed"), lit("queued")), (col("id") % 5 + 1).cast("int")).as("stage"),
        (col("id") % 100).cast("int").as("progress"),
        (col("id") + 1).cast("long").as("eventTimeMs"))
      .write.mode("overwrite").parquet(eventsDir)
    val eventsSchema = spark.read.parquet(eventsDir).schema
    def eventStream = spark.readStream.schema(eventsSchema).parquet(eventsDir)
      .as[IngestStream.IngestEvent]

    // h1: per-asset state machine (n/5 asset keys through RocksDB)
    val h1Sec = drain("h1") { ckpt =>
      IngestStream.stageStateMachine(eventStream,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // h8: bounded sharded heavy hitters (update mode)
    val h8Sec = drain("h8") { ckpt =>
      IngestStream.frequentUsers(eventStream, cap = 64, nShards = 32)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // h11: perceptual near-dup guard (stream-stream self-join + dedup);
    // ~5% planted near-dups via shared chunk values
    val imagesDir = tmp("images")
    spark.range(n.toLong).select(
        col("id").as("docId"),
        (col("id") % (n / 20)).cast("int").as("c0"),
        ((col("id") * 7) % 65536).cast("int").as("c1"),
        ((col("id") * 13) % 65536).cast("int").as("c2"),
        ((col("id") * 31) % 65536).cast("int").as("c3"),
        (col("id") + 1).cast("long").as("eventTimeMs"))
      .write.mode("overwrite").parquet(imagesDir)
    val imagesSchema = spark.read.parquet(imagesDir).schema
    val h11Sec = drain("h11") { ckpt =>
      IngestStream.nearDupGuard(
          spark.readStream.schema(imagesSchema).parquet(imagesDir)
            .as[IngestStream.HashedImage])
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // h25: live profile monitor — n field samples over 3 fields with
    // ~6% nulls, KMV k=32 per field
    val profDir = tmp("prof")
    spark.range(n.toLong).select(
        element_at(array(lit("k"), lit("cents"), lit("beta")),
          (col("id") % 3 + 1).cast("int")).as("field"),
        col("id").as("ms"),
        (col("id") % 17 === 0).as("isNull"),
        (col("id") % 100000).as("v"),
        ((col("id") * 2654435761L) % 1152921504606846976L).as("h"))
      .write.mode("overwrite").parquet(profDir)
    val profSchema = spark.read.parquet(profDir).schema
    val h25Sec = drain("h25") { ckpt =>
      IngestStream.streamingProfile(
          spark.readStream.schema(profSchema).parquet(profDir)
            .as[IngestStream.FieldSample])
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // h28: decayed trending scores — n hits over 1000 keys
    val trendDir = tmp("trend")
    spark.range(n.toLong).select(
        concat(lit("k"), (col("id") % 1000).cast("string")).as("key"),
        (col("id") + 1).as("ms"))
      .write.mode("overwrite").parquet(trendDir)
    val trendSchema = spark.read.parquet(trendDir).schema
    val h28Sec = drain("h28") { ckpt =>
      IngestStream.streamingTrending(
          spark.readStream.schema(trendSchema).parquet(trendDir)
            .as[IngestStream.TrendHit])
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // h29: live co-occurrence — n items over n/50 baskets, 64-item vocab
    val basketDir = tmp("basket")
    spark.range(n.toLong).select(
        (col("id") % (n / 50)).as("basket"),
        concat(lit("i"), (col("id") * 7 % 64).cast("string")).as("item"),
        (col("id") + 1).as("ms"))
      .write.mode("overwrite").parquet(basketDir)
    val basketSchema = spark.read.parquet(basketDir).schema
    val h29Sec = drain("h29") { ckpt =>
      IngestStream.streamingBasket(
          spark.readStream.schema(basketSchema).parquet(basketDir)
            .as[IngestStream.BasketItem])
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // h30: quota ledger — n uploads over 1500 users
    val quotaDir = tmp("quota")
    spark.range(n.toLong).select(
        (col("id") % 1500).as("user"), col("id").as("eventId"),
        (col("id") + 1).as("ms"),
        (col("id") * 131071L % 50000000L + 1024L).as("nbytes"))
      .write.mode("overwrite").parquet(quotaDir)
    val quotaSchema = spark.read.parquet(quotaDir).schema
    val h30Sec = drain("h30") { ckpt =>
      IngestStream.streamingQuota(
          spark.readStream.schema(quotaSchema).parquet(quotaDir)
            .as[IngestStream.UploadEvent])
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    // composed service loop: i1 queue → h1 event-time machine → i5
    // pub/sub sink, messages/sec end to end
    val svcMessages = math.max(1000, n / 5)
    val svcSec = {
      val t0 = System.nanoTime()
      val q = ServiceLoop.run(spark, svcMessages, svcMessages / 4 + 1,
        tmp("svc_pub"), tmp("svc_ckpt"))
      if (!q.awaitTermination(600000L)) sys.error("service loop did not drain")
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }

    // h17: CDC apply — nCdc upsert/delete rows over 8 micro-batch
    // files merged into a 64-bucket table seeded with nCdc keys
    val nCdc = math.max(8000, n / 10)
    val cdcTable = tmp("cdc_table")
    graft.sources.DatasetsSink.mergeInto(spark, cdcTable, 64,
      spark.range(nCdc.toLong).select(col("id").as("key"),
        (col("id") * 10).as("v"), lit("u").as("op")))
    val cdcFeed = tmp("cdc_feed")
    (0 until 8).foreach { b =>
      spark.range(nCdc / 8).select(
          ((col("id") * 8 + b) % (nCdc * 2)).as("key"),
          (col("id") + b * 1000).as("v"),
          when(col("id") % 10 === 0, "d").otherwise("u").as("op"))
        .coalesce(1).write.mode("overwrite").parquet(s"$cdcFeed/.s$b")
      val fs = new org.apache.hadoop.fs.Path(cdcFeed)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$cdcFeed/.s$b"))
        .filter(_.getPath.getName.endsWith(".parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$cdcFeed/c$b.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$cdcFeed/.s$b"), true)
    }
    val cdcSec = {
      val t0 = System.nanoTime()
      val q = graft.streaming.CdcApply.run(spark, cdcFeed, cdcTable, 64, tmp("cdc_ckpt"))
      if (!q.awaitTermination(600000L)) sys.error("cdc apply did not drain")
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }
    val cdcRps = math.rint(nCdc / cdcSec)

    // ---- index build vs serve ----
    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // fresh build: drop any existing index for this corpus
    def rmrf(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { w =>
        w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(java.nio.file.Files.delete)
      }
    }
    rmrf(java.nio.file.Paths.get(Serving.indexRoot))
    val annBuild = timeIt(Serving.annIndexDir(spark, sfDir))
    val dedupBuild = timeIt(Serving.dedupIndexDir(spark, sfDir))
    def serve(fn: => org.apache.spark.sql.DataFrame): Double =
      Seq.fill(2)(timeIt(fn.write.format("noop").mode("overwrite").save())).min
    val annServe = serve(Serving.qAnnIvfPqIndexed(spark, sfDir))
    val dedupServe = serve(Serving.qDedupServed(spark, sfDir))

    println(s"""{"n_events":$n,"sf":"$sfDir",""" +
      s""""h1_rows_per_sec":${rps(h1Sec)},"h8_rows_per_sec":${rps(h8Sec)},""" +
      s""""h11_rows_per_sec":${rps(h11Sec)},"h25_rows_per_sec":${rps(h25Sec)},""" +
      s""""h28_rows_per_sec":${rps(h28Sec)},"h29_rows_per_sec":${rps(h29Sec)},""" +
      s""""h30_rows_per_sec":${rps(h30Sec)},""" +
      s""""service_loop_msgs_per_sec":${math.rint(svcMessages / svcSec)},""" +
      s""""cdc_apply_rows_per_sec":$cdcRps,""" +
      f""""ann_index_build_sec":$annBuild%.3f,"ann_serve_sec":$annServe%.3f,""" +
      f""""dedup_index_build_sec":$dedupBuild%.3f,"dedup_serve_sec":$dedupServe%.3f}""")
    spark.stop()
  }
}
