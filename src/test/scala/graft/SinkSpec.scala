package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.sources.DatasetsSink

/** Scan-optimized write path: zstd codec, in-partition clustering,
  * parquet bloom filters on point-lookup keys.
  */
class SinkSpec extends SparkTestBase {

  test("writeBatchIdempotent: a retried micro-batch replaces itself, never duplicates") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink_idem").toString
    DatasetsSink.writeBatchIdempotent((0 until 10).toDF("v"), 0L, out)
    DatasetsSink.writeBatchIdempotent((10 until 15).toDF("v"), 1L, out)
    assert(spark.read.parquet(out).count() == 15)
    // batch 1 fails mid-commit upstream and is retried with the same id
    DatasetsSink.writeBatchIdempotent((10 until 15).toDF("v"), 1L, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 15, "retry must replace, not append")
    assert(back.select("v").distinct().count() == 15)
    // batch_id is an ordinary partition column on read
    assert(back.where(col("batch_id") === 1).count() == 5)
  }

  test("writeOptimized emits zstd parquet with bloom filters on the key column") {
    val out = Files.createTempDirectory("graft_sink").toString
    // bloom filters target HIGH-cardinality point-lookup keys (content
    // hashes); low-cardinality columns stay fully dictionary-encoded
    // and parquet rightly drops their (redundant) bloom filter
    val df = spark.range(30000).select(
      col("id"),
      concat(md5(col("id").cast("string")), md5(concat(lit("x"), col("id").cast("string"))),
        md5(concat(lit("y"), col("id").cast("string"))), md5(concat(lit("z"), col("id").cast("string"))))
        .as("content_key"),
      (col("id") % 100).as("user_id"))
    DatasetsSink.writeOptimized(df.repartition(2), out,
      sortCols = Seq("user_id"), bloomCols = Seq("content_key"))

    val files = new File(out).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    assert(files.forall(_.getName.contains(".zstd.")),
      s"expected zstd codec in file names, got ${files.map(_.getName).toSeq}")

    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(files.head.getPath), new Configuration()))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size()).map(cols.get)
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName("content_key").getBloomFilterOffset >= 0,
        "content_key must carry a bloom filter")
      assert(byName("id").getBloomFilterOffset < 0,
        "bloom filters only on requested columns")
    } finally reader.close()

    // round-trip + point lookup still correct
    val back = spark.read.parquet(out)
    assert(back.count() == df.count())
    val probe = df.where(col("id") === 7).select("content_key").collect()(0).getString(0)
    assert(back.where(col("content_key") === probe).count() == 1)
  }

  test("readEvolved: drifting batch schemas read back as one canonical schema") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    // era 1: narrow ints, no lang column yet
    spark.range(3).select(col("id").cast("int").as("doc_id"),
      concat(lit("old_"), col("id")).as("text"))
      .write.mode("append").parquet(dir)
    // era 2: doc_id widened to long, lang added
    spark.range(3, 6).select(col("id").as("doc_id"),
      concat(lit("new_"), col("id")).as("text"), lit("en").as("lang"))
      .write.mode("append").parquet(dir)
    // era 3: a column the canonical schema later dropped
    spark.range(6, 9).select(col("id").as("doc_id"),
      concat(lit("tmp_"), col("id")).as("text"), lit("de").as("lang"),
      lit(0.5).as("legacy_score"))
      .write.mode("append").parquet(dir)
    val canonical = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val out = sources.DatasetsSink.readEvolved(spark, dir, canonical)
    // one stable schema: widened, aligned, dropped column pruned
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("doc_id", LongType), ("text", StringType), ("lang", StringType)))
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 9)
    // era-1 rows: missing lang reads as null, never a schema error
    assert(rows.take(3).forall(r => r.isNullAt(2) && r.getString(1).startsWith("old_")))
    assert(rows.drop(3).take(3).forall(_.getString(2) == "en"))
    // pruning survives the align: a doc_id-only query reads one column
    val plan = sources.DatasetsSink.readEvolved(spark, dir, canonical)
      .select("doc_id").queryExecution.executedPlan.toString
    assert(!plan.contains("legacy_score") && !plan.toLowerCase.contains("readschema: struct<doc_id:bigint,text"),
      s"align must not defeat column pruning:\n$plan")
  }

  test("compactPartition rewrites small files, keeps content/blooms, recovers a crashed commit") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_compact").toString
    // 20 micro-batch landings of a few rows each — the i4 layout after
    // a bursty day; each batch dir holds at least one small parquet
    (0 until 20).foreach { b =>
      DatasetsSink.writeBatchIdempotent(
        (b * 10 until b * 10 + 10).map(i => (i.toLong, s"k$i")).toDF("id", "content_key"),
        b.toLong, table)
    }
    val part = s"$table/batch_id=3"
    val before = new File(part).listFiles.count(_.getName.endsWith(".parquet"))
    assert(before >= 1)
    // make the partition multi-file so compaction has work
    DatasetsSink.writeBatchIdempotent(
      (30 until 40).map(i => (i.toLong, s"k$i")).toDF("id", "content_key")
        .repartition(8), 3L, table)
    val scattered = new File(part).listFiles.count(_.getName.endsWith(".parquet"))
    assert(scattered >= 4, s"expected a multi-file partition, got $scattered")

    val stats = DatasetsSink.compactPartition(spark, part,
      targetBytes = 64L * 1024 * 1024, sortCols = Seq("id"), bloomCols = Seq("content_key"))
    assert(!stats.skipped && stats.filesBefore == scattered && stats.filesAfter == 1,
      s"expected $scattered -> 1 files, got $stats")
    // content is the exact multiset, blooms survive the rewrite
    val back = spark.read.parquet(part)
    assert(back.count() == 10 && back.select("id").distinct().count() == 10)
    val pf = new File(part).listFiles.filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(pf.getPath), new Configuration()))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size()).map(cols.get)
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName("content_key").getBloomFilterOffset >= 0,
        "compacted file must keep the bloom filter")
    } finally reader.close()
    // whole-table read still sees every batch (partition col intact)
    assert(spark.read.parquet(table).count() == 200)

    // re-run is a no-op
    val again = DatasetsSink.compactPartition(spark, part,
      targetBytes = 64L * 1024 * 1024, sortCols = Seq("id"), bloomCols = Seq("content_key"))
    assert(again.skipped && again.filesAfter == 1)

    // crashed commit: live renamed away, staging fully written — the
    // next call must finish the swap before doing anything else
    val fs = new Path(part).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(s"$table/.batch_id=3.compact_staging")
    fs.rename(new Path(part), staging)
    assert(!new File(part).exists())
    val recovered = DatasetsSink.compactPartition(spark, part,
      targetBytes = 64L * 1024 * 1024, sortCols = Seq("id"), bloomCols = Seq("content_key"))
    assert(recovered.skipped, "recovered partition is already compact")
    assert(spark.read.parquet(part).count() == 10, "crashed commit must recover losslessly")
  }

  test("i16+b33: a gh8-range-ordered lake reads only the cover's files under the bbox predicate") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // END-TO-END file pruning: events land range-ordered on the gh8
    // key (b31), the b33 gh2 cover turns the bbox into a prefix
    // IN-list, and the parquet footer stats must confine the read to
    // the files whose gh2 interval intersects the COVER — the other
    // files' rows never decode. This is the read path the two ops
    // exist for: spatial predicate → prefix cover → footer pruning.
    val out = Files.createTempDirectory("graft_ghrange").toString
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"),
        least(floor((functions.Synth.lon(col("event_id")) + 180.0) / 360.0 * 1048576),
          lit(1048575.0)).cast("long").as("xq"),
        least(floor((functions.Synth.lat(col("event_id")) + 90.0) / 180.0 * 1048576),
          lit(1048575.0)).cast("long").as("yq"))
      .withColumn("gh8", expr("graft_geohash8(xq, yq)"))
      .withColumn("gh2", expr("substring(gh8, 1, 2)"))
    // 64 range files: narrow enough gh2 intervals that the fragmented
    // z-curve cover (324 of 1024 cells) leaves whole files untouched
    // (probed: 42/64 files overlap, holding ~2/3 of the rows)
    DatasetsSink.writeRangeOrdered(e, out, "gh8", files = 64)

    // the b33 cover: every gh2 cell of the bbox's candidate rectangle
    // (full cells need no row filter; partial ones do — both need
    // their FILES), with the per-cell counts as the oracle
    val coverDf = operators.GeoOps.qGeohashCover(spark, sfDir)
    val cover = coverDf.select("gh2").collect().map(_.getString(0)).toSet
    val wantRows = coverDf.agg(sum("n_in_cell")).head().getLong(0)

    // footer gh2 intervals per file → which files CAN hold cover rows
    val files = new File(out).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 32, s"expected a multi-file layout, got ${files.length}")
    val fileStats = files.toSeq.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
      try {
        val blocks = reader.getFooter.getBlocks
        val stats = (0 until blocks.size()).map { b =>
          val cols = blocks.get(b).getColumns
          (0 until cols.size()).map(cols.get)
            .find(_.getPath.toDotString == "gh2").get.getStatistics
        }
        val rows = (0 until blocks.size()).map(blocks.get(_).getRowCount).sum
        (stats.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8).min,
          stats.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8).max, rows)
      } finally reader.close()
    }
    val overlapping = fileStats.filter { case (lo, hi, _) =>
      cover.exists(p => lo <= p && p <= hi) }
    assert(overlapping.size < fileStats.size,
      s"cover must NOT touch every file (${overlapping.size}/${fileStats.size}) — " +
        "otherwise the scenario proves nothing")

    // drive the scan with the cover predicate; rows READ must be
    // bounded by the overlapping files' rows (pruned files contribute
    // zero), and the answer must equal b33's own per-cell accounting
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    val thresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "1024") // keep the 324-prefix IN pushable as-is
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val rows = spark.read.parquet(out)
          .filter(col("gh2").isin(cover.toSeq: _*)).count()
        val deadline = System.nanoTime() + 10e9.toLong
        var last = -1L
        while (System.nanoTime() < deadline && read.get() != last) {
          last = read.get(); Thread.sleep(200)
        }
        rows
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set(thresholdKey, prev)
      }
    assert(got == wantRows, s"cover scan answered $got, b33 accounts $wantRows")
    val ceiling = overlapping.map(_._3).sum
    assert(read.get() <= ceiling,
      s"read ${read.get()} rows but only $ceiling live in cover-overlapping files — " +
        "footer pruning did not engage")
  }

  test("i12 writeZOrdered: a 2-d box query reads a fraction of what the scattered layout reads") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // 256×256 grid, 4 points per cell — identical data written two
    // ways; only row-group stats differ
    val n = 262144L
    val pts = spark.range(n).selectExpr("id % 256 AS xt", "(id div 256) % 256 AS yt", "id AS payload")
    val zdir = Files.createTempDirectory("graft_zorder").toString
    val sdir = Files.createTempDirectory("graft_scatter").toString
    DatasetsSink.writeZOrdered(pts, zdir, "xt", "yt", bits = 8, files = 32)
    pts.repartition(32).write.mode("overwrite").parquet(sdir)

    def recordsReadFor(path: String): (Long, Long) = {
      val read = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val rows = spark.read.parquet(path)
          .filter(col("xt").between(16, 31) && col("yt").between(16, 31))
          .count()
        // metrics settle asynchronously; poll until stable
        val deadline = System.nanoTime() + 10e9.toLong
        var last = -1L
        while (System.nanoTime() < deadline && read.get() != last) {
          last = read.get(); Thread.sleep(200)
        }
        (rows, read.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val (zRows, zRead) = recordsReadFor(zdir)
    val (sRows, sRead) = recordsReadFor(sdir)
    assert(zRows == 1024L && sRows == 1024L, "both layouts must answer identically")
    // scattered: every file's min/max spans the whole grid — nothing
    // prunes; clustered: the box is one aligned z-curve segment, so
    // only the file(s) whose segment crosses it decode
    assert(sRead >= n / 2, s"scattered layout read only $sRead — scenario not adversarial")
    assert(zRead * 8 <= sRead,
      s"z-order read $zRead vs scattered $sRead — row-group pruning not engaging")
  }

  test("i12 writeHilbertClustered: files own pairwise-disjoint Hilbert key ranges") {
    // same 256×256 grid as the z-order test; the Hilbert variant must
    // partition the curve into disjoint contiguous segments — each
    // written file's [min, max] hilbert range may not overlap another's
    val pts = spark.range(65536L)
      .selectExpr("id % 256 AS xt", "(id div 256) % 256 AS yt", "id AS payload")
    val out = Files.createTempDirectory("graft_hilbert_cl").toString
    DatasetsSink.writeHilbertClustered(pts, out, "xt", "yt", z = 8, files = 16)
    val files = new File(out).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 8, s"expected several clustered files, got ${files.length}")
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getPath)
        .selectExpr("min(graft_hilbert(8, CAST(xt AS BIGINT), CAST(yt AS BIGINT))) AS lo",
          "max(graft_hilbert(8, CAST(xt AS BIGINT), CAST(yt AS BIGINT))) AS hi")
        .head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(loB > hiA, s"hilbert file ranges overlap: $ranges")
      case _ =>
    }
    // the union covers the full curve over the grid and nothing is lost
    assert(ranges.head._1 == 0L && ranges.last._2 == 65535L)
    assert(spark.read.parquet(out).count() == 65536L)
  }

  test("i16 writeRangeOrdered: file key intervals are pairwise disjoint, a point prunes to one file") {
    val out = Files.createTempDirectory("graft_range").toString
    val df = Tables(spark, sfDir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    DatasetsSink.writeRangeOrdered(df, out, "o_totalprice", files = 8)
    val files = new File(out).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4, s"expected several range files, got ${files.length}")
    // read each file's min/max footer stats for the key column
    val ranges = files.toSeq.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
      try {
        val blocks = reader.getFooter.getBlocks
        val stats = (0 until blocks.size()).map { b =>
          val cols = blocks.get(b).getColumns
          (0 until cols.size()).map(cols.get)
            .find(_.getPath.toDotString == "o_totalprice").get.getStatistics
        }
        (stats.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue).min,
          stats.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue).max)
      } finally reader.close()
    }.sortBy(_._1)
    // disjoint, ordered intervals: each file's min is >= the previous
    // file's max (range partitioning puts boundary duplicates in one
    // side, so >= not >)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(loB >= hiA, s"file ranges overlap: $ranges")
      case _ =>
    }
    // a point predicate's value falls inside exactly one interval
    // (boundary-equal values can touch two; probe an interior point)
    val probe = df.agg(expr("percentile_approx(o_totalprice, 0.5)")).head().getDouble(0)
    val containing = ranges.count { case (lo, hi) => probe > lo && probe < hi }
    assert(containing <= 1, s"interior point $probe inside $containing intervals")
    // round trip intact
    assert(spark.read.parquet(out).count() == df.count())
  }

  test("i15 writeBucketed: bucketed tables join with ZERO exchanges, byte-equal to the shuffled join") {
    val o = Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables(spark, sfDir, "customer").select("c_custkey", "c_name")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle shape (customer would broadcast at this sf
      // and hide the exchange question entirely)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      DatasetsSink.writeBucketed(o, "i15_orders", "o_custkey", 8)
      DatasetsSink.writeBucketed(c, "i15_cust", "c_custkey", 8)
      val bucketed = spark.table("i15_orders")
        .join(spark.table("i15_cust"), col("o_custkey") === col("c_custkey"))
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle either side:\n$plan")
      // the plain parquet join pays two exchanges for the same answer
      val shuffled = o.join(c, col("o_custkey") === col("c_custkey"))
      val shuffledPlan = shuffled.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(shuffledPlan).size >= 2,
        s"control join should shuffle both sides:\n$shuffledPlan")
      val a = bucketed.collect().map(_.toString).sorted.toSeq
      val b = shuffled.collect().map(_.toString).sorted.toSeq
      assert(a == b, "bucketed join result diverged from the shuffled join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS i15_orders")
      spark.sql("DROP TABLE IF EXISTS i15_cust")
    }
  }
}
