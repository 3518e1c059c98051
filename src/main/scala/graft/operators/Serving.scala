package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Oracle, Query, Tables}
import graft.functions.TextFns._
import graft.sources.{DatasetsSink, VersionedTable}

/** §2 E/D serving path — ANN and dedup answered from a PERSISTED
  * index instead of rebuilding signatures per query. e9 recomputes
  * centroids and PQ codes on every invocation and d8 re-derives the
  * standing corpus' MinHash signatures per batch; production builds
  * those once at ingest (FAISS writes the IVF lists + code table,
  * dedup services keep a signature store) and every query reads the
  * persisted structure. Here the build step writes the index through
  * i3's scan-optimized layout (DatasetsSink.writeIndexed: partitioned
  * by cell / band shard, sorted, zstd, bloom) and the serve queries
  * read it back bucket-pruned — the plan shows a LITERAL partition
  * filter on the probed cell, so a 100 TB index serves a query from
  * one partition directory, not a corpus scan.
  *
  * The serve queries return byte-identical results to their
  * rebuild-every-time twins (e9 / d8), so they share those oracles —
  * the index is an ARCHITECTURE change, not a semantics change.
  *
  * Index lifecycle: the index dir is keyed by a content fingerprint
  * (file names/sizes/mtimes) of the source tables, so a changed
  * corpus can never serve a stale index — the rebuilt corpus gets a
  * fresh dir, and builds are idempotent (ready-marker last).
  */
object Serving {

  // ---------- index location & lifecycle ----------

  private[graft] def indexRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      System.getProperty("java.io.tmpdir") + "/graft_index")

  /** Content fingerprint of the source tables an index derives from. */
  private[graft] def fingerprint(dir: String, tables: Seq[String]): String = {
    val parts = tables.flatMap { t =>
      val p = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(p)) Seq(s"$t:absent")
      else scala.util.Using.resource(Files.walk(p)) { w =>
        val it = w.iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f))
            b += s"${p.relativize(f)}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
        }
        b.result().sorted
      }
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir +: parts).mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Build-once gate: runs `build` only if the ready marker is absent
    * (driver-side control, one line of state — the in-session twin of
    * "the ingest pipeline wrote the index last night"). */
  private def ensure(name: String, fp: String)(build: String => Unit): String = {
    val dir = s"$indexRoot/${name}_$fp"
    val marker = Paths.get(dir, "_GRAFT_INDEX_READY")
    if (!Files.exists(marker)) {
      build(dir)
      Files.createDirectories(marker.getParent)
      Files.write(marker, Array.emptyByteArray)
    }
    dir
  }

  // ---------- e12: IVFPQ index build + serve ----------

  /** Build (or reuse) the persisted IVFPQ index for `dir`'s
    * embeddings: `centroids` (exact-decimal cell numerators, e3's
    * convention), `codebook` (the PQ anchor vectors), and `cells` —
    * every vector's 8 PQ codes + raw embedding, PARTITIONED BY CELL
    * and sorted/bloomed on vec_id. The one-off build cost is the
    * point: e9 pays the centroid pass + code assignment on EVERY
    * query; here they amortize over the index lifetime. */
  def annIndexDir(spark: SparkSession, dir: String): String = {
    ensure("ann", fingerprint(dir, Seq("embeddings"))) { ix =>
      buildAnnIndex(Tables(spark, dir, "embeddings"), ix)
    }
  }

  /** Build the IVFPQ index from any (vec_id, label, embedding) frame
    * into an explicit target — `label` is the cell assignment, which
    * is the deterministic corpus label for the oracle-gated e12 and a
    * TRAINED `Ann.trainCentroids` assignment in the training-spec
    * composition (the cells a production build would use). */
  private[graft] def buildAnnIndex(e: DataFrame, ix: String): Unit = {
    val cent = Ann.ivfCentroids(e.select(col("label"),
      posexplode(col("embedding")).as(Seq("i", "v"))))
    DatasetsSink.writeOptimized(cent, s"$ix/centroids", Seq("label", "i"), Seq.empty)
    val anchors = Ann.pqAnchors(e)
    DatasetsSink.writeOptimized(anchors, s"$ix/codebook", Seq("a_id"), Seq.empty)
    // per-vector PQ codes (e9's exact integer encode, over the WHOLE
    // corpus once instead of the probed cell per query)
    val codes = Ann.pqEncode(e, anchors, Ann.pqKeys)
    val cells = codes.join(e.select(col("vec_id"), col("label"), col("embedding")), "vec_id")
    DatasetsSink.writeIndexed(cells, s"$ix/cells",
      partitionCols = Seq("label"), sortCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
  }

  /** e12 — q_ann_ivfpq_indexed: e9's query served from the persisted
    * index. The probe reads the tiny centroids table, the router
    * collects the winning cell (one row) so the code-table scan is a
    * LITERAL partition filter — static pruning, 1/nlist of the index
    * touched — and the rerank reads raw vectors from the SAME pruned
    * partition (the index is self-contained; the base table is only
    * consulted for the query vector). Result is byte-identical to e9,
    * so it shares e9's oracle. */
  def qAnnIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    qAnnIvfPqIndexedAt(spark, Tables(spark, dir, "embeddings"),
      annIndexDir(spark, dir), queryVecId = 0L)
  }

  /** [[qAnnIvfPqIndexed]] against an explicit index dir, base frame,
    * query vector, and rerank depth — the training-spec composition
    * serves many queries from indexes whose cells came from different
    * centroid sets. `rerankDepth` is the standard IVFPQ knob (how
    * many ADC candidates get the exact-distance rerank): 10 is the
    * e9-oracle shape; evaluation reranks deeper so cell quality, not
    * 4-anchor ADC coarseness, is what recall measures. */
  private[graft] def qAnnIvfPqIndexedAt(spark: SparkSession, e: DataFrame,
      ix: String, queryVecId: Long, rerankDepth: Int = 10,
      deltaDirs: Seq[String] = Nil, tombstoneDirs: Seq[String] = Nil): DataFrame = {
    val q = e.filter(col("vec_id") === queryVecId).select(col("embedding").as("qv"))
    val dots = Ann.ivfDots(spark.read.parquet(s"$ix/centroids"), Ann.queryDims(e, queryVecId))
    // the query router's probe decision: one tiny driver-side row, so
    // the cell scan below prunes statically (visible PartitionFilters)
    val bestLabel = Ann.ivfBest(dots).select(col("label").cast("int")).head().getInt(0)
    // base cells ∪ any absorbed deltas (e22) — each source is its own
    // label-partitioned layout, so the literal probe filter prunes
    // every one of them to a single partition directory
    val cellsBase = spark.read.parquet(s"$ix/cells")
    val cellsLive = deltaDirs.foldLeft(cellsBase) { (acc, d) =>
        acc.unionByName(spark.read.parquet(d).select(cellsBase.columns.map(col): _*))
      }.filter(col("label") === lit(bestLabel))
    // e23: tombstoned vectors drop out BEFORE any scoring — the
    // tombstone set is tiny (recent deletes, vacuumed away at the
    // next rebuild) and broadcasts against the already-pruned cell
    val cells = tombstoneDirs.foldLeft(cellsLive) { (acc, t) =>
        acc.join(broadcast(spark.read.parquet(t).select("vec_id")),
          Seq("vec_id"), "left_anti")
      }
    val lut = Ann.pqLut(spark.read.parquet(s"$ix/codebook"), q, Ann.pqLutDots)
    Ann.adcRerank(cells, lut, Ann.pqAdc, cells, q, rerankDepth)
  }

  /** e13 — q_ann_batch_indexed: a BATCH of queries served from the
    * persisted index in ONE pass (e5's one-corpus-pass batching × the
    * e12 index architecture — the production online-serving shape,
    * where requests are micro-batched against the index). The router
    * probes all queries against the tiny centroids table, collects
    * the 8 probe decisions, and scans the code table ONCE with a
    * literal multi-cell partition filter (the UNION of probed cells —
    * at 100 TB the batch touches |distinct probed cells|/nlist of the
    * index, however many queries share a cell). ADC scoring joins the
    * pruned code rows to a broadcast per-query LUT keyed by the
    * query's probe cell, top-10 per query is a WindowGroupLimit rank,
    * and the exact rerank reads raw vectors from the same pruned
    * partitions. Fully oracle-gated (the per-query math is e9's,
    * generalized over the batch). */
  def qAnnBatchIndexed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ix = annIndexDir(spark, dir)
    val e = Tables(spark, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qe = qs.select(col("q_id"), posexplode(col("qv")).as(Seq("i", "qvi")))
    val dots = Ann.ivfDots(spark.read.parquet(s"$ix/centroids"), qe, "qvi", Seq("q_id", "label"))
    // the router's batch of probe decisions — 8 tiny rows collected, so
    // the cell scan prunes statically to the union of probed partitions
    val probeRows = dots
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dot").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").cast("int").as("plabel"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val probedLabels = probeRows.map(_._2).distinct
    import spark.implicits._
    val probes = broadcast(probeRows.toDF("q_id", "plabel"))
    val cells = spark.read.parquet(s"$ix/cells")
      .filter(col("label").isInCollection(probedLabels))
    val cl = cells.select(col("vec_id"), col("label"), Ann.pqCodeCells)
      .join(probes, col("label") === col("plabel"))
      .select(col("q_id"), col("vec_id"), col("j"), col("code"))
    val lut = Ann.pqLut(spark.read.parquet(s"$ix/codebook"), qs, Ann.pqLutDots, col("q_id"))
    val adc = cl.as("cl").join(broadcast(lut.as("lt")),
        col("cl.q_id") === col("lt.q_id") && col("cl.code") === col("lt.a_id") &&
          col("cl.j") === col("lt.j"))
      .groupBy(col("cl.q_id").as("q_id"), col("cl.vec_id").as("vec_id"))
      .agg(Ann.pqAdc.as("adc"))
    val w = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .join(cells.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qs), "q_id")
      .select(col("q_id"), col("vec_id"), col("adc"),
        expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("q_id"), col("adc").desc, col("vec_id"))
  }

  val qAnnBatchIndexedSql: String = {
    s"""WITH pe AS (
        SELECT label, unnest(generate_series(1, len(embedding))) AS i, unnest(embedding) AS v
        FROM embeddings),
      cent AS (
        SELECT label, i,
          CAST(SUM(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(8,6))) AS DECIMAL(12,6)) AS s,
          COUNT(*) AS n
        FROM pe GROUP BY label, i),
      qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
      qe AS (SELECT q_id, unnest(generate_series(1, len(qv))) AS i, unnest(qv) AS qvi FROM qs),
      cdots AS (
        SELECT q_id, label,
          CAST(SUM(CAST(round(CAST(qvi AS DOUBLE), 6) AS DECIMAL(8,6)) * s) AS DOUBLE) / MAX(n) AS dot
        FROM cent JOIN qe USING (i) GROUP BY q_id, label),
      probe AS (SELECT q_id, label FROM (
          SELECT q_id, label, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, label) AS rn
          FROM cdots) x WHERE rn = 1),
      anchors AS (SELECT vec_id AS a_id, embedding AS a FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
      scored AS (SELECT e.vec_id, e.label, a_id, ${Ann.pqKeysDuck} FROM embeddings e, anchors
        WHERE e.label IN (SELECT label FROM probe)),
      codes AS (SELECT vec_id, label, ${Ann.pqCodeColsDuck} FROM scored GROUP BY vec_id, label),
      cl AS (SELECT p.q_id, c.vec_id, c.j, c.code FROM (
          SELECT vec_id, label, unnest([0,1,2,3,4,5,6,7]) AS j,
            unnest([c0,c1,c2,c3,c4,c5,c6,c7]) AS code FROM codes) c
        JOIN probe p ON p.label = c.label),
      lut AS (SELECT q_id, a_id, j, CASE j ${Ann.pqLutCaseDuck} END AS dot_i
        FROM (SELECT q_id, a_id, ${Ann.pqLutsDuck}, unnest([0,1,2,3,4,5,6,7]) AS j FROM anchors, qs) x),
      adc AS (
        SELECT cl.q_id AS q_id, cl.vec_id AS vec_id,
          round(CAST(CAST(SUM(lut.dot_i) AS BIGINT) AS DOUBLE) / 1000000, 6) AS adc
        FROM cl JOIN lut ON lut.q_id = cl.q_id AND lut.a_id = cl.code AND lut.j = cl.j
        GROUP BY cl.q_id, cl.vec_id),
      top AS (SELECT q_id, vec_id, adc FROM (
          SELECT q_id, vec_id, adc,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS rn
          FROM adc) t WHERE rn <= 10)
      SELECT t.q_id AS q_id, t.vec_id AS vec_id, t.adc AS adc,
        ${Ann.cosineDuck("e.embedding", "qv")} AS cos_sim
      FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
        JOIN qs ON qs.q_id = t.q_id
      ORDER BY q_id, adc DESC, vec_id"""
  }

  // ---------- d10: dedup served from the signature index ----------

  /** Build (or reuse) the persisted dedup index over the standing
    * corpus (doc_id % 10 != 7 — d8's convention): exact content keys
    * (sorted+bloomed on ck — point lookups), shingle sets (sorted on
    * doc_id — the verify side), and the MinHash band keys at the
    * PLANNER'S (r, b) — `Dedup.tunedBanding`'s verify-weighted argmin
    * (today (2, 4)), so d28's tuned choice is what the index
    * physically serializes and screens with, not a parallel constant
    * that could drift (the d28 amortization closed in code: the
    * pair-graph banding is paid once at ingest, every warm consumer
    * reads these keys). d8 recomputes all three per batch; at 100 TB
    * the signature store is written once at ingest and each daily
    * batch only hashes ITSELF. */
  def dedupIndexDir(spark: SparkSession, dir: String): String = {
    ensure("dedup", fingerprint(dir, Seq("documents")))(buildDedupIndex(spark, dir, _))
  }

  /** Base build of the signature index (the standing corpus, d8's
    * doc_id % 10 != 7 convention) into an explicit target — the
    * absorb-cycle spec maintains its OWN index copy so the shared
    * fingerprint-keyed dir stays byte-identical to what the d10
    * oracle expects. */
  private[graft] def buildDedupIndex(spark: SparkSession, dir: String, ix: String): Unit = {
    val idx = Tables(spark, dir, "documents").filter(col("doc_id") % 10 =!= 7)
    writeSignatures(idx.select(col("doc_id"), col("text")), ix, batchId = 0L)
  }

  /** Write one batch's signature tables (content keys, shingle sets,
    * band keys) under `batch_id=<id>` subdirectories of the index —
    * the base build is batch 0, [[absorbBatch]] appends later batches.
    * Overwrite-by-batch-id (i4's idempotent landing): a retried
    * absorb REPLACES itself instead of duplicating signatures. */
  private def writeSignatures(docs: DataFrame, ix: String, batchId: Long): Unit = {
    val src = Tables.fanout(docs)
    val keys = src.select(col("doc_id"), md5(expr(normSpark)).as("ck"))
    DatasetsSink.writeOptimized(keys, s"$ix/keys/batch_id=$batchId", Seq("ck"), Seq("ck"))
    val sh = src.select(col("doc_id"), expr(shSpark).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true) // feeds both the shingle store and the bands
    DatasetsSink.writeOptimized(sh, s"$ix/shingles/batch_id=$batchId",
      Seq("doc_id"), Seq("doc_id"))
    val (r, b) = Dedup.tunedBanding(docs.sparkSession)
    val bands = Dedup.minhashBands(Dedup.minhashSig(sh), r, b)
    DatasetsSink.writeOptimized(bands, s"$ix/bands/batch_id=$batchId",
      Seq("bkey"), Seq("bkey"))
  }

  /** i7 — index MAINTENANCE, the other half of the daily cycle: after
    * [[qDedupServed]] screens the arriving batch, its KEEPERS join
    * the standing corpus — so tomorrow's re-upload of today's novel
    * content is caught. The reference's equivalent is the blob
    * metadata it writes after every ingest; at 100 TB this is the
    * difference between an index that decays (misses everything
    * ingested since the build) and one that tracks the corpus. The
    * keeper signatures land as one `batch_id` partition per absorb —
    * idempotent per batch id, atomic enough for a daily job (readers
    * see a batch entirely or not at all once its files commit). */
  def absorbBatch(spark: SparkSession, dir: String, ix: String, batchId: Long): Unit = {
    // screen EXCLUDING this batch's own partition: a retried absorb
    // must recompute the same keeper set from the pre-absorb index —
    // screening against its own half-written (or complete) first
    // attempt would find self-matches and absorb nothing
    val keepers = qDedupServedAt(spark, dir, ix, excludeBatch = Some(batchId))
      .filter(col("verdict") === "keep").select("doc_id")
    val docs = Tables(spark, dir, "documents")
      .join(keepers, "doc_id").select(col("doc_id"), col("text"))
    writeSignatures(docs, ix, batchId)
  }

  /** d10 — q_dedup_served: d8's incremental screen with the standing
    * corpus read from the persisted signature index. The arriving
    * batch hashes only itself; its keys/bands BROADCAST against the
    * streamed index tables (the batch is tiny next to the index), and
    * the Jaccard verify reads stored shingle sets instead of
    * re-shingling the corpus. Byte-identical to d8 ⇒ shares its
    * oracle. */
  def qDedupServed(spark: SparkSession, dir: String): DataFrame =
    qDedupServedAt(spark, dir, dedupIndexDir(spark, dir))

  /** [[qDedupServed]] against an explicit index dir — the absorb
    * cycle's screen step runs on a MAINTAINED index, not the
    * fingerprint-keyed build. `excludeBatch` drops one `batch_id`
    * partition from every index read (partition-pruned) — the absorb
    * retry path's self-exclusion. */
  private[graft] def qDedupServedAt(spark: SparkSession, dir: String, ix: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    def ixRead(table: String): DataFrame = {
      val t = spark.read.parquet(s"$ix/$table")
      excludeBatch.fold(t)(b => t.where(col("batch_id") =!= b))
    }
    val d = Tables(spark, dir, "documents")
    val batch = d.filter(col("doc_id") % 10 === 7)
    val src = Tables.fanout(batch.select(col("doc_id"), col("text")))
    val bKeys = src.select(col("doc_id"), md5(expr(normSpark)).as("ck"))
    val exact = broadcast(bKeys)
      .join(ixRead("keys").select(col("doc_id").as("idx_id"), col("ck")), "ck")
      .groupBy("doc_id").agg(min("idx_id").as("m_exact"))
    val bSh = src.select(col("doc_id"), expr(shSpark).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true) // bands + two verify consumers below
    val (rT, bT) = Dedup.tunedBanding(spark)
    val bBands = Dedup.minhashBands(Dedup.minhashSig(bSh), rT, bT)
    val iBands = ixRead("bands")
    val cand = broadcast(bBands.as("n"))
      .join(iBands.as("i"),
        col("n.b") === col("i.b") && col("n.bkey") === col("i.bkey"))
      .select(col("n.doc_id").as("doc_id"), col("i.doc_id").as("idx_id"))
      .distinct()
    val near = Dedup.nearMatches(cand, broadcast(bSh), ixRead("shingles"))
    Dedup.screenVerdict(batch.select(col("doc_id")), exact, near)
  }

  /** e18 — FILTERED serving from the persisted index (e8 × e12, the
    * production RAG query): the metadata predicate admits doc ids,
    * the probe decision comes from the PERSISTED centroids (collected
    * — so the cell scan is a LITERAL partition filter, 1/nlist of the
    * index), and the admission join lands BEFORE any cosine. The base
    * table is consulted only for the query vector. Byte-identical to
    * e8's rebuild-every-time twin (same exact-decimal centroids from
    * the same cells), so it shares e8's oracle — the driver
    * hash-verifies that filtered serving changes nothing
    * semantically. */
  def qAnnFilteredIndexed(spark: SparkSession, dir: String): DataFrame = {
    val ix = annIndexDir(spark, dir)
    val e = Tables(spark, dir, "embeddings")
    val admissible = Tables(spark, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    val dots = Ann.ivfDots(spark.read.parquet(s"$ix/centroids"), Ann.queryDims(e))
    val bestLabel = Ann.ivfBest(dots).select(col("label").cast("int")).head().getInt(0)
    val cells = spark.read.parquet(s"$ix/cells")
      .filter(col("label") === lit(bestLabel))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    cells.select(col("vec_id"), col("label"), col("embedding"))
      .join(admissible, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** e30 — ANN index GC (the maintenance half e23 defers to "the next
    * rebuild", made SURGICAL): tombstones accumulate as anti-join
    * batches every query pays a broadcast for; once a CELL's
    * tombstoned fraction crosses the threshold, rewriting just that
    * label partition is cheaper than carrying the filter forever —
    * Lucene's segment-GC economics on the label-partitioned cell
    * layout. Per over-threshold cell: read ITS partition dir, drop
    * tombstoned rows, write to a dot-prefixed temp dir (invisible to
    * Spark's listing) and swap through a RECOVERABLE rename sequence
    * (move live aside → promote tmp → drop aside, every rename result
    * checked — see [[repairAnnCells]] for the crash-window walk);
    * under-threshold cells stay BYTE-STABLE. The input tombstone
    * batches consolidate into one remainder batch holding only ids
    * whose cells were NOT rewritten (they still need the serve-time
    * anti-join); the applied batches are deleted. At 100 TB this is
    * O(dirty cells) data rewritten + one bounded control-plane
    * collect — and the bound is STRUCTURAL, not prose: the
    * consolidated tombstone set must fit `maxTombstones` (sized so
    * the remainder batch every query broadcasts stays under Spark's
    * 10 MB auto-broadcast threshold — 10⁶ longs ≈ 8 MB), or the call
    * refuses loudly, forcing the GC/vacuum cadence that keeps deletes
    * "recent" per the e23 contract. Returns (rewritten labels,
    * remainder size). */
  def gcAnnCells(spark: SparkSession, ix: String, tombstoneDirs: Seq[String],
      gcBatchId: Long, thresholdPpm: Long = 200000L,
      maxTombstones: Long = 1000000L): (Seq[Int], Long) = {
    import org.apache.hadoop.fs.Path
    require(tombstoneDirs.nonEmpty, "nothing to GC")
    // self-heal first: finish any predecessor's interrupted swap so
    // this pass reads complete cells (one listStatus when clean)
    repairAnnCells(spark, ix): Unit
    val ts = tombstoneDirs.map(d => spark.read.parquet(d).select("vec_id"))
      .reduce(_.unionByName(_)).distinct().localCheckpoint(true)
    val nTs = ts.count()
    require(nTs <= maxTombstones,
      s"$nTs consolidated tombstones exceed the broadcast-sized bound " +
        s"$maxTombstones — GC more often (e23's recent-deletes contract)")
    val cells = spark.read.parquet(s"$ix/cells")
    val stats = cells
      .join(broadcast(ts.withColumnRenamed("vec_id", "tv")),
        col("vec_id") === col("tv"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n"), count(col("tv")).as("nts"))
    val over = stats
      .filter(col("nts") * 1000000L >= lit(thresholdPpm) * col("n"))
      .select(col("label").cast("int")).collect().map(_.getInt(0)).toSeq.sorted
    // remainder BEFORE any rewrite (the cells frame's file listing
    // must not see swapped dirs): ids outside the rewritten cells
    val remaining =
      if (over.isEmpty) ts.collect().map(_.getLong(0)).toSeq.sorted
      else ts.join(cells.filter(col("label").isin(over: _*)).select("vec_id"),
          Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)).toSeq.sorted
    val fs = new Path(ix).getFileSystem(spark.sparkContext.hadoopConfiguration)
    over.foreach { l =>
      val (dir, tmp, aside) = gcCellPaths(ix, l)
      val cleaned = spark.read.parquet(dir.toString)
        .join(broadcast(ts), Seq("vec_id"), "left_anti")
        .localCheckpoint(true) // sever the file read before the swap
      if (cleaned.isEmpty) fs.delete(dir, true)
      else {
        DatasetsSink.writeOptimized(cleaned, tmp.toString, Seq("vec_id"), Seq("vec_id"))
        // every crash window of the swap leaves a state
        // [[repairAnnCells]] finishes from; a failed rename throws
        // with the cell's data back in place
        DatasetsSink.swapDir(fs, dir, tmp, aside)
      }
    }
    tombstoneAnnBatch(spark, ix, remaining, gcBatchId)
    tombstoneDirs.foreach(d => fs.delete(new Path(d), true))
    (over, remaining.size.toLong)
  }

  /** e30 — startup repair for a [[gcAnnCells]] interrupted mid-swap:
    * every cell with `.gc_label_L.tmp`/`.old` leftovers goes through
    * [[DatasetsSink.recoverDir]] (live present ⇒ drop the leftovers;
    * else promote the complete tmp; else restore the aside).
    * Dot-prefixed dirs are invisible to Spark's listing, so an
    * unrepaired crash never serves a torn partition — it serves the
    * cell MISSING, which this promotes back. Idempotent. Returns the
    * labels whose live dir it had to reconstruct. */
  def repairAnnCells(spark: SparkSession, ix: String): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val cellsRoot = new Path(s"$ix/cells")
    val fs = cellsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cellsRoot)) return Seq.empty
    val Orphan = """\.gc_label_(-?\d+)\.(tmp|old)""".r
    val labels = fs.listStatus(cellsRoot).toSeq.map(_.getPath.getName)
      .collect { case Orphan(l, _) => l.toInt }.distinct.sorted
    labels.filter { l =>
      val (live, tmp, aside) = gcCellPaths(ix, l)
      DatasetsSink.recoverDir(fs, live, tmp, aside)
    }
  }

  /** A GC'd cell's (live, rewritten tmp, moved-aside) directories. */
  private def gcCellPaths(ix: String, l: Int) = {
    import org.apache.hadoop.fs.Path
    (new Path(s"$ix/cells/label=$l"), new Path(s"$ix/cells/.gc_label_$l.tmp"),
      new Path(s"$ix/cells/.gc_label_$l.old"))
  }

  // ---------- i10 × e12: atomic index publication ----------

  /** Serving cutover as a SNAPSHOT COMMIT: index builds land under
    * uniquely-named immutable dirs, and the only thing a query
    * resolves is a 1-row POINTER table committed through i10's
    * versioned-manifest CAS. Publishing a rebuilt index is therefore
    * one atomic manifest create (readers see the old index until the
    * instant the commit lands, the new one after — never a
    * half-switched mix), rollback is "resolve version N-1", and an
    * abandoned build (dir written, never published) is invisible
    * exactly like i10's crash orphans. This is the missing operational
    * half of e12's fingerprint-keyed staleness guard: fingerprints
    * prevent serving a WRONG index; the pointer commit makes serving a
    * NEW one a transaction. */
  private[graft] def publishAnnIndex(spark: SparkSession, e: DataFrame,
      publishRoot: String, buildDir: String): Long = {
    import spark.implicits._
    buildAnnIndex(e, buildDir)
    VersionedTable.commit(spark, publishRoot,
      Seq(buildDir).toDF("index_dir"), overwrite = true)
  }

  /** Resolve the published index dir — latest, or a pinned version
    * (rollback = pin N-1). */
  private[graft] def servedIndexDir(spark: SparkSession, publishRoot: String,
      version: Option[Long] = None): String =
    VersionedTable.read(spark, publishRoot, version)
      .select("index_dir").head().getString(0)

  // ---------- e22: ANN index maintenance (the i7 twin for vectors) ----------

  /** e22 — q_ann_absorb: the ANN index MAINTENANCE step, as a query
    * (i7's daily cycle for vectors — an IVF index that never absorbs
    * decays: every vector ingested since the build is unfindable).
    * Arriving vectors (vec_id % 10 == 7, d8's batch convention) are
    * assigned to the standing cells by the ROUTER'S OWN rule — argmax
    * over cells of v·c_l − ‖c_l‖²/2 (the exact-L2 argmin, rewritten so
    * the only IEEE operations are two final divisions of EXACT decimal
    * sums: v·S_l and S_l·S_l stay decimal, n_l divides last) — so an
    * absorbed vector lands in exactly the cell a query near it would
    * probe; ties break to the lower label. Output: per cell, standing
    * population and absorbed count. Plan: centroids are k×dim rows
    * (broadcast), the batch pays one posexplode + two combined aggs —
    * at 100 TB the absorb touches the BATCH and the centroid table,
    * never the standing corpus. */
  def qAnnAbsorb(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val dq = round(col("v").cast("double"), 6).cast("decimal(8,6)")
    // label rides the posexplode projection — a join-back on vec_id
    // would shuffle 64×N rows to recover a column the scan already has
    val pe = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("label"), col("i"), dq.as("qv"))
    val cent = pe.filter(col("vec_id") % 10 =!= 7)
      .groupBy("label", "i").agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
    val norm = cent.groupBy("label")
      .agg(sum(col("s") * col("s")).as("ss"), max(col("n")).as("n"))
    // the batch side sheds its OWN corpus label before meeting the
    // cell table — `label` below is always the CELL's
    val dots = pe.filter(col("vec_id") % 10 === 7).select("vec_id", "i", "qv")
      .join(broadcast(cent.select("i", "label", "s")), "i")
      .groupBy("vec_id", "label").agg(sum(col("qv") * col("s")).as("vs"))
    val scores = dots.join(broadcast(norm), "label")
      .withColumn("score", col("vs").cast("double") / col("n")
        - col("ss").cast("double") / (col("n") * col("n") * 2))
    val assign = scores.groupBy("vec_id")
      .agg(min(struct(negate(col("score")), col("label"))).as("b"))
      .select(col("vec_id"), col("b.label").as("label"))
    val before = e.filter(col("vec_id") % 10 =!= 7)
      .groupBy("label").agg(count(lit(1)).as("n_before"))
    val added = assign.groupBy("label").agg(count(lit(1)).as("n_added"))
    before.join(added, Seq("label"), "left")
      .select(col("label"), col("n_before"),
        coalesce(col("n_added"), lit(0L)).as("n_added"))
      .orderBy("label")
  }

  val qAnnAbsorbSql: String =
    """WITH pe AS (
        SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i,
          CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(8,6)) AS qv
        FROM embeddings),
      cent AS (
        SELECT label, i, SUM(qv) AS s, COUNT(*) AS n
        FROM pe WHERE vec_id % 10 != 7 GROUP BY label, i),
      norm AS (SELECT label, SUM(s * s) AS ss, MAX(n) AS n FROM cent GROUP BY label),
      dots AS (
        SELECT p.vec_id, c.label, SUM(p.qv * c.s) AS vs
        FROM pe p JOIN cent c USING (i) WHERE p.vec_id % 10 = 7
        GROUP BY p.vec_id, c.label),
      scores AS (
        SELECT d.vec_id, d.label,
          CAST(vs AS DOUBLE) / n.n - CAST(ss AS DOUBLE) / (2 * n.n * n.n) AS score
        FROM dots d JOIN norm n ON n.label = d.label),
      assign AS (
        SELECT vec_id, label FROM (
          SELECT vec_id, label,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, label) AS rn
          FROM scores) x WHERE rn = 1),
      bef AS (SELECT label, COUNT(*) AS n_before FROM embeddings
              WHERE vec_id % 10 != 7 GROUP BY label),
      added AS (SELECT label, COUNT(*) AS n_added FROM assign GROUP BY label)
      SELECT b.label AS label, b.n_before, COALESCE(a.n_added, 0) AS n_added
      FROM bef b LEFT JOIN added a ON a.label = b.label ORDER BY label"""

  /** The WRITE half of e22: encode the arriving batch against the
    * PERSISTED codebook, assign each vector with [[qAnnAbsorb]]'s
    * router rule applied to the PERSISTED centroids, and land the new
    * cell rows under `cells_delta/batch_id=<id>` (i4's
    * overwrite-by-batch-id — a retried absorb replaces itself),
    * partitioned by label like the base cells so serving stays
    * partition-pruned. The serve path reads base ∪ deltas
    * ([[qAnnIvfPqIndexedAt]]'s `deltaDirs`). */
  def absorbAnnBatch(spark: SparkSession, dir: String, ix: String, batchId: Long): Unit = {
    val e = Tables(spark, dir, "embeddings")
    val batch = e.filter(col("vec_id") % 10 === 7)
    val cent = spark.read.parquet(s"$ix/centroids")
    val dq = round(col("v").cast("double"), 6).cast("decimal(8,6)")
    val pe = batch.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"), dq.as("qv"))
    val norm = cent.groupBy("label")
      .agg(sum(col("s") * col("s")).as("ss"), max(col("n")).as("n"))
    val dots = pe.join(broadcast(cent.select("i", "label", "s")), "i")
      .groupBy("vec_id", "label").agg(sum(col("qv") * col("s")).as("vs"))
    val assign = dots.join(broadcast(norm), "label")
      .withColumn("score", col("vs").cast("double") / col("n")
        - col("ss").cast("double") / (col("n") * col("n") * 2))
      .groupBy("vec_id")
      .agg(min(struct(negate(col("score")), col("label"))).as("b"))
      .select(col("vec_id"), col("b.label").as("label"))
    val codebook = spark.read.parquet(s"$ix/codebook")
      .select(col("a_id"), col("a"))
    val ks = (0 until 8).map { j =>
      expr(s"CAST(round(round(${Ann.subDotSpark("a", "a", j)} - 2 * ${Ann.subDotSpark("embedding", "a", j)}, 6) * 1000000, 0) AS BIGINT) * 16 + a_id")
        .as(s"k$j")
    }
    val scored = batch.crossJoin(broadcast(codebook)).select(col("vec_id") +: ks: _*)
    val codeAggs = (0 until 8).map(j => pmod(min(col(s"k$j")), lit(16L)).as(s"c$j"))
    val codes = scored.groupBy("vec_id").agg(codeAggs.head, codeAggs.tail: _*)
    val cells = codes
      .join(batch.select(col("vec_id"), col("embedding")), "vec_id")
      .join(assign, "vec_id")
    DatasetsSink.writeIndexed(cells, s"$ix/cells_delta/batch_id=$batchId",
      partitionCols = Seq("label"), sortCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
  }

  /** e23 — the DELETE half of index maintenance (e22 absorbs, this
    * forgets: GDPR erasure, retracted documents, corrupted vectors):
    * tombstones land as one overwrite-by-batch-id partition of bare
    * vec_ids — O(deletes) bytes, the index files are NEVER rewritten
    * (immutable, shared with time travel) — and the serve path
    * anti-joins the broadcast tombstone set against the
    * already-pruned probe cell, so a delete is visible at the NEXT
    * query with zero rebuild cost. The next full rebuild (or a
    * compaction) naturally vacuums tombstoned rows out. */
  def tombstoneAnnBatch(spark: SparkSession, ix: String, vecIds: Seq[Long],
      batchId: Long): Unit = {
    import spark.implicits._
    DatasetsSink.writeOptimized(vecIds.toDF("vec_id"),
      s"$ix/tombstones/batch_id=$batchId", Seq("vec_id"), Seq("vec_id"))
  }


  /** The serve queries are result-identical to their rebuild twins,
    * so they share those oracles — the driver then hash-verifies that
    * the persisted-index architecture changes nothing semantically. */
  val registry: Seq[Query] = Seq(
    Query("q_ann_absorb", qAnnAbsorb, Oracle(qAnnAbsorbSql)),
    Query("q_ann_filtered_indexed", qAnnFilteredIndexed, Oracle(Ann.qAnnFilteredIvfSql)),
    Query("q_ann_ivfpq_indexed", qAnnIvfPqIndexed, Oracle(Ann.qAnnIvfPqSql)),
    Query("q_ann_batch_indexed", qAnnBatchIndexed, Oracle(qAnnBatchIndexedSql)),
    Query("q_dedup_served", qDedupServed, Oracle(Dedup.qDedupIncrementalSql)))
}
