package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, lit, max => fmax, min => fmin}
import scala.util.Using

/** i10 — snapshot-isolated, time-travelable table on plain parquet +
  * manifest commits (the lakehouse transaction-log shape, built from
  * the same primitives as i5's manifest-gated visibility and i8/i9's
  * rename protocol):
  *
  *   <root>/data/<commitToken>-part*.parquet   immutable data files
  *   <root>/_v<N>.manifest                     newline list of data
  *                                             files visible at N
  *
  * - READERS never list data/: they read the latest (or a requested)
  *   manifest and scan exactly the files it names — a half-written
  *   commit is invisible, and an old version stays byte-stable
  *   forever (until vacuumed), so time travel is just "read an older
  *   manifest".
  * - WRITERS are optimistic: data files land under a fresh unique
  *   token (never clobbering anything), then the commit is ONE
  *   atomic create-if-absent of `_v<latest+1>.manifest` — if another
  *   writer took that version first, re-read the new latest and
  *   retry THE MANIFEST ONLY (append: re-list base files; overwrite:
  *   unchanged) — the already-landed data files are reused, nothing
  *   re-writes.
  * - VACUUM retains the last `keepLast` manifests, then deletes any
  *   data file no kept manifest references — which also collects
  *   files orphaned by crashed commits.
  *
  * At 100 TB: a commit is O(new files) data writes + one manifest
  * create; a snapshot read plans from an O(files) name list with no
  * directory listing of a giant data/ tree; concurrent writers
  * serialize on the version counter without ever locking data.
  */
object VersionedTable {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A manifest log: `<root>/<prefix><N>.manifest`, one file per
    * version. Main's prefix is `_v`, a branch's `_branch-<name>-v`;
    * every log is listed, read and published by the same routines. */
  private final case class Log(root: String, prefix: String) {
    def file(v: Long): Path = new Path(root, f"$prefix$v%06d.manifest")
  }

  private def mainLog(root: String) = Log(root, "_v")

  private def branchLog(root: String, name: String) = Log(root, s"_branch-$name-v")

  private def manifest(root: String, v: Long) = mainLog(root).file(v)

  /** Manifest entries are root-relative (`data/...`) except a shallow
    * clone's absolute source references — resolve accordingly. */
  private def resolve(root: String, f: String): String =
    if (f.startsWith("/") || f.contains(":/")) f else s"$root/$f"

  /** A log's versions, ascending (empty for a fresh root or log). */
  private def logVersions(spark: SparkSession, log: Log): Seq[Long] = {
    val fs = fsOf(spark, log.root)
    val root = new Path(log.root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(log.prefix) && n.endsWith(".manifest"))
      .map(n => n.stripPrefix(log.prefix).stripSuffix(".manifest").toLong)
      .sorted
  }

  /** Versions present, ascending (empty for a fresh root). */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    logVersions(spark, mainLog(path))

  /** The latest version; a table with no commit is a loud error. */
  private def latest(spark: SparkSession, path: String): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed version at $path")
    vs.last
  }

  /** A scan of root-relative `files`; no files is an empty frame. */
  private def scan(spark: SparkSession, path: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files.map(f => resolve(path, f)): _*)

  /** The non-empty lines of a small metadata file — a manifest, the
    * `_ts.index` / `_fstats.index` sidecars or a `_cursor.*` file. */
  private def readLines(spark: SparkSession, p: Path): Seq[String] =
    Using.resource(fsOf(spark, p.toString).open(p)) { in =>
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    }.filter(_.nonEmpty)

  /** A manifest's data-file entries: its lines minus `#` metadata. */
  private def entries(spark: SparkSession, p: Path): Seq[String] =
    readLines(spark, p).filterNot(_.startsWith("#"))

  /** What an append keeps of a log's latest snapshot; an overwrite
    * (or an empty log) keeps nothing. */
  private def baseFiles(spark: SparkSession, log: Log, vs: Seq[Long],
      overwrite: Boolean): Seq[String] =
    if (overwrite || vs.isEmpty) Nil else entries(spark, log.file(vs.last))

  /** A sidecar map parsed by `parse`; empty when the file is absent or
    * unreadable, so readers degrade instead of failing. */
  private def sidecar[K, V](spark: SparkSession, f: Path)(
      parse: Seq[String] => Map[K, V]): Map[K, V] =
    if (!fsOf(spark, f.toString).exists(f)) Map.empty
    else scala.util.Try(parse(readLines(spark, f))).getOrElse(Map.empty)

  private def writeFile(spark: SparkSession, p: Path, content: String): Unit =
    Using.resource(fsOf(spark, p.toString).create(p, true))(_.write(content.getBytes("UTF-8")))

  /** Replaces a small sidecar whole: a tmp write, then a rename over
    * the dropped old file. A reader racing the swap finds the file
    * absent and degrades; it never reads a torn one. */
  private def replaceFile(spark: SparkSession, target: Path, lines: Seq[String]): Unit = {
    val fs = fsOf(spark, target.toString)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    fs.delete(tmp, true)
    writeFile(spark, tmp, lines.mkString("\n") + "\n")
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) throw new IllegalStateException(s"swap onto $target failed")
  }

  /** The one manifest commit, for every log. Under [[commitLock]],
    * `body` sees the log's versions and either aborts (Left) or
    * returns the next version's lines: its `#` headers first, then
    * the data files. The in-commit timestamp `#ts:` (i25) is stamped
    * after the headers, MONOTONE by construction (max(now, parent+1)
    * — wall-clock ties and skew cannot reorder history), so marker
    * checks on the first line (#compaction, #restore) still hold.
    * The lines go to a tmp file that renames onto the next version.
    *
    * Atomicity contract: rename-onto-existing-fails is atomic on the
    * stores a production table lives on (HDFS rename, ABFS ETag
    * If-None-Match, GCS generation preconditions). POSIX rename()
    * REPLACES the target, and Hadoop's local ChecksumFileSystem only
    * approximates check-and-act — so two CONCURRENT local-FS writers
    * could both believe they won (observed once under the 8-writer
    * stress spec). Two local guards close it: in-process committers
    * serialize on a JVM lock (covers every multi-threaded driver,
    * which is how concurrent local commits actually happen), and the
    * winner re-reads the manifest it just renamed — if the content
    * is not byte-for-byte its own, somebody replaced it and `body`
    * runs again against the newer versions (the unique data-file
    * token makes every writer's content distinct). */
  private def publish[A](spark: SparkSession, log: Log)(
      body: Seq[Long] => Either[A, Seq[String]]): Either[A, Long] = {
    val fs = fsOf(spark, log.root)
    val tmp = new Path(log.root, s".manifest-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    @annotation.tailrec
    def attempt(): Either[A, Long] = {
      val won: Option[Either[A, Long]] = commitLock.synchronized {
        val vs = logVersions(spark, log)
        body(vs) match {
          case Left(abort) => Some(Left(abort))
          case Right(lines) =>
            val next = vs.lastOption.getOrElse(0L) + 1
            val prevTs = vs.lastOption.map(logTs(spark, log, _)).getOrElse(0L)
            val ict = math.max(System.currentTimeMillis(), prevTs + 1)
            val (headers, files) = lines.span(_.startsWith("#"))
            val content = (headers ++ Seq(s"$TsMarkerPrefix$ict") ++ files).mkString("\n")
            writeFile(spark, tmp, content)
            if (fs.rename(tmp, log.file(next)) &&
                readLines(spark, log.file(next)).mkString("\n") == content) Some(Right(next))
            else { fs.delete(tmp, true); None }
        }
      }
      won match {
        case Some(out) => out
        case None      => attempt()
      }
    }
    attempt()
  }

  /** First manifest line of a compaction commit (i14): the version
    * rewrites FILES, not rows — change consumers must see an empty
    * delta. '#'-prefixed lines are metadata, never file names. */
  private val CompactionMarker = "#compaction"

  private def rawManifest(spark: SparkSession, path: String, v: Long): Seq[String] =
    readLines(spark, manifest(path, v))

  private[graft] def readManifest(spark: SparkSession, path: String, v: Long): Seq[String] =
    entries(spark, manifest(path, v))

  /** True iff version `v` is a compaction commit (no row delta). */
  def isCompaction(spark: SparkSession, path: String, v: Long): Boolean =
    rawManifest(spark, path, v).headOption.contains(CompactionMarker)

  /** First manifest line of a restore commit (i23): records the
    * version the table was rolled back to. */
  private val RestoreMarkerPrefix = "#restore:"

  /** The version `v` was restored TO, if `v` is a restore commit. */
  def restoreTarget(spark: SparkSession, path: String, v: Long): Option[Long] =
    rawManifest(spark, path, v).headOption
      .filter(_.startsWith(RestoreMarkerPrefix))
      .map(_.stripPrefix(RestoreMarkerPrefix).trim.toLong)

  /** i23 — RESTORE (Delta Lake's `RESTORE TABLE ... TO VERSION` /
    * Iceberg's rollback, on this table's own log): roll the table
    * back to an earlier snapshot as a NEW commit whose manifest lists
    * exactly that snapshot's files — ZERO data copied (data files are
    * immutable and byte-stable until [[vacuum]], so the old version's
    * files are simply re-referenced), history kept (time travel to
    * the rolled-back versions still works — the bad version stays
    * inspectable), and the rollback itself is a versioned, CAS-atomic
    * commit like any other, so it composes with racing writers. The
    * manifest carries `#restore:<v>`, which change consumers
    * ([[readChanges]], [[refreshMatView]]) treat as an OVERWRITE step
    * (full-snapshot restart): the rows the rollback retracted cannot
    * reach consumers silently — the same degrade-to-recompute
    * contract an overwrite already has. [[vacuum]] keeps the
    * re-referenced files alive as long as the restore version is
    * retained (references are counted over KEPT manifests). */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val vs = versions(spark, path)
    require(vs.contains(toVersion), s"version $toVersion not in $vs")
    val files = readManifest(spark, path, toVersion)
    casCommit(spark, path, files, overwrite = true,
      headers = Seq(s"$RestoreMarkerPrefix$toVersion"))
  }

  /** Commit `df` as the next version. `overwrite = false` appends to
    * the latest snapshot's file set; `true` replaces it. Returns the
    * committed version. */
  def commit(spark: SparkSession, path: String, df: DataFrame,
      overwrite: Boolean = false): Long = {
    val newFiles = land(spark, path, df)
    casCommit(spark, path, newFiles, overwrite)
  }

  // ---- i19: incremental view maintenance off the change feed --------

  private val SourceMarkerPrefix = "#source:"

  /** The source-table version the matview at `matPath` reflects
    * (0 = never refreshed). Read from the latest manifest's in-band
    * `#source:` marker — the marker travels WITH the snapshot commit,
    * so the answer can never disagree with the data a reader sees. */
  def matViewSourceVersion(spark: SparkSession, matPath: String): Long = {
    val vs = versions(spark, matPath)
    if (vs.isEmpty) 0L
    else rawManifest(spark, matPath, vs.last)
      .collectFirst { case l if l.startsWith(SourceMarkerPrefix) =>
        l.stripPrefix(SourceMarkerPrefix).trim.toLong
      }.getOrElse(0L)
  }

  /** i19 — INCREMENTAL VIEW MAINTENANCE: keep a keyed-sum aggregate
    * (`SELECT key, SUM(val) GROUP BY key`) of a versioned source
    * table current WITHOUT ever rescanning the source. Each drained
    * version's row delta merges into the standing matview by a
    * full-outer sum (old ⊎ delta — sums are the canonical mergeable
    * aggregate; count/min/max ride the same shape), and the matview
    * commits as ONE versioned snapshot whose manifest carries the
    * source version in-band (`#source:v`). Exactly-once without
    * idempotent-ADD gymnastics: addition is NOT idempotent, so replay
    * safety comes from the marker — a crash between the matview
    * commit and the change-feed cursor replays the version, sees
    * `#source >= v`, and SKIPS the merge (the marker travels with the
    * snapshot, so it cannot disagree with the data). An overwrite of
    * the source degrades to recompute (readChanges' honest answer:
    * delta = full snapshot — merged against an EMPTIED matview).
    * At 100 TB: each refresh reads O(delta) + O(matview keys), never
    * the source table — the Materialized View contract every
    * downstream dashboard actually wants from a lakehouse. Returns
    * the source versions the cursor advanced past this call (each
    * merged, or marker-skipped on a replay). */
  def refreshMatView(spark: SparkSession, srcPath: String, ckptDir: String,
      matPath: String, keyCol: String, valCol: String): Seq[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    drainChanges(spark, srcPath, ckptDir) { (delta, v) =>
      if (matViewSourceVersion(spark, matPath) < v) {
        val dAgg = delta.groupBy(keyCol).agg(sum(col(valCol)).as("_dsum"))
        val sourceOverwritten = {
          // delta == full snapshot ⇒ the source was overwritten at v:
          // start the matview over instead of double-counting survivors.
          // A restore (i23) re-references old files — detected by its
          // marker, same recompute semantics.
          val mfs = readManifest(spark, srcPath, v).toSet
          restoreTarget(spark, srcPath, v).isDefined ||
            isDelete(spark, srcPath, v) || // i29: retraction ⇒ recompute
            (v > 1 && readManifest(spark, srcPath, v - 1).forall(f => !mfs.contains(f)))
        }
        val old =
          if (sourceOverwritten || versions(spark, matPath).isEmpty)
            spark.range(0).select(col("id").as(keyCol), col("id").as("total"))
          else read(spark, matPath)
        val merged = old.join(dAgg, Seq(keyCol), "full_outer")
          .select(col(keyCol),
            (coalesce(col("total"), lit(0L)) + coalesce(col("_dsum"), lit(0L)))
              .as("total"))
        val newFiles = land(spark, matPath, merged)
        casCommit(spark, matPath, newFiles, overwrite = true,
          headers = Seq(s"$SourceMarkerPrefix$v"))
      }
    }
  }

  /** i17 — write-audit-publish (the deployment gate a 100 TB lake
    * runs every batch through: Iceberg's WAP / dbt's build-then-swap,
    * expressed on this table's own log): the batch's files LAND
    * invisibly (no manifest references them — readers cannot observe
    * a half-validated batch even mid-audit), the audits run against
    * the CANDIDATE snapshot (base-at-audit + batch — exactly what the
    * table would serve if published, so cross-batch invariants like
    * FK integrity or row-count monotonicity are checkable, not just
    * batch-local ones), and only if every audit passes does the
    * manifest CAS make the version visible — the same atomic
    * create-if-absent as [[commit]], so publication is all-or-nothing
    * even against racing writers. A failed audit deletes the landed
    * files and returns the failing audit names: the table's version
    * history, every existing snapshot, and the data directory's
    * referenced set are byte-identical to if the batch never arrived.
    * Cost: O(batch) writes + the audit queries + one manifest create —
    * the publish step never rewrites data.
    *
    * Concurrency contract: audits validate against the base visible
    * at audit time; a commit racing between audit and publish is
    * composed by the CAS retry (the batch appends to the newer base).
    * Serializable-strict pipelines re-run WAP instead of retrying.
    */
  def writeAuditPublish(spark: SparkSession, path: String, df: DataFrame,
      audits: Seq[(String, DataFrame => Boolean)],
      overwrite: Boolean = false): Either[Seq[String], Long] = {
    val fs = fsOf(spark, path)
    val newFiles = land(spark, path, df)
    val base = baseFiles(spark, mainLog(path), versions(spark, path), overwrite)
    val candidate = scan(spark, path, base ++ newFiles)
    val failed = audits.collect { case (name, check) if !check(candidate) => name }
    if (failed.nonEmpty) {
      newFiles.foreach(f => fs.delete(new Path(path, f), false))
      Left(failed)
    } else Right(casCommit(spark, path, newFiles, overwrite))
  }

  // ---- i22: constraint-checked commits (CHECK / NOT NULL / UNIQUE) ---

  /** Declarative commit-time constraints (Delta Lake's table
    * constraints, re-expressed): each compiles to ONE aggregate column
    * counting its violations, so validating any number of constraints
    * costs a single pass over the incoming batch. */
  sealed trait Constraint { def name: String }
  /** column must be non-null */
  case class NotNullC(col: String) extends Constraint {
    def name = s"not_null($col)"
  }
  /** SQL predicate must hold on every row (NULL counts as violation —
    * Delta's CHECK semantics) */
  case class CheckC(label: String, predicate: String) extends Constraint {
    def name = s"check($label)"
  }
  /** the column tuple must be unique within the batch */
  case class UniqueC(cols: Seq[String]) extends Constraint {
    def name = s"unique(${cols.mkString(",")})"
  }

  /** i22 — constraint-checked commit: validate BEFORE landing (unlike
    * i17's write-audit-publish, which lands candidate files and tears
    * them down on failure — the right shape for audits that must see
    * the post-merge snapshot; a column constraint only needs the
    * incoming batch, so a rejected batch here leaves ZERO bytes on
    * disk). All declared constraints fold into one aggregate row —
    * one pass over the batch regardless of constraint count. Returns
    * Left(per-constraint violation counts, only the violated ones) or
    * Right(new version). */
  def commitChecked(spark: SparkSession, path: String, df: DataFrame,
      constraints: Seq[Constraint],
      overwrite: Boolean = false): Either[Map[String, Long], Long] = {
    import org.apache.spark.sql.functions._
    if (constraints.nonEmpty) {
      // coalesce: sum() over ZERO rows is NULL (an empty micro-batch is
      // routine upstream) and getLong on NULL throws — an empty batch
      // is trivially clean, so its violation count is 0, not a crash
      val aggs = constraints.map {
        case NotNullC(c) =>
          coalesce(sum(expr(s"CAST(($c) IS NULL AS BIGINT)")), lit(0L))
        case CheckC(_, p) =>
          coalesce(sum(expr(s"CAST(NOT coalesce(($p), false) AS BIGINT)")), lit(0L))
        case UniqueC(cols) =>
          val ns = cols.map(c => s"'$c', $c").mkString("named_struct(", ", ", ")")
          count(lit(1)) - countDistinct(expr(ns))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val violations = constraints.zipWithIndex.collect {
        case (c, i) if row.getLong(i) > 0 => c.name -> row.getLong(i)
      }.toMap
      if (violations.nonEmpty) return Left(violations)
    }
    Right(commit(spark, path, df, overwrite))
  }

  /** Lands `df`'s files into data/ under a fresh unique token WITHOUT
    * writing any manifest — the files are invisible to every reader
    * until a later manifest lists them (the write half of i17's
    * write-audit-publish, and commit's own first half). */
  private def land(spark: SparkSession, path: String, df: DataFrame,
      tag: String = ""): Seq[String] = {
    val fs = fsOf(spark, path)
    val dataDir = new Path(path, "data")
    fs.mkdirs(dataDir)

    // land the new files under a fresh token via a staged rename —
    // uniqueness means no writer ever touches another's files
    val token = java.util.UUID.randomUUID.toString.take(8)
    val staging = new Path(path, s".staging-$token")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val newFiles = fs.listStatus(staging).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val dst = new Path(dataDir, s"$token$tag-${f.getPath.getName}")
        if (!fs.rename(f.getPath, dst))
          throw new IllegalStateException(s"landing ${f.getPath} failed")
        s"data/${dst.getName}"
      }
    fs.delete(staging, true)
    newFiles
  }

  // ---- i21: partition evolution ------------------------------------

  private val PartValueRe = "[A-Za-z0-9_]+".r

  /** i21 — PARTITION EVOLUTION (Iceberg's flagship metadata feature,
    * on this table's own log): commit `df` split by `pcol`'s values,
    * each landed FILE NAME carrying its `-<col>=<value>-` marker —
    * pruning is then pure name algebra on the manifest, no directory
    * layout and no file rewrite. Evolution is free by construction:
    * files from earlier commits (spec-less, or partitioned by a
    * DIFFERENT column) carry no marker for `pcol` and are simply
    * never pruned — exactly the Iceberg contract that changing the
    * partition spec is a metadata change and old files keep their old
    * layout until a compaction rewrites them. The split collects
    * `pcol`'s DISTINCT values driver-side — the column must be a
    * bounded dimension (layer names, dates, buckets), which is what
    * "partition column" means; values are required filename-safe so
    * the marker parse can never be ambiguous. All slices LAND before
    * the single CAS commit publishes them — same atomicity as
    * [[commit]]. */
  def commitPartitioned(spark: SparkSession, path: String, df: DataFrame,
      pcol: String, overwrite: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val vals = df.select(pcol).distinct().collect()
      .map(r => String.valueOf(r.get(0))).sorted
    vals.foreach { v =>
      require(PartValueRe.pattern.matcher(v).matches(),
        s"partition value '$v' is not filename-safe ([A-Za-z0-9_]+)")
    }
    val newFiles = vals.flatMap { v =>
      land(spark, path, df.filter(col(pcol) === v), tag = s"-$pcol=$v")
    }.toSeq
    casCommit(spark, path, newFiles, overwrite)
  }

  /** The data files a snapshot references (root-relative) — the list
    * [[readPruned]] cuts; public so callers can audit prune ratios. */
  def manifestFiles(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] =
    readManifest(spark, path, version.getOrElse(latest(spark, path)))

  /** Snapshot read pruned on `pcol = value`: keeps a manifest file iff
    * it carries the matching marker OR carries NO marker for `pcol`
    * (old-spec / other-spec files — cannot be pruned, must be
    * scanned). Returns (dataframe, filesScanned, filesTotal); the
    * result is a SUPERSET of the matching rows — the caller's filter
    * on top makes it exact, and Catalyst pushes that filter into the
    * unpruned files' scans. At 100 TB the win is the manifest-level
    * file cut BEFORE any split planning. */
  def readPruned(spark: SparkSession, path: String, pcol: String, value: String,
      version: Option[Long] = None): (DataFrame, Int, Int) = {
    val v = version.getOrElse(latest(spark, path))
    val files = readManifest(spark, path, v)
    val kept = files.filter { f =>
      !f.contains(s"-$pcol=") || f.contains(s"-$pcol=$value-")
    }
    // no kept file: the full snapshot's schema, no rows
    val df = if (kept.isEmpty) read(spark, path, Some(v)).limit(0) else scan(spark, path, kept)
    (df, kept.size, files.size)
  }

  /** Publishes already-landed files as the next version (commit's
    * second half): append re-lists the latest base on every attempt,
    * overwrite lists `newFiles` alone. */
  private def casCommit(spark: SparkSession, path: String, newFiles: Seq[String],
      overwrite: Boolean, headers: Seq[String] = Nil): Long =
    publish(spark, mainLog(path)) { vs =>
      Right(headers ++ baseFiles(spark, mainLog(path), vs, overwrite) ++ newFiles)
    }.merge

  /** Serializes same-process commit attempts (see the atomicity
    * contract in [[publish]]); cross-process safety is the store's
    * atomic create-if-absent. */
  private val commitLock = new Object

  private val TsMarkerPrefix = "#ts:"

  /** i25 — a commit's timestamp: the in-commit `#ts:` header written
    * since r15 (Delta's In-Commit Timestamps mechanism — monotone by
    * construction, immune to file copies/clock skew), falling back to
    * the manifest file's modification time for pre-i25 commits
    * (exactly Delta's legacy timestamp resolution). Counts its
    * manifest opens in [[tsHeaderReads]] so the i27 checkpoint's
    * O(tail) claim is ASSERTABLE, not prose. */
  def commitTs(spark: SparkSession, path: String, v: Long): Long =
    logTs(spark, mainLog(path), v)

  private def logTs(spark: SparkSession, log: Log, v: Long): Long = {
    tsHeaderReads.incrementAndGet()
    readLines(spark, log.file(v))
      .collectFirst { case l if l.startsWith(TsMarkerPrefix) =>
        l.stripPrefix(TsMarkerPrefix).trim.toLong }
      .getOrElse(fsOf(spark, log.root).getFileStatus(log.file(v)).getModificationTime)
  }

  /** i27 instrumentation: per-version timestamp resolutions that had
    * to OPEN a manifest (vs the checkpoint index). Test-facing. */
  private[graft] val tsHeaderReads = new java.util.concurrent.atomic.AtomicLong

  private def tsIndexFile(root: String) = new Path(root, "_ts.index")

  /** i27 — commit-TIMESTAMP CHECKPOINT (the metadata-scale fix for
    * i25: manifests are snapshot-self-contained, so data reads open
    * ONE manifest — but `TIMESTAMP AS OF` had to open EVERY version's
    * header for its `#ts:`, O(versions) metadata reads per resolution;
    * Delta solves the same walk with `_last_checkpoint`): one
    * `_ts.index` sidecar freezing `version:rawTs` for every version
    * at checkpoint time, swapped in atomically (tmp + rename — a
    * reader racing the swap just falls back to headers). Resolution
    * reads the index ONCE plus headers only for the TAIL committed
    * after the checkpoint head — O(1 + tail) I/O; the i25 monotone
    * clamp then runs over the merged raw sequence, so resolution
    * semantics are IDENTICAL by construction (same raw values, same
    * fold) — with one deliberate improvement: a legacy version's
    * mtime is PINNED at checkpoint time, so a later file touch can no
    * longer perturb even the pre-clamp raw value. Entries are
    * immutable facts (a version's ts never legitimately changes), so
    * a stale index is never wrong, only incomplete — re-run after a
    * batch of commits, like [[compact]]. Returns the head version
    * covered. */
  def checkpointTimestamps(spark: SparkSession, path: String): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"nothing to checkpoint at $path")
    replaceFile(spark, tsIndexFile(path), vs.map(v => s"$v:${commitTs(spark, path, v)}"))
    vs.last
  }

  /** The checkpointed version→rawTs map; empty when absent or
    * unreadable (readers must degrade to headers, never fail). */
  private[graft] def tsIndexMap(spark: SparkSession, path: String): Map[Long, Long] =
    sidecar(spark, tsIndexFile(path)) { lines =>
      lines.filter(_.contains(":")).map { l =>
        val Array(v, t) = l.split(":", 2); v.trim.toLong -> t.trim.toLong
      }.toMap
    }

  // ---- i28: per-file zone maps + data skipping ---------------------

  private def fstatsFile(root: String) = new Path(root, "_fstats.index")

  /** The stats sidecar: root-relative file → col → (min, max). Empty
    * when absent/unreadable — readers degrade to reading every file,
    * never fail. Lines are `file|col|min|max` (long-typed grids). */
  private[graft] def fstatsMap(spark: SparkSession,
      path: String): Map[String, Map[String, (Long, Long)]] =
    sidecar(spark, fstatsFile(path)) { lines =>
      lines.map(_.split("\\|")).collect { case Array(fn, c, lo, hi) =>
        (fn, c, lo.toLong, hi.toLong)
      }.groupBy(_._1).map { case (fn, rows) =>
        fn -> rows.map(r => r._2 -> (r._3, r._4)).toMap
      }
    }

  private def writeFstats(spark: SparkSession, path: String,
      m: Map[String, Map[String, (Long, Long)]]): Unit =
    replaceFile(spark, fstatsFile(path), m.toSeq.sortBy(_._1).flatMap { case (fn, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"$fn|$c|$lo|$hi" }
    })

  /** Per-file min/max of the integral `cols` over just-landed `files`
    * (root-relative): one commit-sized pass grouped by
    * `input_file_name`, never table-sized. */
  private def fileBounds(spark: SparkSession, path: String, files: Seq[String],
      cols: Seq[String]): Map[String, Map[String, (Long, Long)]] = {
    val aggs = cols.flatMap { c =>
      Seq(fmin(col(c)).cast("long").as(s"min_$c"), fmax(col(c)).cast("long").as(s"max_$c"))
    }
    val byName = files.map(f => f.split("/").last -> f).toMap
    scan(spark, path, files)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per file in THIS commit
      .flatMap { r =>
        byName.get(r.getString(0).split("/").last).map { rel =>
          rel -> cols.map(c => c -> (r.getAs[Long](s"min_$c"), r.getAs[Long](s"max_$c"))).toMap
        }
      }.toMap
  }

  /** i28 — commit with per-file ZONE MAPS (Delta add-file stats /
    * Iceberg manifest column bounds / parquet row-group min-max one
    * level up — the planning-time skipping lever: at 100 TB the fastest
    * scan is the file never opened): lands the batch, computes min/max
    * of `statCols` PER LANDED FILE with one distributed pass over just
    * those files (grouped by `input_file_name` — the job is
    * commit-sized, never table-sized), merges the rows into the
    * `_fstats.index` sidecar (atomic tmp+rename swap, same contract as
    * i27: data files are immutable so entries are immutable facts —
    * a stale sidecar is never wrong, only incomplete; files without
    * entries are simply unprunable), then commits normally. Stat
    * columns must be integral (long grid — exact, no float boundary
    * semantics). Mixed-era tables (plain commits between stats
    * commits) stay fully correct: [[readSkipping]] must-reads any
    * file it has no bounds for. */
  def commitWithStats(spark: SparkSession, path: String, df: DataFrame,
      statCols: Seq[String], overwrite: Boolean = false): Long = {
    require(statCols.nonEmpty, "statCols must be non-empty")
    val newFiles = land(spark, path, df)
    writeFstats(spark, path, fstatsMap(spark, path) ++ fileBounds(spark, path, newFiles, statCols))
    casCommit(spark, path, newFiles, overwrite)
  }

  /** The skipping PLAN for a closed-range predicate on `c`: the
    * snapshot's files split into (kept, pruned) — pruned iff the
    * sidecar bounds prove `[min,max] ∩ [lo,hi] = ∅`; a file without
    * bounds is kept (must-read). Root-relative names. */
  def skipPlan(spark: SparkSession, path: String, c: String, lo: Long,
      hi: Long, version: Option[Long] = None): (Seq[String], Seq[String]) = {
    val v = version.getOrElse(latest(spark, path))
    val stats = fstatsMap(spark, path)
    readManifest(spark, path, v).partition { f =>
      stats.get(f).flatMap(_.get(c)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi // overlap ⇒ read
        case None           => true                 // unknown ⇒ read
      }
    }
  }

  /** i28 — range read THROUGH the zone maps: only overlapping (or
    * unknown-bounds) files reach the scan, with the residual filter
    * still applied on top — identical rows to a full read + filter by
    * construction (pruning only ever drops provably-empty files).
    * An all-pruned result still returns the right SCHEMA (one witness
    * file under a false predicate, zero rows read past its footer). */
  def readSkipping(spark: SparkSession, path: String, c: String, lo: Long,
      hi: Long, version: Option[Long] = None): DataFrame = {
    val (kept, pruned) = skipPlan(spark, path, c, lo, hi, version)
    val resid = col(c) >= lo && col(c) <= hi
    if (kept.nonEmpty) scan(spark, path, kept).filter(resid)
    else scan(spark, path, pruned.take(1)).filter(lit(false))
  }

  /** i29 — copy-on-write DELETE for a closed range, riding the i28
    * zone maps (Delta's DELETE rewrite path: a delete touches only
    * the files that can contain matching rows — at 100 TB the delete
    * of one user's range must not rewrite the table): [[skipPlan]]
    * splits the snapshot into candidate/untouched; candidates are
    * read, filtered to the SURVIVORS, and landed as fresh files;
    * the new version's manifest = untouched (carried BY NAME —
    * byte-stable, vacuum-refcounted) + rewritten. The commit is an
    * `overwrite` (full file list) so racing appenders lose the CAS
    * and retry on top; change consumers see an overwrite step — a
    * retraction can never reach them silently (the restore/i23
    * contract). Survivor files get zone maps recomputed into the
    * sidecar when the table carries stats for `c`; old versions keep
    * the deleted rows (time travel intact) until [[vacuum]] drops
    * them. Returns (new version, files rewritten, files untouched,
    * rows deleted). A no-match delete (all candidates empty of
    * matches) still commits the rewrite it performed — the decision
    * is file-grain, exactly Delta's. */
  def deleteRange(spark: SparkSession, path: String, c: String, lo: Long,
      hi: Long): (Long, Int, Int, Long) = {
    val (candidates, untouched) = skipPlan(spark, path, c, lo, hi)
    if (candidates.isEmpty) {
      val v = versions(spark, path).last
      return (v, 0, untouched.size, 0L)
    }
    val cand = scan(spark, path, candidates)
    val hit = col(c) >= lo && col(c) <= hi
    val nDel = cand.filter(hit).count()
    val survivors = cand.filter(!hit)
    val rewritten =
      if (survivors.isEmpty) Seq.empty[String]
      else land(spark, path, survivors)
    // refresh zone maps for the rewritten files iff the column was
    // stats-tracked on any candidate (commit-sized pass, as i28)
    val hadStats = fstatsMap(spark, path).exists { case (f, cols) =>
      candidates.contains(f) && cols.contains(c)
    }
    if (hadStats && rewritten.nonEmpty)
      writeFstats(spark, path, fstatsMap(spark, path) ++ fileBounds(spark, path, rewritten, Seq(c)))
    // the `#delete` marker makes the commit an OVERWRITE STEP for
    // change consumers even though untouched files carry by name —
    // without it the delta would be `new − old` = the survivor files,
    // i.e. retractions silently re-delivered as appends
    val v = casCommit(spark, path, untouched ++ rewritten,
      overwrite = true, headers = Seq(DeleteMarker))
    (v, candidates.size, untouched.size, nDel)
  }

  private val DeleteMarker = "#delete"

  /** True iff version `v` is a copy-on-write delete commit (i29). */
  def isDelete(spark: SparkSession, path: String, v: Long): Boolean =
    rawManifest(spark, path, v).headOption.contains(DeleteMarker)

  // ---- i30: idempotent writer transactions -------------------------

  private val TxnMarkerPrefix = "#txn:"

  /** The newest transaction version this writer has committed, read
    * off the manifest headers newest→oldest (first hit wins — each
    * commit carries at most one txn marker). O(versions-since-last-
    * commit-by-this-writer) header reads; a steadily-committing
    * writer finds its marker within a few manifests of the head. */
  def lastTxnVersion(spark: SparkSession, path: String,
      writerId: String): Option[Long] = {
    val p = s"$TxnMarkerPrefix$writerId:"
    versions(spark, path).reverseIterator.flatMap { v =>
      rawManifest(spark, path, v)
        .collectFirst { case l if l.startsWith(p) => l.stripPrefix(p).trim.toLong }
    }.nextOption()
  }

  /** i30 — IDEMPOTENT writer commit (Delta's `txnAppId`/`txnVersion`
    * — the contract that turns at-least-once micro-batch delivery
    * into exactly-once TABLE state: a foreachBatch sink passes its
    * batch id as the txn version, and a replayed batch becomes a
    * NO-OP instead of a duplicate append): commits `df` iff
    * `txnVersion` is strictly newer than this writer's last recorded
    * transaction, stamping `#txn:writer:version` into the manifest.
    * Returns Some(new table version) on commit, None when the
    * transaction was already applied (the replay case). Writer ids
    * must not contain ':'. The check-then-commit pair serializes on
    * the same in-process lock as the manifest CAS — which is exactly
    * the foreachBatch replay scope (a restarted query replays in the
    * same process sequence); cross-process duplicate WRITERS (two
    * live queries sharing a writer id) are a deployment error, as in
    * Delta. */
  def commitTxn(spark: SparkSession, path: String, df: DataFrame,
      writerId: String, txnVersion: Long,
      overwrite: Boolean = false): Option[Long] = {
    require(!writerId.contains(":"), s"writer id must not contain ':': $writerId")
    commitLock.synchronized {
      if (lastTxnVersion(spark, path, writerId).exists(_ >= txnVersion)) None
      else {
        val newFiles = land(spark, path, df)
        Some(casCommit(spark, path, newFiles, overwrite,
          headers = Seq(s"$TxnMarkerPrefix$writerId:$txnVersion")))
      }
    }
  }

  /** i25 — the table's commit timestamps made MONOTONE non-decreasing
    * (Delta's legacy-timestamp adjustment, applied in the clamp-down
    * direction): `#ts:` headers are monotone by construction, but a
    * pre-i25 commit resolves to its manifest file's MTIME, which a
    * copy/touch can inflate past a LATER version's in-commit
    * timestamp — and then "newest version with ts ≤ t" would skip a
    * version while returning a newer one, silently mixing semantics
    * at the legacy/ICT boundary. Walking newest→oldest and clamping
    * each raw timestamp by its successor's adjusted one keeps every
    * ICT authoritative (ICTs never violate their successors) and
    * pulls only anomalous legacy mtimes back under the version order,
    * so the version picked for any instant is always the true newest
    * eligible one. Ordered as `vs` (ascending versions). */
  private[graft] def monotonicCommitTs(spark: SparkSession, path: String,
      vs: Seq[Long]): Seq[Long] = {
    val ix = tsIndexMap(spark, path) // i27: checkpointed versions skip the header
    vs.map(v => ix.getOrElse(v, commitTs(spark, path, v)))
      .foldRight(List.empty[Long]) {
        case (t, Nil)          => t :: Nil
        case (t, next :: rest) => math.min(t, next) :: next :: rest
      }
  }

  /** i25 — resolve the snapshot live AT a wall-clock instant
    * (`TIMESTAMP AS OF`): the newest version whose MONOTONE-adjusted
    * commit timestamp ([[monotonicCommitTs]] — legacy mtimes clamped
    * by their successors) is ≤ ts. Errors before the table's first
    * commit — "the table did not exist yet" must be loud, not an
    * empty frame. O(versions) header reads bare; O(1 + tail) once
    * [[checkpointTimestamps]] has run (i27). No data touched until
    * [[read]]. */
  def versionAsOf(spark: SparkSession, path: String, tsMs: Long): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed version at $path")
    val ts = monotonicCommitTs(spark, path, vs)
    val at = vs.zip(ts).filter(_._2 <= tsMs).map(_._1)
    require(at.nonEmpty,
      s"no version at or before ts $tsMs at $path " +
        s"(earliest commit ts = ${ts.head})")
    at.last
  }

  /** i25 — `TIMESTAMP AS OF` snapshot read (Delta/Iceberg time travel
    * by wall clock, on this table's own log): [[versionAsOf]] then the
    * ordinary snapshot [[read]] — reproducibility for consumers that
    * record WHEN they ran, not which version they saw. */
  def readAsOf(spark: SparkSession, path: String, tsMs: Long): DataFrame =
    read(spark, path, Some(versionAsOf(spark, path, tsMs)))

  /** Snapshot read: the given version, or the latest. */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    scan(spark, path, readManifest(spark, path, version.getOrElse(latest(spark, path))))

  /** i24 — the table's DECLARED schema at a version: the schema of the
    * files INTRODUCED by the newest schema-bearing commit at or before
    * it (Delta's mergeSchema contract: a commit that adds a column
    * updates the table schema; older files simply lack the column).
    * A restore's "introduced" files are the restored snapshot's —
    * so rolling back data rolls back the declared schema with it. */
  def declaredSchema(spark: SparkSession, path: String,
      version: Option[Long] = None): org.apache.spark.sql.types.StructType = {
    // walk down from v: a RESTORE jumps to its target (it introduces
    // no files — the rolled-back snapshot's schema is the declared
    // one); otherwise the newest version that introduced ≥1 file
    // defines the schema (its files were written under it); a
    // file-neutral step (e.g. a no-op commit) inherits its
    // predecessor's.
    @annotation.tailrec
    def schemaFileAt(v: Long): String =
      restoreTarget(spark, path, v) match {
        case Some(_) =>
          // Resolve from the files the restore's OWN manifest re-lists,
          // NOT by chasing the target version: vacuum retains only the
          // newest keepLast manifests, so the target's manifest may be
          // gone while the restore commit itself is retained. The last
          // re-listed file is the one written under the restored
          // snapshot's newest schema-bearing commit (manifests append
          // in write order), so it carries the rolled-back schema.
          val own = readManifest(spark, path, v)
          if (own.nonEmpty) own.last
          else if (v <= 1) sys.error(
            s"restore commit v$v at $path re-lists no files — no declared schema")
          else schemaFileAt(v - 1)
        case None =>
          val prev = if (v <= 1) Set.empty[String]
            else readManifest(spark, path, v - 1).toSet
          val own = readManifest(spark, path, v)
          val intro = own.filterNot(prev)
          if (intro.nonEmpty) intro.last
          else if (v <= 1) {
            require(own.nonEmpty,
              s"v$v at $path lists no files and has no predecessor — no declared schema")
            own.last
          }
          else schemaFileAt(v - 1)
      }
    spark.read.parquet(resolve(path, schemaFileAt(version.getOrElse(latest(spark, path))))).schema
  }

  /** i24 — SCHEMA-EVOLVED snapshot read: push the declared schema into
    * the scan (i6's shape — no mergeSchema footer pre-pass, which at
    * 100 TB is a whole-lake metadata job and hard-fails on the
    * INT→BIGINT drift evolution produces): era files missing a column
    * surface typed NULLs, columns the declared schema dropped are
    * never read. Combined with [[commit]] this IS mergeSchema-style
    * evolution on the versioned log: append a wider batch, the table
    * schema follows; time travel reads each era under ITS declared
    * schema; [[restore]] rolls the schema back with the data. */
  def readEvolved(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latest(spark, path))
    val files = readManifest(spark, path, v).map(f => resolve(path, f))
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.schema(declaredSchema(spark, path, Some(v))).parquet(files: _*)
  }

  /** Incremental read: the rows a catch-up consumer at snapshot
    * `fromV` needs to reach snapshot `toV`. For append-only ranges
    * this is the union of per-commit file deltas (data files are
    * immutable, so per-step file-set difference IS the row delta).
    * If the range contains an overwrite, everything delivered before
    * it was replaced: the union RESTARTS at the latest in-range
    * overwrite — the consumer sees that overwrite's full snapshot
    * plus the appends after it, and none of the replaced rows. This
    * is the consumer side of the transaction log: an incremental
    * pipeline checkpoints the version it has processed and reads only
    * the delta — O(new data), never a table rescan. */
  def readChanges(spark: SparkSession, path: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    // Union of per-version single-step diffs, SKIPPING compaction
    // versions (their new files hold only already-delivered rows —
    // the dataChange=false semantic). A plain manifest(toV) ∖
    // manifest(fromV) set-difference is WRONG across a compaction:
    // an append at vA < vC inside the range lands files that the
    // compaction at vC rewrites away, so they are absent from
    // manifest(toV) and the appended rows would silently vanish.
    // Per-step diffs read each append's files from the manifest that
    // introduced them — old versions are byte-stable until [[vacuum]],
    // so the files are still present even after a later compaction.
    val stepVs = versions(spark, path)
      .filter(v => v > fromV && v <= toV)
      .filterNot(v => isCompaction(spark, path, v))
    // isOverwriteStep reads v and v−1 per step and the delta flatMap
    // re-reads both — memoize per version for the duration of this
    // call so a catch-up over a long range does O(range) manifest IO,
    // not 3×
    val manifestMemo = scala.collection.mutable.Map.empty[Long, Seq[String]]
    def manifestOf(v: Long): Seq[String] =
      manifestMemo.getOrElseUpdate(v, readManifest(spark, path, v))
    def prevManifest(v: Long): Seq[String] =
      if (v <= 1) Seq.empty else manifestOf(v - 1)
    // An overwrite step replaces the whole prior snapshot: its
    // manifest shares no files with its predecessor's (landed file
    // names are token-unique, so disjointness is decisive — the same
    // detection refreshMatView uses). A RESTORE (i23) is an overwrite
    // in row terms but RE-REFERENCES old files, so disjointness can't
    // see it — its #restore: marker does. Rows delivered by steps
    // BEFORE the latest in-range overwrite/restore are not in snapshot
    // toV; restart the union there so the consumer never receives
    // replaced rows.
    def isOverwriteStep(v: Long): Boolean = {
      if (restoreTarget(spark, path, v).isDefined) return true
      if (isDelete(spark, path, v)) return true // i29: retraction ⇒ restart
      val prev = prevManifest(v)
      val cur = manifestOf(v).toSet
      prev.nonEmpty && prev.forall(f => !cur.contains(f))
    }
    val restartAt = stepVs.filter(isOverwriteStep).lastOption
    val files = restartAt.fold(stepVs)(r => stepVs.filter(_ >= r))
      .flatMap { v =>
        // v = 1 has no predecessor: its delta is its full snapshot.
        // The restart version's delta is ALSO its full snapshot: for a
        // plain overwrite the subtraction is a no-op (disjoint), but a
        // restore shares files with its predecessor and must still
        // deliver the whole restored snapshot.
        val prev = if (restartAt.contains(v)) Set.empty[String]
          else prevManifest(v).toSet
        manifestOf(v).filterNot(prev)
      }.distinct
    scan(spark, path, files)
  }

  /** i14 — COMPACTION (the lakehouse OPTIMIZE): rewrite the latest
    * snapshot into `targetFiles` consolidated data files and commit
    * the result as a new version whose manifest carries the
    * [[CompactionMarker]] — same rows, fewer files, NO row delta.
    * Everything the table already guarantees is preserved:
    * - old versions stay byte-stable (their small files are untouched
    *   until [[vacuum]] drops the manifests that reference them), so
    *   time travel across a compaction reads the pre-compaction bytes;
    * - change consumers ([[readChanges]]/[[drainChanges]]) see an
    *   EMPTY delta for the compaction version — the Delta-Lake
    *   dataChange=false semantic, carried by the marker line;
    * - concurrency: the manifest CAS only accepts the compaction if
    *   the base it rewrote is still the latest — a concurrent append
    *   winning the version race aborts this attempt, the landed files
    *   are deleted, and the compaction re-reads and re-lands from the
    *   new latest (appends are never lost, compaction just re-runs).
    * At 100 TB this is the small-file maintenance a streaming-ingested
    * table needs nightly: read O(live files), write O(targetFiles),
    * one manifest create; readers never block. */
  @annotation.tailrec
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Long = {
    val base = latest(spark, path)
    val newFiles = land(spark, path, read(spark, path, Some(base)).repartition(targetFiles))
    publish(spark, mainLog(path)) { now =>
      if (now.last != base) Left("base moved") else Right(CompactionMarker +: newFiles)
    } match {
      case Right(v) => v
      case Left(_) => // lost to a concurrent commit: drop this attempt's files, re-run
        val fs = fsOf(spark, path)
        newFiles.foreach(f => fs.delete(new Path(path, f), false))
        compact(spark, path, targetFiles)
    }
  }

  // ---- i18: branches (dev/main isolation + fast-forward publish) ----

  private val BranchBasePrefix = "#base:"

  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_]+"), s"bad branch name '$name'")

  /** Versions present on a branch, ascending (empty = no such branch). */
  def branchVersions(spark: SparkSession, path: String, name: String): Seq[Long] = {
    requireBranchName(name)
    logVersions(spark, branchLog(path, name))
  }

  /** The main version this branch forked from (recorded in its v1
    * manifest as a `#base:` metadata line). */
  def branchBase(spark: SparkSession, path: String, name: String): Long =
    readLines(spark, branchLog(path, name).file(1))
      .collectFirst { case l if l.startsWith(BranchBasePrefix) =>
        l.stripPrefix(BranchBasePrefix).trim.toLong
      }.getOrElse(throw new IllegalStateException(s"branch $name has no base line"))

  /** i18 — fork a BRANCH off a main version (Iceberg branch / git
    * branch semantics on this table's own log): branch v1 is a
    * manifest listing exactly the base version's files — ZERO data is
    * copied, the fork is one small file create; the base version is
    * recorded as a `#base:` metadata line for [[fastForward]]'s
    * ancestry check. Branch manifests live in their own name space
    * (`_branch-<name>-vN.manifest`), so [[versions]]/[[read]]/change
    * consumers never see branch work — a reader of main cannot
    * observe a branch commit even mid-write, which is what makes the
    * branch the natural home for i17's write-audit-publish (land +
    * audit on the branch, publish by fast-forward). */
  def createBranch(spark: SparkSession, path: String, name: String,
      from: Option[Long] = None): Long = {
    requireBranchName(name)
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"cannot branch an empty table at $path")
    val base = from.getOrElse(vs.last)
    require(vs.contains(base), s"no version $base to branch from")
    val files = readManifest(spark, path, base)
    publish(spark, branchLog(path, name)) { bvs =>
      if (bvs.nonEmpty) Left(s"branch $name already exists")
      else Right(s"$BranchBasePrefix$base" +: files)
    }.fold(e => throw new IllegalArgumentException(e), identity)
  }

  /** Commit `df` as the branch's next version (the branch-side twin of
    * [[commit]]): files land in the SHARED data/ directory under a
    * fresh token, the manifest CAS runs against the branch's own name
    * space. Main is never touched. */
  def commitToBranch(spark: SparkSession, path: String, name: String,
      df: DataFrame, overwrite: Boolean = false): Long = {
    require(branchVersions(spark, path, name).nonEmpty, s"no branch $name")
    val newFiles = land(spark, path, df)
    publish(spark, branchLog(path, name)) { vs =>
      Right(baseFiles(spark, branchLog(path, name), vs, overwrite) ++ newFiles)
    }.merge
  }

  /** Snapshot read of a branch (its latest version by default). */
  def readBranch(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None): DataFrame = {
    val vs = branchVersions(spark, path, name)
    require(vs.nonEmpty, s"no branch $name at $path")
    scan(spark, path, entries(spark, branchLog(path, name).file(version.getOrElse(vs.last))))
  }

  /** i18 — FAST-FORWARD publish: make main's next version the branch's
    * latest snapshot — one manifest create, zero data movement (the
    * branch's files are already in data/). Publishes ONLY if main is
    * still exactly the branch's fork base (the git fast-forward
    * condition): a main commit since the fork returns Left — the
    * caller re-runs its pipeline on a fresh branch (rebase) rather
    * than silently dropping the concurrent commit's rows. The check
    * and the manifest CAS run under the same commit discipline as
    * [[commit]], so racing publishers/committers serialize; losing a
    * race to a NON-main-moving attempt retries, losing to a real main
    * commit aborts with Left. */
  def fastForward(spark: SparkSession, path: String,
      name: String): Either[String, Long] = {
    val bvs = branchVersions(spark, path, name)
    require(bvs.nonEmpty, s"no branch $name")
    val base = branchBase(spark, path, name)
    val files = entries(spark, branchLog(path, name).file(bvs.last))
    publish(spark, mainLog(path)) { vs =>
      if (vs.last != base) Left(s"main moved to v${vs.last} past fork base v$base — rebase")
      else Right(files)
    }
  }

  // ---- i20: table clones (zero-copy shallow / independent deep) -----

  /** i20 — SHALLOW CLONE (Delta/Iceberg shallow clone semantics): a
    * new table root whose v1 manifest lists the SOURCE's files by
    * absolute reference — zero data copied, one manifest create, so
    * cloning a 100 TB table costs one small file. The clone then
    * evolves independently (its own commits land in its own data/
    * and its own manifest line); the source never sees clone work.
    * The documented hazard is real and kept: a source [[vacuum]] can
    * collect files a shallow clone references (the source does not
    * know its clones) — a clone meant to outlive source retention
    * uses [[deepClone]]. Returns the clone's v1. */
  def shallowClone(spark: SparkSession, srcPath: String,
      dstPath: String): Long = {
    val fs = fsOf(spark, dstPath)
    // absolute references: lines that don't start with data/ are
    // resolved as-is by readers (read() prefixes dstPath only for
    // relative entries)
    val srcAbs = new Path(srcPath).makeQualified(
      fs.getUri, fs.getWorkingDirectory).toString
    val files = readManifest(spark, srcPath, latest(spark, srcPath)).map(f => s"$srcAbs/$f")
    publish(spark, mainLog(dstPath)) { dvs =>
      if (dvs.nonEmpty) Left(s"clone target $dstPath not empty") else Right(files)
    }.fold(e => throw new IllegalArgumentException(e), identity)
  }

  /** i20 — DEEP CLONE: the source snapshot's rows re-land as the
    * clone's own files (cost O(data), paid once); the clone is fully
    * independent — source vacuum/retention cannot touch it. */
  def deepClone(spark: SparkSession, srcPath: String, dstPath: String): Long =
    commit(spark, dstPath, read(spark, srcPath))

  /** Drop a branch's manifests. Shared data files stay; [[vacuum]]
    * collects any the remaining manifests no longer reference. */
  def deleteBranch(spark: SparkSession, path: String, name: String): Int = {
    requireBranchName(name)
    val fs = fsOf(spark, path)
    val vs = branchVersions(spark, path, name)
    vs.foreach(v => fs.delete(branchLog(path, name).file(v), false))
    vs.length
  }

  /** What `vacuum(keepLast)` does: the manifests it drops and keeps,
    * the file set the kept manifests and live branches reference, and
    * the data files present. Pure metadata. */
  private final case class VacuumPlan(drop: Seq[Long], keep: Seq[Long],
      referenced: Set[String], dataFiles: Seq[org.apache.hadoop.fs.FileStatus])

  private def planVacuum(spark: SparkSession, path: String, keepLast: Int): VacuumPlan = {
    val fs = fsOf(spark, path)
    val vs = versions(spark, path)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepLast))
    val branchRefs = fs.listStatus(new Path(path)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("_branch-") && p.getName.endsWith(".manifest"))
      .flatMap(p => entries(spark, p))
    val referenced = (keep.flatMap(v => readManifest(spark, path, v)) ++ branchRefs)
      .map(f => f.stripPrefix("data/")).toSet
    val dataDir = new Path(path, "data")
    val dataFiles =
      if (!fs.exists(dataDir)) Seq.empty else fs.listStatus(dataDir).toSeq.filter(_.isFile)
    VacuumPlan(drop, keep, referenced, dataFiles)
  }

  /** i26 — VACUUM DRY RUN: the reclamation PLAN `vacuum(keepLast)`
    * would execute, as data (Delta's `VACUUM ... DRY RUN` — nobody
    * deletes from a 100 TB lake without reading this first). Per data
    * file: bytes, whether a kept manifest or a live branch still
    * references it, and the verdict; manifests to drop ride the same
    * rows (kind = 'manifest'). Pure metadata — reads manifests and one
    * directory listing, touches NO data. [[vacuum]] executes exactly
    * this plan (spec-pinned: plan verdicts ≡ what vacuum then deletes,
    * counts equal). */
  def vacuumPlan(spark: SparkSession, path: String, keepLast: Int): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, path)
    val plan = planVacuum(spark, path, keepLast)
    val fileRows = plan.dataFiles.map { f =>
      val kept = plan.referenced.contains(f.getPath.getName)
      ("data", f.getPath.getName, f.getLen,
        if (kept) "referenced" else "unreferenced", !kept)
    }
    def manifestRows(vs: Seq[Long], reason: String, del: Boolean) = vs.map { v =>
      ("manifest", manifest(path, v).getName,
        fs.getFileStatus(manifest(path, v)).getLen, reason, del)
    }
    (fileRows ++ manifestRows(plan.drop, "beyond keepLast", true) ++
        manifestRows(plan.keep, "kept", false))
      .toDF("kind", "name", "bytes", "reason", "would_delete")
      .orderBy("kind", "name")
  }

  /** Drop all but the last `keepLast` manifests and delete every data
    * file none of the kept manifests references (including files
    * orphaned by crashed commits). Live BRANCH manifests count as
    * references — a branch's snapshot stays byte-stable across a main
    * vacuum (delete the branch first to reclaim its files). Executes
    * exactly the plan [[vacuumPlan]] reports. Returns
    * (manifests dropped, data files deleted). */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): (Int, Int) = {
    val fs = fsOf(spark, path)
    val plan = planVacuum(spark, path, keepLast)
    plan.drop.foreach(v => fs.delete(manifest(path, v), false))
    val removed = plan.dataFiles.filterNot(f => plan.referenced.contains(f.getPath.getName))
    removed.foreach(f => fs.delete(f.getPath, false))
    // i28 upkeep: drop zone-map entries for the files just collected —
    // stale entries are harmless to correctness (lookups key off live
    // manifests) but the sidecar must not grow with delete/rewrite
    // churn forever
    val stats = fstatsMap(spark, path)
    if (stats.nonEmpty) {
      val live = stats.filter { case (f, _) =>
        plan.referenced.contains(f.stripPrefix("data/"))
      }
      if (live.size != stats.size) writeFstats(spark, path, live)
    }
    (plan.drop.length, removed.length)
  }

  // ---- i13: the table's change feed as an exactly-once consumer ----

  /** Last fully-processed version at this checkpoint (0 = nothing).
    * Cursors are VERSIONED files (`_cursor.<v>`) and the read takes
    * the max, so commit never passes through a cursor-less window: a
    * crash anywhere in writeCursor leaves either the old max or both
    * old and new (max still correct) — never a state that replays
    * more than the one in-flight version. (Reads the legacy unsuffixed
    * `_cursor` too, for checkpoints written before this scheme.) */
  def cursorVersion(spark: SparkSession, ckptDir: String): Long = {
    val fs = fsOf(spark, ckptDir)
    val dir = new Path(ckptDir)
    if (!fs.exists(dir)) return 0L
    val named = fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("_cursor"))
    if (named.isEmpty) 0L else named.map(p => readLines(spark, p).head.trim.toLong).max
  }

  private def writeCursor(spark: SparkSession, ckptDir: String, v: Long): Unit = {
    // land the NEW cursor first; only then drop superseded ones.
    // A crash in between leaves multiple cursors and max-on-read wins.
    replaceFile(spark, new Path(ckptDir, s"_cursor.$v"), Seq(v.toString))
    val fs = fsOf(spark, ckptDir)
    fs.listStatus(new Path(ckptDir)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("_cursor") && p.getName != s"_cursor.$v")
      .foreach(p => fs.delete(p, false))
  }

  /** i13 — the CONSUMER loop of the transaction log, exactly-once: every
    * version committed past this checkpoint's cursor is handed to
    * `process` as its row DELTA (file-set difference vs the previous
    * manifest — i11's readChanges; the first version's delta is its
    * full snapshot), in version order, and the cursor advances ONLY
    * after `process` returns — so a crash mid-version replays exactly
    * that version. Exactly-once therefore needs `process` to land
    * idempotently (overwrite-by-version — i4's batch_id pattern, i9's
    * merge convergence); at-least-once delivery + idempotent apply is
    * the same contract Structured Streaming's foreachBatch gives, here
    * over table VERSIONS instead of micro-batches, with the
    * checkpoint surviving process restarts. Returns the versions
    * processed this drain. At 100 TB each drain reads O(new files) —
    * the incremental-pipeline shape (downstream aggregates, index
    * absorbs, replication) without ever rescanning the table. */
  def drainChanges(spark: SparkSession, tablePath: String, ckptDir: String)
      (process: (DataFrame, Long) => Unit): Seq[Long] = {
    val vs = versions(spark, tablePath)
    val from = cursorVersion(spark, ckptDir)
    val todo = vs.filter(_ > from)
    todo.foreach { v =>
      // compaction versions (i14) carry no row delta — the cursor
      // advances past them without invoking the consumer
      if (!isCompaction(spark, tablePath, v)) {
        val delta =
          if (vs.headOption.contains(v)) read(spark, tablePath, Some(v))
          else readChanges(spark, tablePath, v - 1, v)
        process(delta, v)
      }
      writeCursor(spark, ckptDir, v)
    }
    todo
  }
}
