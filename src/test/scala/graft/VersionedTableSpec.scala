package graft

import graft.sources.VersionedTable

/** i10 — manifest-committed snapshot table: time travel is byte-stable,
  * half-done commits are invisible, the version CAS survives a racing
  * writer, and vacuum collects exactly the unreferenced files.
  */
class VersionedTableSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("i10: commits, time travel, crash invisibility, CAS race, vacuum") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // v1: initial load; v2: append; v3: overwrite
    val d1 = (0L until 100L).map(k => (k, s"a$k")).toDF("key", "val")
    val d2 = (100L until 150L).map(k => (k, s"b$k")).toDF("key", "val")
    val d3 = (0L until 10L).map(k => (k, s"c$k")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, d1) == 1L)
    assert(VersionedTable.commit(spark, path, d2) == 2L)
    assert(VersionedTable.commit(spark, path, d3, overwrite = true) == 3L)
    assert(VersionedTable.versions(spark, path) == Seq(1L, 2L, 3L))

    val want1 = rows(d1); val want2 = rows(d1) ++ rows(d2); val want3 = rows(d3)
    assert(rows(VersionedTable.read(spark, path)) == want3, "latest = v3")
    assert(rows(VersionedTable.read(spark, path, Some(1L))) == want1, "time travel v1")
    assert(rows(VersionedTable.read(spark, path, Some(2L))) == want2, "time travel v2")

    // a crashed commit: data files landed, manifest never written —
    // invisible to every reader
    val orphan = new org.apache.hadoop.fs.Path(path, "data/deadbeef-orphan.parquet")
    d1.limit(3).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/.crash_tmp")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/.crash_tmp"))
      .filter(_.getPath.getName.endsWith(".parquet"))(0).getPath
    fs.rename(part, orphan)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.crash_tmp"), true)
    assert(rows(VersionedTable.read(spark, path)) == want3,
      "orphaned data file leaked into the snapshot")
    assert(rows(VersionedTable.read(spark, path, Some(2L))) == want2)

    // i11: incremental reads — the delta between two snapshots is
    // exactly the appended rows; an overwrite's delta is the full new
    // snapshot (all files new)
    assert(rows(VersionedTable.readChanges(spark, path, 1L, 2L)) == rows(d2))
    assert(rows(VersionedTable.readChanges(spark, path, 2L, 3L)) == want3,
      "overwrite delta must be the full new snapshot")
    assert(VersionedTable.readChanges(spark, path, 2L, 2L).isEmpty)

    // CAS race: another writer already took version 4 — the commit
    // retries and lands at 5 without disturbing v4
    val rival = (900L until 910L).map(k => (k, s"r$k")).toDF("key", "val")
    val rivalV = VersionedTable.commit(spark, path, rival, overwrite = true)
    assert(rivalV == 4L)
    // pre-create v5's manifest to force one CAS failure for the next
    // committer... by racing it ourselves: commit and expect 5 taken,
    // so this one lands at 6
    val d6 = (50L until 60L).map(k => (k, s"z$k")).toDF("key", "val")
    val stolen = new org.apache.hadoop.fs.Path(path, f"_v${5L}%06d.manifest")
    val src = new org.apache.hadoop.fs.Path(path, f"_v${4L}%06d.manifest")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, stolen, false,
      spark.sparkContext.hadoopConfiguration)
    val v = VersionedTable.commit(spark, path, d6)  // append to latest=5(=v4 copy)
    assert(v == 6L, s"CAS should land past the stolen version, got $v")
    assert(rows(VersionedTable.read(spark, path, Some(6L))) == rows(rival) ++ rows(d6))

    // vacuum to the last 2 versions: v1..v4 manifests go; files only
    // they referenced go (d1/d2/d3's data); the orphan goes; v5/v6
    // stay readable
    val dataBefore = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data")).length
    val (droppedM, droppedF) = VersionedTable.vacuum(spark, path, keepLast = 2)
    assert(droppedM == 4, s"manifests dropped: $droppedM")
    assert(droppedF > 0 && !fs.exists(orphan), "orphan survived vacuum")
    assert(VersionedTable.versions(spark, path) == Seq(5L, 6L))
    assert(rows(VersionedTable.read(spark, path, Some(6L))) == rows(rival) ++ rows(d6),
      "kept version unreadable after vacuum")
    val dataAfter = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data")).length
    assert(dataAfter == dataBefore - droppedF)
    intercept[Exception] { VersionedTable.read(spark, path, Some(2L)).collect() }
  }

  test("i10 under contention: 8 racing writers all land, in distinct versions, losing no rows") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_race").toString
    // 8 threads append concurrently; every CAS loser must retry the
    // MANIFEST ONLY and still land its already-written data files
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results = (0 until 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = VersionedTable.commit(spark, path,
          (0L until 10L).map(k => (i * 100L + k, s"w$i-$k")).toDF("key", "val"))
      })
    }
    val versions = results.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.sorted == (1L to 8L), s"versions collided: $versions")
    val finalRows = rows(VersionedTable.read(spark, path))
    val want = (0 until 8).flatMap(i =>
      (0L until 10L).map(k => (i * 100L + k, s"w$i-$k"))).toSet
    assert(finalRows == want, "a racing writer's rows were lost")
    // every intermediate snapshot is a strict superset chain
    (1L to 7L).foreach { v =>
      assert(rows(VersionedTable.read(spark, path, Some(v)))
        .subsetOf(rows(VersionedTable.read(spark, path, Some(v + 1)))),
        s"v$v is not contained in v${v + 1}")
    }
  }

  test("i14: compact rewrites files not rows — time travel, change feed and vacuum all transparent") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_opt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vtable_opt_ck").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(v: Long): Int = {
      // count via a snapshot read's input files — readers never list data/
      VersionedTable.read(spark, path, Some(v)).inputFiles.length
    }

    // 5 small append commits, each fragmented across 2 files
    (0 until 5).foreach { i =>
      VersionedTable.commit(spark, path,
        (0L until 20L).map(k => (i * 100L + k, s"w$i-$k")).toDF("key", "val")
          .repartition(2))
    }
    val want = rows(VersionedTable.read(spark, path))
    assert(dataFiles(5L) == 10, "precondition: fragmented table")

    // a consumer drains the appends BEFORE compaction
    var drained = Set.empty[(Long, String)]
    VersionedTable.drainChanges(spark, path, ckpt) { (d, _) => drained ++= rows(d) }
    assert(drained == want)

    // compact to 2 files: same rows, fewer files, new version
    val cv = VersionedTable.compact(spark, path, targetFiles = 2)
    assert(cv == 6L && VersionedTable.isCompaction(spark, path, cv))
    assert(rows(VersionedTable.read(spark, path)) == want, "compaction changed rows")
    assert(dataFiles(6L) == 2, "compaction must consolidate to targetFiles")
    assert(dataFiles(5L) == 10, "pre-compaction snapshot must keep its bytes")

    // change feed across the compaction: v6 contributes NOTHING; a
    // later append is delivered alone
    assert(VersionedTable.readChanges(spark, path, 5L, 6L).isEmpty,
      "compaction must have an empty row delta")
    VersionedTable.commit(spark, path,
      (900L until 910L).map(k => (k, s"z$k")).toDF("key", "val"))
    var calls = 0
    var delta = Set.empty[(Long, String)]
    VersionedTable.drainChanges(spark, path, ckpt) { (d, _) => calls += 1; delta ++= rows(d) }
    assert(calls == 1, "the compaction version must not invoke the consumer")
    assert(delta == (900L until 910L).map(k => (k, s"z$k")).toSet,
      "post-compaction drain must deliver only the append")
    assert(VersionedTable.cursorVersion(spark, ckpt) == 7L)
    // and a 2-version-range readChanges spanning the compaction sees
    // only the appended rows, never the rewritten old ones
    assert(rows(VersionedTable.readChanges(spark, path, 5L, 7L)) ==
      (900L until 910L).map(k => (k, s"z$k")).toSet)

    // vacuum to the last 2 versions: the 10 small pre-compaction files
    // are unreferenced by v6/v7 and get collected; both stay readable
    val (_, droppedF) = VersionedTable.vacuum(spark, path, keepLast = 2)
    assert(droppedF >= 10, s"small files must be collected, dropped $droppedF")
    assert(rows(VersionedTable.read(spark, path)) ==
      want ++ (900L until 910L).map(k => (k, s"z$k")).toSet)
    assert(rows(VersionedTable.read(spark, path, Some(6L))) == want)
  }

  test("i11: catch-up readChanges across an interior compaction keeps the pre-compaction append") {
    import spark.implicits._
    // The round-10 ADVICE data-loss case: fromV < vA (append) < vC
    // (compaction) <= toV. The compaction rewrites vA's files out of
    // manifest(toV) and its own files carry no delta, so a plain
    // manifest set-difference returns NOTHING for vA's rows — the
    // union-of-single-step-diffs read must still deliver them.
    val path = java.nio.file.Files.createTempDirectory("vtable_catchup").toString
    val base = (0L until 10L).map(k => (k, s"b$k"))
    val appA = (100L until 110L).map(k => (k, s"a$k"))
    val appB = (200L until 210L).map(k => (k, s"c$k"))
    VersionedTable.commit(spark, path, base.toDF("key", "val"))        // v1
    VersionedTable.commit(spark, path, appA.toDF("key", "val"))        // v2 (append)
    val cv = VersionedTable.compact(spark, path, targetFiles = 1)      // v3 (compaction)
    assert(cv == 3L)
    VersionedTable.commit(spark, path, appB.toDF("key", "val"))        // v4 (append)
    assert(rows(VersionedTable.readChanges(spark, path, 1L, 3L)) == appA.toSet,
      "the append preceding the in-range compaction must not vanish")
    assert(rows(VersionedTable.readChanges(spark, path, 1L, 4L)) ==
      (appA ++ appB).toSet, "catch-up across the compaction must union both appends")
    // and the first version's delta is its full snapshot
    assert(rows(VersionedTable.readChanges(spark, path, 0L, 1L)) == base.toSet)
  }

  test("i11: catch-up readChanges across an interior overwrite restarts at the overwrite") {
    import spark.implicits._
    // The round-11 ADVICE over-delivery case: fromV < vA (append) < vO
    // (overwrite) <= toV. The overwrite replaced vA's rows, so a
    // catch-up consumer must receive ONLY the overwrite's snapshot
    // plus later appends — never vA's replaced rows (which are not in
    // snapshot toV).
    val path = java.nio.file.Files.createTempDirectory("vtable_ow").toString
    val base = (0L until 10L).map(k => (k, s"b$k"))
    val appA = (100L until 110L).map(k => (k, s"a$k"))
    val ow   = (500L until 505L).map(k => (k, s"o$k"))
    val appB = (200L until 210L).map(k => (k, s"c$k"))
    VersionedTable.commit(spark, path, base.toDF("key", "val"))               // v1
    VersionedTable.commit(spark, path, appA.toDF("key", "val"))               // v2 (append)
    VersionedTable.commit(spark, path, ow.toDF("key", "val"), overwrite = true) // v3 (overwrite)
    VersionedTable.commit(spark, path, appB.toDF("key", "val"))               // v4 (append)
    assert(rows(VersionedTable.readChanges(spark, path, 1L, 3L)) == ow.toSet,
      "catch-up across an overwrite must not deliver replaced rows")
    assert(rows(VersionedTable.readChanges(spark, path, 1L, 4L)) ==
      (ow ++ appB).toSet, "catch-up = overwrite snapshot + later appends")
    // delivered set matches the snapshot a full read of toV would see
    assert(rows(VersionedTable.readChanges(spark, path, 0L, 4L)) ==
      rows(VersionedTable.read(spark, path, Some(4L))),
      "from-zero catch-up must equal the target snapshot")
    // and a compaction AFTER the overwrite stays an empty delta while
    // the restart point is preserved
    val cv = VersionedTable.compact(spark, path, targetFiles = 1)             // v5
    assert(cv == 5L)
    assert(rows(VersionedTable.readChanges(spark, path, 1L, 5L)) ==
      (ow ++ appB).toSet, "compaction after the overwrite must not change the delta")
  }

  test("i13: drainChanges delivers every version's delta exactly once across a crash") {
    import spark.implicits._
    import graft.sources.DatasetsSink
    val path = java.nio.file.Files.createTempDirectory("vtable_feed").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vtable_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("vtable_out").toString

    def land(delta: org.apache.spark.sql.DataFrame, v: Long): Unit =
      DatasetsSink.writeBatchIdempotent(delta, v, out)
    def landed: Set[(Long, String)] =
      spark.read.parquet(out).select("key", "val").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

    VersionedTable.commit(spark, path,
      (0L until 40L).map(k => (k, s"a$k")).toDF("key", "val"))
    VersionedTable.commit(spark, path,
      (40L until 60L).map(k => (k, s"b$k")).toDF("key", "val"))
    // first drain: both versions, in order, cursor lands at 2
    assert(VersionedTable.drainChanges(spark, path, ckpt)(land) == Seq(1L, 2L))
    assert(landed == rows(VersionedTable.read(spark, path)))
    // idle drain: nothing to do, nothing rewritten
    assert(VersionedTable.drainChanges(spark, path, ckpt)(land).isEmpty)

    // v3 commits; the consumer CRASHES after landing but before the
    // cursor advances — the replay must hand v3 again and the
    // idempotent landing must absorb it without duplicating
    VersionedTable.commit(spark, path,
      (60L until 70L).map(k => (k, s"c$k")).toDF("key", "val"))
    var calls = 0
    intercept[RuntimeException] {
      VersionedTable.drainChanges(spark, path, ckpt) { (d, v) =>
        land(d, v); calls += 1; throw new RuntimeException("crash after landing")
      }
    }
    assert(calls == 1 && VersionedTable.cursorVersion(spark, ckpt) == 2L,
      "cursor must not advance past a failed version")
    val replayed = VersionedTable.drainChanges(spark, path, ckpt) { (d, v) =>
      assert(d.count() == 10L, "replayed delta must be v3's rows only, not a rescan")
      land(d, v)
    }
    assert(replayed == Seq(3L))
    assert(landed == rows(VersionedTable.read(spark, path)),
      "post-crash replay must converge to the exact table content")
  }

  test("i17: write-audit-publish — failing audits are never visible, passing ones publish atomically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("wap").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(path, "data")
    def dataFiles(): Set[String] =
      fs.listStatus(dataDir).map(_.getPath.getName).toSet

    val d1 = (0L until 100L).map(k => (k, s"a$k")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, d1) == 1L)

    val noNullKeys = "no_null_keys" ->
      ((df: org.apache.spark.sql.DataFrame) => df.filter(col("key").isNull).isEmpty)
    var auditSaw = -1L
    val captureN = "capture_candidate_rows" ->
      ((df: org.apache.spark.sql.DataFrame) => { auditSaw = df.count(); true })

    // good batch: publishes as v2, and the audit ran against the
    // CANDIDATE (base + batch), not the batch alone
    val good = (100L until 150L).map(k => (k, s"b$k")).toDF("key", "val")
    assert(VersionedTable.writeAuditPublish(spark, path, good,
      Seq(noNullKeys, captureN)) == Right(2L))
    assert(auditSaw == 150L, "audit must see base + batch, not the batch alone")
    assert(rows(VersionedTable.read(spark, path)) == rows(d1) ++ rows(good))

    // bad batch: a planted null key — audit rejects, and the table is
    // bit-for-bit as if the batch never arrived
    val filesBefore = dataFiles()
    val versionsBefore = VersionedTable.versions(spark, path)
    val contentBefore = rows(VersionedTable.read(spark, path))
    val bad = Seq((Option(200L), "x"), (Option.empty[Long], "boom"))
      .toDF("key", "val")
    assert(VersionedTable.writeAuditPublish(spark, path, bad,
      Seq(noNullKeys)) == Left(Seq("no_null_keys")))
    assert(VersionedTable.versions(spark, path) == versionsBefore,
      "a failed audit must not mint a version")
    assert(rows(VersionedTable.read(spark, path)) == contentBefore,
      "the served snapshot must be untouched")
    assert(dataFiles() == filesBefore,
      "the rejected batch's landed files must be cleaned up — no junk accumulates")

    // numbering continues undisturbed for the next writer
    assert(VersionedTable.commit(spark, path,
      Seq((300L, "z")).toDF("key", "val")) == 3L)
  }

  test("i18: branches — isolated commits, fast-forward publish, divergence refusal, vacuum safety") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vbranch").toString

    val d1 = (0L until 100L).map(k => (k, s"a$k")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, d1) == 1L)

    // fork + two branch commits: main never moves, branch accumulates
    assert(VersionedTable.createBranch(spark, path, "dev") == 1L)
    val b1 = (100L until 120L).map(k => (k, s"b$k")).toDF("key", "val")
    val b2 = (120L until 130L).map(k => (k, s"c$k")).toDF("key", "val")
    assert(VersionedTable.commitToBranch(spark, path, "dev", b1) == 2L)
    assert(VersionedTable.commitToBranch(spark, path, "dev", b2) == 3L)
    assert(VersionedTable.versions(spark, path) == Seq(1L),
      "branch commits must be invisible to main")
    assert(rows(VersionedTable.read(spark, path)) == rows(d1))
    assert(rows(VersionedTable.readBranch(spark, path, "dev")) ==
      rows(d1) ++ rows(b1) ++ rows(b2))

    // fast-forward: main v2 = branch tip, one manifest, no data moved
    assert(VersionedTable.fastForward(spark, path, "dev") == Right(2L))
    assert(rows(VersionedTable.read(spark, path)) ==
      rows(d1) ++ rows(b1) ++ rows(b2))

    // divergence: main commits past the fork base ⇒ publish refuses
    assert(VersionedTable.createBranch(spark, path, "risky") == 1L)
    val m3 = Seq((500L, "m")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, m3) == 3L)
    val bx = Seq((600L, "x")).toDF("key", "val")
    VersionedTable.commitToBranch(spark, path, "risky", bx)
    val ff = VersionedTable.fastForward(spark, path, "risky")
    assert(ff.isLeft, s"diverged fast-forward must refuse, got $ff")
    assert(rows(VersionedTable.read(spark, path)) ==
      rows(d1) ++ rows(b1) ++ rows(b2) ++ rows(m3),
      "a refused publish must leave main untouched")

    // vacuum: live branch manifests protect their files...
    val (_, removed) = VersionedTable.vacuum(spark, path, keepLast = 1)
    assert(rows(VersionedTable.readBranch(spark, path, "risky")) ==
      rows(d1) ++ rows(b1) ++ rows(b2) ++ rows(bx),
      s"vacuum (removed $removed) must not collect branch-referenced files")
    // ...and deleting the branch releases them
    assert(VersionedTable.deleteBranch(spark, path, "risky") == 2)
    val (_, removed2) = VersionedTable.vacuum(spark, path, keepLast = 1)
    assert(removed2 >= 1, "the branch-only batch's files should be reclaimed")
    assert(rows(VersionedTable.read(spark, path)) ==
      rows(d1) ++ rows(b1) ++ rows(b2) ++ rows(m3),
      "main is byte-stable through branch deletion + vacuum")
  }

  test("i19: incremental matview — merges deltas only, replay-safe via the in-band source marker") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val src = java.nio.file.Files.createTempDirectory("mv_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mv_ckpt").toString
    val mat = java.nio.file.Files.createTempDirectory("mv_mat").toString
    def matRows(): Map[Long, Long] =
      VersionedTable.read(spark, mat).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def wantNow(): Map[Long, Long] =
      VersionedTable.read(spark, src).groupBy("key").agg(sum(col("v")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    VersionedTable.commit(spark, src,
      (0L until 10L).map(k => (k, k)).toDF("key", "v"))
    VersionedTable.commit(spark, src,
      (5L until 15L).map(k => (k, 100L)).toDF("key", "v"))
    assert(VersionedTable.refreshMatView(spark, src, ckpt, mat, "key", "v")
      == Seq(1L, 2L))
    assert(matRows() == wantNow(), "matview must equal the full recompute")
    assert(VersionedTable.matViewSourceVersion(spark, mat) == 2L)

    // incremental step: one more append, one more merge
    VersionedTable.commit(spark, src, Seq((5L, 1000L)).toDF("key", "v"))
    VersionedTable.refreshMatView(spark, src, ckpt, mat, "key", "v")
    assert(matRows() == wantNow())
    assert(matRows()(5L) == 5L + 100L + 1000L)

    // replay: crash "between matview commit and cursor" — force a full
    // replay by wiping the cursor; every version must marker-skip
    // (addition is not idempotent, the in-band #source gate is)
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(ckpt)).toSeq
      .filter(_.getPath.getName.startsWith("_cursor"))
      .foreach(p => fs.delete(p.getPath, false))
    val before = matRows()
    VersionedTable.refreshMatView(spark, src, ckpt, mat, "key", "v")
    assert(matRows() == before, "a replayed delta must never double-add")

    // source overwrite: the matview starts over from the new snapshot
    VersionedTable.commit(spark, src,
      Seq((1L, 7L), (2L, 8L)).toDF("key", "v"), overwrite = true)
    VersionedTable.refreshMatView(spark, src, ckpt, mat, "key", "v")
    assert(matRows() == Map(1L -> 7L, 2L -> 8L),
      "an overwritten source must reset the matview, not double-count")
  }

  test("i20: clones — zero-copy shallow, independent evolution, deep survives source vacuum") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("cl_src").toString
    val sh = java.nio.file.Files.createTempDirectory("cl_sh").toString
    val dp = java.nio.file.Files.createTempDirectory("cl_dp").toString
    val fs = new org.apache.hadoop.fs.Path(sh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val d1 = (0L until 100L).map(k => (k, s"a$k")).toDF("key", "val")
    VersionedTable.commit(spark, src, d1)

    // shallow: one manifest, zero data files in the clone's root
    assert(VersionedTable.shallowClone(spark, src, sh) == 1L)
    assert(rows(VersionedTable.read(spark, sh)) == rows(d1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sh, "data")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(sh, "data")).isEmpty,
      "a shallow clone must copy no data")

    // independent evolution, both directions invisible to each other
    val cOnly = Seq((500L, "c")).toDF("key", "val")
    VersionedTable.commit(spark, sh, cOnly)
    val sOnly = Seq((600L, "s")).toDF("key", "val")
    VersionedTable.commit(spark, src, sOnly)
    assert(rows(VersionedTable.read(spark, sh)) == rows(d1) ++ rows(cOnly))
    assert(rows(VersionedTable.read(spark, src)) == rows(d1) ++ rows(sOnly))

    // deep clone: fully independent — survives the source vacuuming
    // down past the cloned snapshot's files
    assert(VersionedTable.deepClone(spark, src, dp) == 1L)
    VersionedTable.commit(spark, src,
      Seq((700L, "z")).toDF("key", "val"), overwrite = true)
    VersionedTable.vacuum(spark, src, keepLast = 1)
    assert(rows(VersionedTable.read(spark, dp)) == rows(d1) ++ rows(sOnly),
      "a deep clone must be untouchable by source retention")
  }

  test("i17+i18: write-audit-publish ON A BRANCH — audit the branch snapshot, publish by fast-forward") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("wapbranch").toString

    val d1 = (0L until 100L).map(k => (k, s"a$k")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, d1) == 1L)
    def noNullKeys(df: org.apache.spark.sql.DataFrame): Boolean =
      df.filter(col("key").isNull).isEmpty

    // rejected cycle: bad batch lands on a scratch branch, the audit
    // reads the BRANCH SNAPSHOT (= candidate: base + batch), fails,
    // and the branch is torn down — main never saw anything, and
    // vacuum reclaims the landed bytes
    VersionedTable.createBranch(spark, path, "audit1")
    val bad = Seq((Option(200L), "x"), (Option.empty[Long], "boom"))
      .toDF("key", "val")
    VersionedTable.commitToBranch(spark, path, "audit1", bad)
    val candidate = VersionedTable.readBranch(spark, path, "audit1")
    assert(candidate.count() == 102L, "audit must see base + batch")
    assert(!noNullKeys(candidate), "the audit should catch the planted null")
    VersionedTable.deleteBranch(spark, path, "audit1")
    val (_, reclaimed) = VersionedTable.vacuum(spark, path, keepLast = 10)
    assert(reclaimed >= 1, "the rejected batch's landed files are vacuumable")
    assert(VersionedTable.versions(spark, path) == Seq(1L))
    assert(rows(VersionedTable.read(spark, path)) == rows(d1))

    // accepted cycle: good batch audits green on its branch and
    // publishes as ONE fast-forward — main goes base -> candidate
    // atomically, no data rewritten
    VersionedTable.createBranch(spark, path, "audit2")
    val good = (100L until 130L).map(k => (k, s"g$k")).toDF("key", "val")
    VersionedTable.commitToBranch(spark, path, "audit2", good)
    assert(noNullKeys(VersionedTable.readBranch(spark, path, "audit2")))
    assert(VersionedTable.fastForward(spark, path, "audit2") == Right(2L))
    assert(rows(VersionedTable.read(spark, path)) == rows(d1) ++ rows(good))
  }

  test("i21: partition evolution — new spec prunes, old-spec and other-spec files always scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("vtable_evo").toString
    def mk(range: Range, t: Long => String) =
      range.map(k => (k.toLong, t(k.toLong), k.toLong % 4)).toDF("key", "etype", "bucket")

    // v1: pre-evolution (spec-less) files
    VersionedTable.commit(spark, path, mk(0 until 40, k => if (k % 2 == 0) "x" else "y"))
    // v2: evolve to partition-by-etype
    VersionedTable.commitPartitioned(spark, path,
      mk(40 until 80, k => if (k % 3 == 0) "x" else "y"), "etype")
    // v3: evolve AGAIN to a different column
    VersionedTable.commitPartitioned(spark, path,
      mk(80 until 100, _ => "x"), "bucket")

    val full = VersionedTable.read(spark, path)
    assert(full.count() == 100L)

    val (df, scanned, total) = VersionedTable.readPruned(spark, path, "etype", "x")
    assert(scanned < total, s"pruning must cut files: $scanned/$total")
    // superset contract: filter on top equals the full-scan filter
    assert(df.filter(col("etype") === "x").count() ==
      full.filter(col("etype") === "x").count())
    // exactly v2's y-files were pruned: every kept file either carries
    // etype=x or no etype marker at all
    val files = VersionedTable.manifestFiles(spark, path)
    val prunable = files.count(_.contains("-etype="))
    val xMarked = files.count(_.contains("-etype=x-"))
    assert(scanned == total - (prunable - xMarked))
    // old versions stay byte-stable: v1 read is unaffected by evolution
    assert(VersionedTable.read(spark, path, Some(1L)).count() == 40L)
    // pruning on the v3 spec: etype-marked and spec-less files all scan
    val (_, s2, t2) = VersionedTable.readPruned(spark, path, "bucket", "2")
    assert(s2 < t2)
    // a non-filename-safe value is rejected loudly
    intercept[IllegalArgumentException] {
      VersionedTable.commitPartitioned(spark, path,
        Seq((1L, "a/b", 0L)).toDF("key", "etype", "bucket"), "etype")
    }
  }

  test("i23: restore — zero-copy rollback, history kept, change feed and matview see an overwrite") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_restore").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val d1 = (0L until 50L).map(k => (k, s"a$k")).toDF("key", "val")
    val d2 = (50L until 80L).map(k => (k, s"bad$k")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, d1) == 1L)
    assert(VersionedTable.commit(spark, path, d2) == 2L) // the bad append

    val dataBefore = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).toSet
    assert(VersionedTable.restore(spark, path, 1L) == 3L)
    // zero data copied: the data dir is byte-identical, v3 just
    // re-references v1's files
    val dataAfter = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).toSet
    assert(dataAfter == dataBefore, "restore must not write data files")
    assert(rows(VersionedTable.read(spark, path)) == rows(d1), "latest = restored v1")
    // history kept: the bad version stays inspectable
    assert(rows(VersionedTable.read(spark, path, Some(2L))) == rows(d1) ++ rows(d2))
    assert(VersionedTable.restoreTarget(spark, path, 3L).contains(1L))
    assert(VersionedTable.restoreTarget(spark, path, 2L).isEmpty)

    // change feed: the restore is an overwrite step — a from-scratch
    // catch-up sees exactly the restored snapshot (never the retracted
    // bad rows), and a consumer AT the bad version restarts cleanly
    assert(rows(VersionedTable.readChanges(spark, path, 0L, 3L)) == rows(d1))
    assert(rows(VersionedTable.readChanges(spark, path, 2L, 3L)) == rows(d1))

    // appends after the restore flow as normal deltas
    val d4 = (900L until 910L).map(k => (k, s"d$k")).toDF("key", "val")
    assert(VersionedTable.commit(spark, path, d4) == 4L)
    assert(rows(VersionedTable.readChanges(spark, path, 3L, 4L)) == rows(d4))
    assert(rows(VersionedTable.readChanges(spark, path, 2L, 4L)) == rows(d1) ++ rows(d4))

    // matview across the restore: recompute, not double-count
    val ckpt = java.nio.file.Files.createTempDirectory("restore_ckpt").toString
    val mat = java.nio.file.Files.createTempDirectory("restore_mat").toString
    val src = java.nio.file.Files.createTempDirectory("restore_src").toString
    val s1 = Seq((1L, 10L), (2L, 20L)).toDF("key", "v")
    val s2 = Seq((1L, 5L)).toDF("key", "v")
    VersionedTable.commit(spark, src, s1)
    VersionedTable.commit(spark, src, s2)
    VersionedTable.refreshMatView(spark, src, ckpt, mat, "key", "v")
    VersionedTable.restore(spark, src, 1L)
    VersionedTable.refreshMatView(spark, src, ckpt, mat, "key", "v")
    val got = VersionedTable.read(spark, mat).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 10L, 2L -> 20L),
      s"matview must recompute to the restored snapshot, got $got")

    // vacuum keeps the re-referenced files while the restore is retained
    VersionedTable.vacuum(spark, path, keepLast = 2) // keeps v3, v4
    assert(rows(VersionedTable.read(spark, path)) == rows(d1) ++ rows(d4),
      "restore-referenced files must survive vacuum")
  }

  test("i24: schema evolution — a wider commit updates the declared schema, eras read under theirs, restore rolls it back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val path = java.nio.file.Files.createTempDirectory("vtable_evolve").toString

    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "val")
    val d2 = Seq((3L, "c", 7L), (4L, "d", 9L)).toDF("id", "val", "score")
    assert(VersionedTable.commit(spark, path, d1) == 1L)
    assert(VersionedTable.commit(spark, path, d2) == 2L) // adds `score`

    // declared schema follows the widening commit; old rows surface
    // typed NULLs for the new column (no mergeSchema footer pre-pass)
    assert(VersionedTable.declaredSchema(spark, path).fieldNames.toSeq ==
      Seq("id", "val", "score"))
    val ev = VersionedTable.readEvolved(spark, path)
    val got = ev.select("id", "val", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 7L), (4L, "d", 9L)))

    // time travel reads v1 under ITS declared (narrow) schema
    assert(VersionedTable.readEvolved(spark, path, Some(1L))
      .schema.fieldNames.toSeq == Seq("id", "val"))

    // a restore rolls the declared schema back with the data
    VersionedTable.restore(spark, path, 1L)
    assert(VersionedTable.declaredSchema(spark, path).fieldNames.toSeq ==
      Seq("id", "val"))
    assert(VersionedTable.readEvolved(spark, path).count() == 2L)

    // and a post-restore wider commit re-widens
    VersionedTable.commit(spark, path, d2)
    assert(VersionedTable.declaredSchema(spark, path).fieldNames.toSeq ==
      Seq("id", "val", "score"))
    assert(VersionedTable.readEvolved(spark, path).count() == 4L)

    // vacuum beyond the restore TARGET: v1/v2 manifests go (keepLast=2
    // retains v3 = the restore commit, v4), so the restore's schema
    // must resolve from the files its OWN manifest re-lists — chasing
    // the vacuumed target's manifest would FileNotFound here even
    // though the restore snapshot itself is fully readable
    VersionedTable.vacuum(spark, path, keepLast = 2)
    assert(VersionedTable.declaredSchema(spark, path, Some(3L)).fieldNames.toSeq ==
      Seq("id", "val"),
      "restore commit's declared schema must survive target-manifest vacuum")
    assert(VersionedTable.readEvolved(spark, path, Some(3L))
      .schema.fieldNames.toSeq == Seq("id", "val"))
    assert(VersionedTable.readEvolved(spark, path, Some(3L)).count() == 2L)
  }

  test("i26: vacuum dry run — the plan IS what vacuum executes, and it touches nothing") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_dryrun").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1 to 4).foreach { i =>
      VersionedTable.commit(spark, path,
        Seq((i.toLong, s"r$i")).toDF("id", "v"),
        overwrite = i == 3) // the overwrite orphans v1/v2's files
    }
    val plan = VersionedTable.vacuumPlan(spark, path, keepLast = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getBoolean(4)))
    // the plan is pure metadata: nothing changed on disk
    assert(VersionedTable.versions(spark, path) == Seq(1L, 2L, 3L, 4L))
    val plannedData = plan.filter(p => p._1 == "data" && p._5).map(_._2).toSet
    val plannedManifests = plan.filter(p => p._1 == "manifest" && p._5).map(_._2).toSet
    assert(plannedManifests == Set("_v000001.manifest", "_v000002.manifest"))
    assert(plannedData.nonEmpty, "the overwrite must orphan data files")
    assert(plan.filter(_._1 == "data").forall(_._3 > 0L), "bytes must be real")
    // execute: vacuum deletes EXACTLY the planned set
    val dataBefore = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).toSet
    val (dm, df) = VersionedTable.vacuum(spark, path, keepLast = 2)
    assert(dm == plannedManifests.size && df == plannedData.size,
      s"vacuum ($dm manifests, $df files) diverged from the plan " +
        s"(${plannedManifests.size}, ${plannedData.size})")
    val dataAfter = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).toSet
    assert(dataBefore -- dataAfter == plannedData,
      "vacuum deleted a different file set than the dry run planned")
    assert(VersionedTable.read(spark, path).count() == 2L) // v3 overwrite + v4
  }

  test("i25: timestamp time travel — ICT strictly monotone, boundary resolution, legacy mtime fallback") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_ts").toString
    // three commits back-to-back — wall-clock ties are exactly what
    // the monotone in-commit timestamp must disambiguate
    (1 to 3).foreach { i =>
      VersionedTable.commit(spark, path, Seq((i.toLong, s"r$i")).toDF("id", "v"))
    }
    val ts = (1L to 3L).map(v => VersionedTable.commitTs(spark, path, v))
    assert(ts == ts.sorted && ts.distinct == ts,
      s"in-commit timestamps must be strictly increasing, got $ts")

    // boundary semantics: AT a commit's instant sees it; just before
    // sees the predecessor; before the first commit is a loud error
    assert(VersionedTable.versionAsOf(spark, path, ts(0)) == 1L)
    assert(VersionedTable.versionAsOf(spark, path, ts(1)) == 2L)
    assert(VersionedTable.versionAsOf(spark, path, ts(2) + 3600000L) == 3L)
    assert(VersionedTable.readAsOf(spark, path, ts(1)).count() == 2L)
    intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(spark, path, ts(0) - 1)
    }

    // legacy fallback: a pre-i25 manifest has no #ts header — strip
    // v1's and the resolution degrades to the manifest file's mtime
    // (Delta's legacy rule) without breaking reads
    val m1 = java.nio.file.Paths.get(path, "_v000001.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#ts:")).mkString("\n")
    java.nio.file.Files.write(m1, stripped.getBytes("UTF-8"))
    // the out-of-band rewrite invalidates LocalFS's checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, "._v000001.manifest.crc"))
    val mtime = java.nio.file.Files.getLastModifiedTime(m1).toMillis
    assert(VersionedTable.commitTs(spark, path, 1L) == mtime)
    assert(VersionedTable.read(spark, path, Some(1L)).count() == 1L)
  }

  test("i25: legacy mtime CLAMP — an inflated pre-ICT mtime cannot reorder TIMESTAMP AS OF (r15 ADVICE)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_clamp").toString
    (1 to 3).foreach { i =>
      VersionedTable.commit(spark, path, Seq((i.toLong, s"r$i")).toDF("id", "v"))
    }
    val ict = (1L to 3L).map(v => VersionedTable.commitTs(spark, path, v))
    // make v2 LEGACY (strip its #ts header) and inflate its mtime an
    // hour past v3's in-commit timestamp — the file-copy/touch anomaly
    // at the legacy/ICT boundary
    val m2 = java.nio.file.Paths.get(path, "_v000002.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(m2), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#ts:")).mkString("\n")
    java.nio.file.Files.write(m2, stripped.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, "._v000002.manifest.crc"))
    val inflated = ict(2) + 3600000L
    java.nio.file.Files.setLastModifiedTime(m2,
      java.nio.file.attribute.FileTime.fromMillis(inflated))
    assert(VersionedTable.commitTs(spark, path, 2L) == inflated)

    // adjusted timestamps: non-decreasing, ICTs authoritative, the
    // anomalous legacy mtime pulled back under its successor
    val adj = VersionedTable.monotonicCommitTs(spark, path, Seq(1L, 2L, 3L))
    assert(adj == adj.sorted, s"adjusted ts must be monotone, got $adj")
    assert(adj(0) == ict(0) && adj(2) == ict(2), "ICTs must not move")
    assert(adj(1) == ict(2), "legacy mtime must clamp to its successor")

    // order-sound resolution: pre-clamp, t = v3's instant had v2
    // EXCLUDED (inflated > t) while v3 was returned — a version newer
    // than an excluded one, silently mixing semantics; post-clamp the
    // whole prefix is eligible and the t -> version mapping is monotone
    assert(VersionedTable.versionAsOf(spark, path, ict(2)) == 3L)
    assert(VersionedTable.versionAsOf(spark, path, ict(2) - 1) == 1L)
    assert(VersionedTable.versionAsOf(spark, path, inflated + 1) == 3L)
    val sweep = Seq(ict(0), ict(2) - 1, ict(2), inflated, inflated + 1)
      .map(t => VersionedTable.versionAsOf(spark, path, t))
    assert(sweep == sweep.sorted, s"t -> version must be monotone: $sweep")
    assert(VersionedTable.readAsOf(spark, path, ict(2)).count() == 3L)
  }

  test("i22: constraint-checked commit rejects before landing, zero bytes on disk") {
    import spark.implicits._
    import graft.sources.VersionedTable.{CheckC, NotNullC, UniqueC}
    val path = java.nio.file.Files.createTempDirectory("vtable_c").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cons = Seq(NotNullC("name"), UniqueC(Seq("id")),
      CheckC("id_positive", "id >= 0"))

    // a clean batch commits
    val ok = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    assert(VersionedTable.commitChecked(spark, path, ok, cons) == Right(1L))

    // a dirty batch: one null name, one dup id, one negative id
    val bad = Seq((1L, "x"), (1L, "y"), (-5L, null.asInstanceOf[String]))
      .toDF("id", "name")
    val res = VersionedTable.commitChecked(spark, path, bad, cons)
    assert(res.isLeft)
    val v = res.left.toOption.get
    assert(v("not_null(name)") == 1L, v.toString)
    assert(v("unique(id)") == 1L, v.toString)
    assert(v("check(id_positive)") == 1L, v.toString)

    // nothing landed: version unchanged, data dir byte-identical
    assert(VersionedTable.versions(spark, path) == Seq(1L))
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).toSet
    val v1Files = VersionedTable.read(spark, path).inputFiles
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(dataFiles.flatMap(d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(path, s"data/$d"))
        .map(_.getPath.getName)).forall(v1Files.contains),
      "rejected batch left files on disk")

    // the same dirty batch cleaned re-commits fine; NULL predicate rows
    // count as CHECK violations (Delta semantics)
    val cleaned = Seq((3L, "z")).toDF("id", "name")
    assert(VersionedTable.commitChecked(spark, path, cleaned, cons) == Right(2L))
    assert(rows(VersionedTable.read(spark, path)) ==
      Set((1L, "a"), (2L, "b"), (3L, "z")))
    val nullPred = Seq((4L, "w")).toDF("id", "name")
      .withColumn("id", org.apache.spark.sql.functions.expr("CAST(NULL AS BIGINT)"))
    val r2 = VersionedTable.commitChecked(spark, path, nullPred, Seq(CheckC("p", "id > 0")))
    assert(r2.left.toOption.get("check(p)") == 1L)

    // an EMPTY batch is trivially clean and must COMMIT, not crash:
    // sum() over zero rows is NULL, and the pre-coalesce validator
    // NPE'd on getLong (round-13 advice) — empty micro-batches are
    // routine upstream (an all-filtered trigger interval)
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    val r3 = VersionedTable.commitChecked(spark, path, empty, cons)
    assert(r3 == Right(3L), s"empty batch must commit cleanly: $r3")
    assert(rows(VersionedTable.read(spark, path)) ==
      Set((1L, "a"), (2L, "b"), (3L, "z")))
  }

  test("i27: ts checkpoint — identical resolution, O(tail) header reads, legacy mtimes pinned") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_tsckpt").toString
    (1 to 6).foreach { i =>
      VersionedTable.commit(spark, path, Seq((i.toLong, s"r$i")).toDF("id", "v"))
    }
    val ict = (1L to 6L).map(v => VersionedTable.commitTs(spark, path, v))
    // resolution sweep BEFORE any checkpoint (the O(versions) path)
    val probes = ict.flatMap(t => Seq(t - 1, t, t + 1)).distinct.sorted
      .filter(_ >= ict.head)
    val bare = probes.map(t => VersionedTable.versionAsOf(spark, path, t))

    // checkpoint at head 4 (then two more commits land = the tail)
    // — simulate by checkpointing now and committing after
    assert(VersionedTable.checkpointTimestamps(spark, path) == 6L)
    (7 to 8).foreach { i =>
      VersionedTable.commit(spark, path, Seq((i.toLong, s"r$i")).toDF("id", "v"))
    }

    // identical resolution with the index in place
    val withIx = probes.map(t => VersionedTable.versionAsOf(spark, path, t))
    assert(withIx == bare, "checkpointed resolution must be identical")

    // the O(tail) claim, asserted via the instrumented read counter:
    // one resolution opens headers ONLY for the two post-checkpoint
    // versions (plus zero for the six checkpointed ones)
    VersionedTable.tsHeaderReads.set(0L)
    VersionedTable.versionAsOf(spark, path, ict.last)
    assert(VersionedTable.tsHeaderReads.get() == 2L,
      s"expected 2 tail header reads, got ${VersionedTable.tsHeaderReads.get()}")

    // refresh covers the tail: a fresh checkpoint satisfies the whole
    // sweep with ZERO header reads, resolving identically
    assert(VersionedTable.checkpointTimestamps(spark, path) == 8L)
    VersionedTable.tsHeaderReads.set(0L)
    assert(probes.map(t => VersionedTable.versionAsOf(spark, path, t)) == bare)
    assert(VersionedTable.tsHeaderReads.get() == 0L,
      "a fresh checkpoint must satisfy resolution with zero header reads")

    // legacy-mtime PINNING: strip v2's #ts header and touch its file
    // an hour into the future — without the index this perturbs the
    // raw sequence (i25's clamp then repairs ordering, conservatively
    // clamping v2 up past its true instant); WITH the index v2's raw
    // value was FROZEN at checkpoint time, so resolution at v2's
    // original instant still lands on v2
    val m2 = java.nio.file.Paths.get(path, "_v000002.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(m2), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#ts:")).mkString("\n")
    java.nio.file.Files.write(m2, stripped.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, "._v000002.manifest.crc"))
    java.nio.file.Files.setLastModifiedTime(m2,
      java.nio.file.attribute.FileTime.fromMillis(ict(5) + 3600000L))
    assert(VersionedTable.versionAsOf(spark, path, ict(1)) == 2L,
      "a post-checkpoint touch must not move a checkpointed version's ts")
  }

  test("i28: zone maps — provably-empty files pruned, unknown-bounds files must-read, identical rows") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_zonemap").toString
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "v").repartition(2)
    // three stats commits with disjoint id ranges, then a PLAIN
    // commit (no stats) — the mixed-era case
    VersionedTable.commitWithStats(spark, path, batch(1, 100), Seq("id"))
    VersionedTable.commitWithStats(spark, path, batch(101, 200), Seq("id"))
    VersionedTable.commitWithStats(spark, path, batch(201, 300), Seq("id"))
    VersionedTable.commit(spark, path, batch(301, 400))

    import org.apache.spark.sql.functions.col
    val all = VersionedTable.read(spark, path)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    def fullFilter(lo: Long, hi: Long): Set[Long] =
      ids(all.filter(col("id") >= lo && col("id") <= hi))

    // mid-range probe: batch-2 files kept, batches 1/3 PRUNED, the
    // statless batch-4 files must-read
    val (kept, pruned) = VersionedTable.skipPlan(spark, path, "id", 120L, 180L)
    assert(pruned.size == 4, s"batches 1+3 (2 files each) must prune, got $pruned")
    assert(kept.size == 4, s"batch 2 + statless batch 4 must stay, got $kept")
    // equality on a sweep of ranges, including boundaries and misses
    Seq((120L, 180L), (1L, 100L), (100L, 101L), (200L, 201L), (1L, 400L),
      (350L, 420L), (99L, 99L)).foreach { case (lo, hi) =>
      assert(ids(VersionedTable.readSkipping(spark, path, "id", lo, hi)) ==
        fullFilter(lo, hi), s"skipping read diverged on [$lo,$hi]")
    }
    // a range covered by NO stats batch and outside the statless
    // range: every stats file prunes, the statless files still read
    val (k2, p2) = VersionedTable.skipPlan(spark, path, "id", 500L, 600L)
    assert(p2.size == 6 && k2.size == 2,
      "only the unknown-bounds files may survive an impossible range")
    assert(ids(VersionedTable.readSkipping(spark, path, "id", 500L, 600L)).isEmpty)
    // all-pruned (statless era removed): fresh table, one stats commit,
    // impossible range → zero rows, schema intact via the witness file
    val p3 = java.nio.file.Files.createTempDirectory("vtable_zonemap2").toString
    VersionedTable.commitWithStats(spark, p3, batch(1, 50), Seq("id"))
    val empty = VersionedTable.readSkipping(spark, p3, "id", 999L, 1000L)
    assert(empty.count() == 0L &&
      empty.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("i28 x i16: zone maps only bite on a range-clustered layout — hash files span everything, range files prune (n-1)/n") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val data = (1L to 800L).map(i => (i, s"r$i")).toDF("id", "v")
    val pHash = java.nio.file.Files.createTempDirectory("vtable_zm_hash").toString
    val pRange = java.nio.file.Files.createTempDirectory("vtable_zm_range").toString
    // same rows, same stats machinery — only the LAYOUT differs
    VersionedTable.commitWithStats(spark, pHash, data.repartition(8), Seq("id"))
    VersionedTable.commitWithStats(spark, pRange,
      data.repartitionByRange(8, col("id")), Seq("id"))
    val probe = (100L, 110L)
    val (kH, pH) = VersionedTable.skipPlan(spark, pHash, "id", probe._1, probe._2)
    val (kR, pR) = VersionedTable.skipPlan(spark, pRange, "id", probe._1, probe._2)
    // hash layout: every file spans ~[1,800] — the zone map proves
    // nothing and all files must read (the stats are not wrong, the
    // LAYOUT is: this is why i16 range-orders the write)
    assert(pH.isEmpty && kH.size == 8,
      s"hash layout should prune nothing, pruned $pH")
    // range layout: an 11-id probe lives in 1 file (2 at a boundary)
    assert(kR.size <= 2 && pR.size >= 6,
      s"range layout should prune >= 6 of 8 files, kept $kR")
    // identical rows either way
    def ids(p: String) = VersionedTable
      .readSkipping(spark, p, "id", probe._1, probe._2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(pHash) == ids(pRange) && ids(pRange) == (100L to 110L).toSet)
  }

  test("i29: copy-on-write delete — only candidate files rewritten, untouched byte-stable, time travel intact, consumers restart") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_cow_del").toString
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "v").repartition(2)
    VersionedTable.commitWithStats(spark, path, batch(1, 100), Seq("id"))
    VersionedTable.commitWithStats(spark, path, batch(101, 200), Seq("id"))
    VersionedTable.commitWithStats(spark, path, batch(201, 300), Seq("id"))
    val before = VersionedTable.readManifest(spark, path, 3L)

    val (v, rewritten, untouched, nDel) =
      VersionedTable.deleteRange(spark, path, "id", 120L, 180L)
    assert(v == 4L && rewritten == 2 && untouched == 4 && nDel == 61L,
      s"only batch-2's 2 files may rewrite: v=$v rw=$rewritten ut=$untouched n=$nDel")
    // untouched files carry BY NAME — byte-stable, never re-landed
    val after = VersionedTable.readManifest(spark, path, 4L)
    assert(before.toSet.intersect(after.toSet).size == 4)
    // rows gone at v4; v3 still serves them (time travel)
    def idsAt(ver: Long) = VersionedTable.read(spark, path, Some(ver))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(idsAt(4L) == ((1L to 119L) ++ (181L to 300L)).toSet)
    assert(idsAt(3L) == (1L to 300L).toSet)
    // a probe inside the hole: zone maps keep the survivor files
    // (bounds still span the hole) but the read is exactly empty
    assert(VersionedTable.readSkipping(spark, path, "id", 150L, 160L).count() == 0L)
    // change feed: the delete is an OVERWRITE step — the delta is the
    // full surviving snapshot (a retraction never sneaks through as
    // an append of survivor files)
    assert(VersionedTable.isDelete(spark, path, 4L))
    val delta = VersionedTable.readChanges(spark, path, 3L, 4L)
    assert(delta.count() == 239L, s"delete delta must be the full snapshot")
    // no-match delete beyond every zone: pure no-op, no new version
    val (v2, rw2, _, n2) = VersionedTable.deleteRange(spark, path, "id", 900L, 999L)
    assert(v2 == 4L && rw2 == 0 && n2 == 0L)

    // matview across the delete recomputes instead of double-counting
    val ckpt = java.nio.file.Files.createTempDirectory("vtable_cow_ck").toString
    val mat = java.nio.file.Files.createTempDirectory("vtable_cow_mat").toString
    VersionedTable.refreshMatView(spark, path, ckpt, mat, "id", "id")
    val total = VersionedTable.read(spark, mat)
      .agg(org.apache.spark.sql.functions.sum("total")).collect()(0).getLong(0)
    assert(total == ((1L to 119L) ++ (181L to 300L)).sum,
      s"matview must reflect the post-delete table exactly, got $total")

    // vacuum prunes the zone-map sidecar along with the files it
    // collects: after keeping only the post-delete snapshot, exactly
    // the 6 live files carry bounds and skipping still resolves
    VersionedTable.vacuum(spark, path, keepLast = 1)
    val stats = VersionedTable.fstatsMap(spark, path)
    assert(stats.keySet == after.toSet,
      s"sidecar must hold exactly the live files after vacuum")
    assert(VersionedTable.readSkipping(spark, path, "id", 50L, 60L)
      .count() == 11L)
  }

  test("i30: idempotent txn commits — replays are no-ops, writers are independent, plain commits interleave") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_txn").toString
    def b(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"r$i")).toDF("id", "v")
    def n() = VersionedTable.read(spark, path).count()

    assert(VersionedTable.commitTxn(spark, path, b(1, 10), "ingest", 0L) == Some(1L))
    // the foreachBatch replay case: same writer, same txn → NO-OP
    assert(VersionedTable.commitTxn(spark, path, b(1, 10), "ingest", 0L).isEmpty)
    assert(n() == 10L, "a replayed batch must not duplicate rows")
    assert(VersionedTable.commitTxn(spark, path, b(11, 20), "ingest", 1L) == Some(2L))
    // a STALE replay after newer transactions: still a no-op
    assert(VersionedTable.commitTxn(spark, path, b(1, 10), "ingest", 0L).isEmpty)
    // writer namespaces are independent
    assert(VersionedTable.commitTxn(spark, path, b(21, 30), "compactor", 0L) == Some(3L))
    assert(n() == 30L)
    assert(VersionedTable.lastTxnVersion(spark, path, "ingest") == Some(1L))
    assert(VersionedTable.lastTxnVersion(spark, path, "compactor") == Some(0L))
    assert(VersionedTable.lastTxnVersion(spark, path, "nobody").isEmpty)
    // plain commits interleave without disturbing txn resolution
    VersionedTable.commit(spark, path, b(31, 40))
    assert(VersionedTable.commitTxn(spark, path, b(41, 50), "ingest", 2L) == Some(5L))
    assert(VersionedTable.commitTxn(spark, path, b(41, 50), "ingest", 2L).isEmpty)
    assert(n() == 50L)
    // time travel unaffected: the replayed-no-op left no version
    assert(VersionedTable.versions(spark, path) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("i25: every main-line commit carries one #ts: — compaction, fast-forward and shallow clone too") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("vtable_ts_all").toString
    def b(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"r$i")).toDF("id", "v")
    def tsLines(root: String, v: Long): Int =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, f"_v$v%06d.manifest")), "UTF-8")
        .linesIterator.count(_.startsWith("#ts:"))

    VersionedTable.commit(spark, path, b(1, 10))
    VersionedTable.commit(spark, path, b(11, 20))
    assert(VersionedTable.compact(spark, path) == 3L)
    VersionedTable.createBranch(spark, path, "dev")
    VersionedTable.commitToBranch(spark, path, "dev", b(21, 30))
    assert(VersionedTable.fastForward(spark, path, "dev") == Right(4L))

    val vs = VersionedTable.versions(spark, path)
    assert(vs == Seq(1L, 2L, 3L, 4L))
    vs.foreach(v => assert(tsLines(path, v) == 1, s"v$v must carry exactly one #ts: line"))
    val ts = vs.map(v => VersionedTable.commitTs(spark, path, v))
    assert(ts.zip(ts.tail).forall { case (a, c) => a < c }, s"commit ts not increasing: $ts")
    assert(VersionedTable.read(spark, path).count() == 30L)

    val clone = java.nio.file.Files.createTempDirectory("vtable_ts_clone").toString
    assert(VersionedTable.shallowClone(spark, path, clone) == 1L)
    assert(tsLines(clone, 1L) == 1, "a shallow clone's v1 must carry #ts:")
  }
}
