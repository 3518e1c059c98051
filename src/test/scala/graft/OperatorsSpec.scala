package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Smoke + golden + plan-shape checks on sf0.001. The value-level
  * correctness gate is the driver's DuckDB oracle (dev/check.py); these
  * specs guard plan quality (broadcasts, pushdown) and invariants.
  */
class OperatorsSpec extends SparkTestBase {

  // pair-producing queries may legitimately be empty at sf0.001
  private val mayBeEmpty = Set("q_dedup_embedding", "q_dedup_minhash",
    "q_ngram_jaccard", "q_cancel_match", "q_decontaminate_fuzzy")

  test("every declared query runs and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("the flagship entry() dataflow returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q5_join broadcasts the dimension tables") {
    val plan = Analytics.q5Join(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins for dims")
  }

  test("q1_agg pushes the shipdate filter to the parquet scan") {
    val plan = Analytics.q1Agg(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
  }

  test("scans prune columns (q1_agg reads only needed lineitem cols)") {
    val plan = Analytics.q1Agg(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("l_orderkey"), "unexpected column read — pruning broken")
  }

  test("tile assignment stays in range at z=8") {
    val df = GeoOps.qTileAssign(spark, sfDir)
      .agg(min("xt"), max("xt"), min("yt"), max("yt")).collect()(0)
    assert(df.getInt(0) >= 0 && df.getInt(1) <= 255)
    assert(df.getInt(2) >= 0 && df.getInt(3) <= 255)
  }

  test("overview pyramid shrinks monotonically") {
    val rows = GeoOps.qOverviewPyramid(spark, sfDir)
      .orderBy(col("level").desc).collect()
    val tiles = rows.map(_.getAs[Long]("tiles"))
    assert(tiles.sliding(2).forall(p => p(1) <= p(0)), tiles.mkString(","))
    val feats = rows.map(_.getAs[Long]("features")).distinct
    assert(feats.size == 1, "features must be conserved across levels")
  }

  test("progress plans always end at 100 (ref utils.compute_progress)") {
    val last = IngestOps.qProgressPlan(spark, sfDir)
      .withColumn("is_last", col("i") === col("nchunks") - 1)
      .filter(col("is_last")).select("progress").distinct().collect()
    assert(last.map(_.getInt(0)).toSeq == Seq(100), last.mkString(","))
  }

  test("simhash fits in 16 bits") {
    val r = Dedup.qDedupSimhash(spark, sfDir).agg(min("simhash"), max("simhash")).collect()(0)
    assert(r.getInt(0) >= 0 && r.getInt(1) <= 65535)
  }

  test("ann brute top-1 is the query vector itself") {
    val top = Ann.qAnnBrute(spark, sfDir).collect()
    assert(top.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.head.getAs[Double]("cos_sim") - 1.0) < 1e-6)
  }

  test("ann lsh results are a subset of the full corpus ranked by cosine") {
    val lsh = Ann.qAnnLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    assert(lsh.map(_.getAs[Double]("cos_sim")).sliding(2).forall(p => p.length < 2 || p(1) <= p(0)))
  }

  test("minhash candidates verify against exact jaccard semantics") {
    Dedup.qDedupMinhash(spark, sfDir).collect().foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.2 && j <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("minhash LSH recall: every clearly-similar pair survives the banding") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns.shSpark
    // exhaustive ground truth (only feasible at sf0.001): all pairs
    // with Jaccard well above the 0.2 verify threshold — band
    // sensitivity dips near the threshold, but pairs at ≥ 0.4 must
    // never be lost by the 4-band/2-row scheme
    val sh = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(shSpark).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sh.as("x").crossJoin(sh.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("size(filter(x.sh, s -> array_contains(y.sh, s)))").as("inter"),
        size(col("x.sh")).as("na"), size(col("y.sh")).as("nb"))
      .withColumn("j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("j") >= 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.qDedupMinhash(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(brute.nonEmpty, "ground truth must exercise the check")
    val missed = brute -- found
    assert(missed.isEmpty, s"LSH lost clearly-similar pairs: $missed")
  }

  test("d28 tuned exec: the planner derives d2's (2,4) and the parameterized banding reproduces d2 pair-for-pair") {
    val tuned = Dedup.qDedupTuned(spark, sfDir).collect()
    assert(tuned.nonEmpty)
    // the verify-weighted argmin must land on the shipped config
    tuned.foreach { r =>
      assert(r.getAs[Int]("r") == 2 && r.getAs[Int]("b") == 4,
        s"planner chose (${r.getAs[Int]("r")}, ${r.getAs[Int]("b")}), expected d2's (2, 4)")
    }
    // at (2,4) the generic banding path IS d2's hardwired one
    // (md5(h_{2b} || h_{2b+1}) per band) — the verified pair sets and
    // jaccards must agree exactly
    val got = tuned.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Double]("jaccard"))).toSet
    val want = Dedup.qDedupMinhash(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    assert(got == want,
      s"tuned (2,4) diverged from d2: extra=${got -- want} missing=${want -- got}")
  }

  test("salted as-of equals the keyed-window as-of; heavy window groups by (k, bucket)") {
    val plain = Analytics.qAsofJoin(spark, sfDir).collect().toSeq
    val salted = Analytics.qAsofSalted(spark, sfDir).collect().toSeq
    assert(plain.nonEmpty)
    assert(salted == plain, "time-bucket salting changed the as-of result")
    // the skew defense: the big carry-forward window must partition on
    // (k, bkt) so a hot key's timeline splits across tasks
    val plan = Analytics.qAsofSalted(spark, sfDir).queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(k#\\d+L?, bkt#\\d+L?, t#".r.findFirstIn(plan).isDefined,
      s"expected a window keyed on (k, bkt):\n$plan")
  }

  test("chunking reconstructs the token stream with exact stride coverage") {
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val agg = TextOps.qChunkDocs(spark, sfDir)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        max(col("chunk_id")).as("max_id"),
        max(col("start_tok") + col("n_tok_chunk") - 1).as("covered"),
        max("n_tok_chunk").as("max_len"))
      .join(d, "doc_id").collect()
    assert(agg.nonEmpty)
    agg.foreach { r =>
      assert(r.getAs[Long]("n_chunks") == r.getAs[Int]("max_id") + 1,
        s"chunk ids not contiguous: $r")
      // stride < window ⇒ windows overlap ⇒ the last chunk's end IS
      // total coverage, and it must land exactly on the doc's n_tok
      assert(r.getAs[Int]("covered") == r.getAs[Int]("n_tok"), s"coverage gap: $r")
      assert(r.getAs[Int]("max_len") <= 32, s"window overflow: $r")
    }
  }

  test("fuzzy decontamination: sides and flag are consistent") {
    TextOps.qDecontaminateFuzzy(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("bench_id") % 50 == 0, "bench side must be the benchmark set")
      assert(r.getAs[Long]("doc_id") % 50 != 0, "corpus side must exclude the benchmark")
      assert(r.getAs[Boolean]("contaminated") == (r.getAs[Double]("jaccard") >= 0.1))
    }
    // scale shape: the benchmark band index must broadcast — the
    // corpus side stays map-only up to the candidate distinct
    val plan = TextOps.qDecontaminateFuzzy(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench index not broadcast:\n$plan")
  }

  test("embedding LSH recall: planted near-dup pairs survive the banding") {
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 40 planted pairs at cosine ≈ 0.99 — the regime embedding dedup
    // actually targets; each pair must collide in at least one of the
    // 8 bands (per-pair miss probability ≈ 2e-4, fixed seed)
    val rows = (0 until 40).flatMap { k =>
      val base = unit(Array.fill(64)(rnd.nextGaussian().toFloat))
      val near = unit(base.map(a => a + rnd.nextGaussian().toFloat * 0.02f))
      Seq((k.toLong * 2, base), (k.toLong * 2 + 1, near))
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val cand = Dedup.embCandidates(df).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val missed = (0 until 40).map(k => (k.toLong * 2, k.toLong * 2 + 1)).toSet -- cand
    assert(missed.isEmpty, s"banding lost planted near-dup pairs: $missed")
  }

  test("heavy hitters: exact over a vocabulary far above the sketch cap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 50,000 distinct rare tokens (vocab 100x the 512-counter cap) +
    // 10 planted heavy tokens at ~2% each: the regime the sketch
    // exists for — groupBy would shuffle 50k+ distinct keys, the
    // sketch carries 512 per partition and must still find exactly
    // the 10 planted tokens with exact counts
    val n = 50000
    val heavy = (0 until 10).flatMap(h => Seq.fill(n / 50)(s"hot_$h"))
    val rare = (0 until n).map(i => s"rare_$i")
    val docs = (heavy ++ rare).grouped(100).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val total = (heavy.size + rare.size).toLong
    val thr = (total + 199) / 200
    // same dataflow as f17, inlined over the synthetic docs
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      .repartition(8) // force multi-partition partials + a real merge
    val sketch = toks.agg(expr("graft_mg_topk(token, 512)").as("mg"))
    val cand = sketch.select(explode(map_keys(col("mg"))).as("token"))
    val got = toks.join(broadcast(cand), "token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = (0 until 10).map(h => s"hot_$h" -> (n / 50).toLong).toMap
    assert(got == want,
      s"sketch+exact pass diverged from truth: got ${got.size} tokens")
    // and the candidate set really is bounded by the cap
    assert(cand.count() <= 512)
  }

  test("embedding LSH dense-region guard: hot buckets widen keys, dups survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // ONE dense sub-threshold cluster of 2,000 (per-dim spread 0.15 vs
    // a unit center ⇒ pairwise cosine ≈ 0.41 < the 0.45 verify
    // threshold — none of these pairs is a true match, every candidate
    // among them is wasted verify work) + 20 planted near-dup pairs at
    // cosine ≈ 0.99 inside the same region (worst case: the dups live
    // WHERE the data is dense)
    val center = unit(Array.fill(64)(rnd.nextGaussian().toFloat))
    val members = (0 until 2000).map { i =>
      i.toLong -> unit(center.map(a => a + rnd.nextGaussian().toFloat * 0.15f))
    }
    val dups = (0 until 20).map { k =>
      (2000L + k) -> unit(members(k * 50)._2.map(a => a + rnd.nextGaussian().toFloat * 0.02f))
    }
    val df = (members ++ dups).toDF("vec_id", "embedding")
    // the actual (guarded) candidate generator
    val cand = Dedup.embCandidates(df)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // every planted dup survives the widened keys (cosine ≈ 1 agrees
    // on the extra band with probability ≈ 1)
    val missed = (0 until 20).map(k => (k * 50L, 2000L + k)).toSet -- cand
    assert(missed.isEmpty, s"refinement lost planted near-dup pairs: $missed")
    // and the guard genuinely prunes: rebuild the UNREFINED candidate
    // set inline (plain 8-bit band join, no cap) and require a big cut
    val blocks = df.select(col("vec_id"),
      posexplode(expr("graft_hyperband(embedding)")).as(Seq("idx", "bval")))
    val unrefined = blocks.as("x").join(blocks.as("y"),
        col("x.idx") === col("y.idx") && col("x.bval") === col("y.bval") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
    assert(unrefined > 0 && cand.size.toLong * 2 <= unrefined,
      s"dense-region guard not pruning: ${cand.size} refined vs $unrefined unrefined")
  }

  test("embedding dedup recall on the clustered GenVecs corpus (hot-bucket regime)") {
    // the corpus that caught the original O(bucket²) regression: 10
    // tight topic clusters (amp 0.35 ⇒ within-cluster cosine ≈ 0.9),
    // clusters of ~200 ≫ the 64-row bucket cap, so candidate
    // generation runs THROUGH the key-widening hot path — and because
    // the DuckDB oracle mirrors the hot/cold logic, only this planted
    // recall assertion gates the "cosine ≈ 1 agrees on the extra band
    // w.p. ≈ 1" claim
    val vecs = graft.dev.GenVecs.synthesize(spark, 2000, 0.35)
      .select("vec_id", "embedding").localCheckpoint(true)
    val cand = operators.Dedup.embCandidates(vecs).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // GenVecs plants vec_id % 20 == 7 (id ≥ 30) as a cosine ≈ 1 copy
    // of vec_id - 30 — every planted pair must survive the banding
    val planted = (30L until 2000L).filter(id => id % 20 == 7)
      .map(id => (id - 30, id)).toSet
    val missed = planted -- cand
    assert(planted.size == 98 && missed.isEmpty,
      s"clustered-corpus banding lost ${missed.size}/${planted.size} planted pairs: ${missed.take(5)}")
  }

  test("semantic dedup drops exactly one member of each planted near-identical pair") {
    // high-amp GenVecs: cluster mates sit well below the 0.4 cosine
    // threshold, so the ONLY redundancy is the planted cosine ≈ 1
    // copies (vec_id % 20 == 7, id ≥ 30, copying id - 30) — the
    // surgical case for the keep rule: per pair, ONE member must go
    // and one must survive
    // tau = 0.95 isolates the planted copies (cluster mates sit far
    // below), so the ≥ tau graph is exactly the 18 disjoint planted
    // edges and the pair-local keep rule must resolve each to ONE
    // dropped member — no chains, no extras
    val vecs = graft.dev.GenVecs.synthesize(spark, 400, 2.0)
      .localCheckpoint(true)
    val victims = operators.Dedup.semanticVictims(vecs, tau = 0.95).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val planted = (30L until 400L).filter(_ % 20 == 7).map(id => (id - 30, id))
    assert(planted.size == 18)
    planted.foreach { case (a, b) =>
      assert(victims.contains(a) || victims.contains(b),
        s"planted pair ($a, $b) not deduplicated")
      assert(!(victims.contains(a) && victims.contains(b)),
        s"both members of planted pair ($a, $b) dropped — no representative kept")
    }
    assert(victims.size == planted.size,
      s"expected exactly one victim per planted pair, got ${victims.size}: " +
        s"extras ${(victims -- planted.flatMap(p => Seq(p._1, p._2))).take(5)}")
  }

  test("semantic dedup under trained k: pair budget collapses, planted recall holds") {
    // the k ∝ n contract measured in §5: growing k must shrink the
    // within-cluster pair budget Σ|c|² (the quadratic term) while the
    // planted cosine ≈ 1 copies keep co-assigning and getting caught
    val vecs = graft.dev.GenVecs.synthesize(spark, 4000, 0.35)
      .localCheckpoint(true)
    def pairBudget(cent: org.apache.spark.sql.DataFrame): Long =
      operators.Dedup.semanticAssign(vecs, cent)
        .groupBy("cl").count().collect()
        .map(r => { val n = r.getAs[Long]("count"); n * (n - 1) / 2 }).sum
    val budget10 = pairBudget(operators.Dedup.labelCentroids(vecs))
    val (cents, _, _) = operators.Ann.trainCentroids(
      vecs.select("vec_id", "embedding"), k = 40, maxIters = 8)
    val cent40 = operators.Ann.seedsDF(spark, cents)
      .select(col("seed_id").as("label"), col("i"),
        (col("cv") * 1000000).cast("long").as("cm"))
    val budget40 = pairBudget(cent40)
    assert(budget40 * 2 < budget10,
      s"k=40 pair budget $budget40 should be well under k=10's $budget10")
    // recall: near-identical vectors co-assign (cluster-boundary ties
    // are the only loss mode), so ≥ 90% of planted pairs must still
    // surface a victim at the strict threshold
    val victims = operators.Dedup.semanticVictimsFrom(vecs, cent40, tau = 0.95)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val planted = (30L until 4000L).filter(_ % 20 == 7).map(id => (id - 30, id))
    val caught = planted.count { case (a, b) =>
      victims.contains(a) || victims.contains(b) }
    assert(caught >= (planted.size * 9) / 10,
      s"trained-k recall $caught/${planted.size} below 90%")
  }

  test("semantic dedup on tight clusters: planted pairs resolve to one victim each") {
    // tight 10-cluster corpus (amp 0.35, ~400-member clusters): the
    // regime where an LSH hot path was measured counterproductive
    // (members share hyperplane signs) — plain within-cluster pairing
    // must catch every planted cosine ≈ 1 copy exactly once
    val vecs = graft.dev.GenVecs.synthesize(spark, 4000, 0.35)
      .localCheckpoint(true)
    val victims = operators.Dedup.semanticVictims(vecs, tau = 0.95).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val planted = (30L until 4000L).filter(_ % 20 == 7).map(id => (id - 30, id))
    planted.foreach { case (a, b) =>
      assert(victims.contains(a) || victims.contains(b),
        s"planted pair ($a, $b) not deduplicated")
      assert(!(victims.contains(a) && victims.contains(b)),
        s"both members of ($a, $b) dropped")
    }
  }

  test("stupid-backoff LM: unseen bigrams back off with the 0.4 multiplier (hand-checked)") {
    import spark.implicits._
    // train doc 1: "a b a b" → c(a,b)=2, c(b,a)=1; uni a=2, b=2, N=4
    // probe doc 0: "a b c a" → (a,b) seen: s=2/2; (b,c) w2 unseen:
    // s=0.4/(N+1); (c,a) w1 unseen: s=0.4·c(a)/N = 0.2
    val docs = Seq((0L, "a b c a"), (1L, "a b a b")).toDF("doc_id", "text")
    val rows = operators.TextOps.lmBackoffScores(docs).collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("doc_id") == 0L)
    assert(rows(0).getAs[Long]("n_bi") == 3L, "expected 3 probe bigrams")
    assert(rows(0).getAs[Long]("n_backoff") == 2L, "two bigrams must back off")
    def q(lp: Double): Long =
      BigDecimal(lp * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = BigDecimal(
        -(q(math.log(1.0)) + q(math.log(0.4 / 5.0)) + q(math.log(0.2))).toDouble / 3e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(0).getAs[Double]("score") == expected,
      s"score ${rows(0).getAs[Double]("score")} != hand-computed $expected")
  }

  test("embedding LSH prunes: candidate pairs well below exhaustive") {
    val e = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    val cand = Dedup.embCandidates(e).count()
    assert(cand < n * (n - 1) / 2 / 5,
      s"candidate join not pruning: $cand pairs of ${n * (n - 1) / 2} exhaustive")
  }

  test("media pipeline: PNG round-trip is golden-pixel exact") {
    import graft.multimodal.ImageCodec
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    val payload = "hello world".getBytes("UTF-8") // 11 bytes → 19×13 image
    val png = ImageCodec.encodePng(docId = 5L, payload)
    // a real PNG came out of the JDK encoder...
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val img = ImageIO.read(new ByteArrayInputStream(png))
    assert(img.getWidth == 19 && img.getHeight == 13)
    // ...and decodes to EXACTLY the pixels synthesized from the payload
    // (PNG is lossless): pixel (x,y) packs payload bytes 3i,3i+1,3i+2.
    def b(j: Int): Int = payload(j % payload.length) & 0xff
    for ((x, y) <- Seq((0, 0), (5, 3), (18, 12))) {
      val i = (y * 19 + x) * 3
      val expected = (b(i) << 16) | (b(i + 1) << 8) | b(i + 2)
      assert((img.getRGB(x, y) & 0xffffff) == expected, s"pixel ($x,$y)")
    }
    // feature extraction over decoded pixels is deterministic
    val (w1, h1, f1) = ImageCodec.decode(png)
    val (_, _, f2) = ImageCodec.decode(png)
    assert(w1 == 19 && h1 == 13 && f1.toSeq == f2.toSeq)
    assert(f1.forall(v => v >= 0.0f && v <= 1.0f)) // band mean luminance is normalized
  }

  test("phash dedup: golden hash, near-dup sensitivity, exact-dup recall") {
    import graft.multimodal.{ImageCodec, Media}
    import org.apache.spark.sql.functions._
    // deterministic: same payload → identical chunks across calls
    val payload = "the quick brown fox jumps over the lazy dog!".getBytes("UTF-8")
    val h1 = ImageCodec.dhash(ImageCodec.encodePng(7L, payload))
    val h2 = ImageCodec.dhash(ImageCodec.encodePng(7L, payload))
    assert(h1.toSeq == h2.toSeq)
    assert(h1.forall(c => c >= 0 && c <= 0xffff), "chunks must be sign-safe 16-bit")
    // near-dup sensitivity: a one-byte luminance nudge flips few bits
    val tweaked = payload.clone(); tweaked(20) = (tweaked(20) + 1).toByte
    val ht = ImageCodec.dhash(ImageCodec.encodePng(7L, tweaked))
    val near = (0 until 4).map(i => Integer.bitCount(h1(i) ^ ht(i))).sum
    assert(near <= 3, s"one-byte tweak moved $near bits — dHash not perceptual")
    // a different payload is far
    val other = ImageCodec.dhash(ImageCodec.encodePng(7L,
      "completely different pixels here, yes truly different".getBytes("UTF-8")))
    val far = (0 until 4).map(i => Integer.bitCount(h1(i) ^ other(i))).sum
    assert(far > 3, s"unrelated payloads collided at hamming $far")
    // end-to-end: every planted byte-exact re-upload (doc_id % 5 == 0)
    // MUST be found at hamming 0 — identical payload ⇒ identical PNG
    // ⇒ all 4 chunks agree (pigeonhole guarantee, not luck)
    val pairs = Media.qPhashDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val ids = Tables(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val got = pairs.map(p => (p._1, p._2)).toMap
    ids.filter(_ % 5 == 0).foreach { id =>
      val v = id + Media.PhashVariantOffset
      assert(got.get(id).contains(v) || pairs.exists(p => p._1 == id && p._2 == v),
        s"missing planted exact copy ($id, $v)")
      pairs.filter(p => p._1 == id && p._2 == v)
        .foreach(p => assert(p._3 == 0, s"exact copy at hamming ${p._3}"))
    }
    // the nudged re-uploads (doc_id % 5 == 1) are the perceptual case:
    // most one-byte pixel edits stay within hamming 3
    val planted = ids.count(_ % 5 == 1)
    val foundNudged = pairs.count(p =>
      p._1 % 5 == 1 && p._2 == p._1 + Media.PhashVariantOffset)
    assert(foundNudged * 2 > planted,
      s"only $foundNudged of $planted nudged re-uploads found — dHash not perceptual")
  }

  test("media pipeline: real decode runs distributed and schema is stable") {
    import graft.multimodal.Media
    val df = Media.qMediaPipeline(spark, sfDir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("doc_id", "mime", "nbytes", "width", "height") ++ (0 until 8).map(i => s"f$i"))
    val row = df.limit(1).collect()(0)
    assert(row.getAs[String]("mime") == "image/png")
    assert(row.getAs[Int]("width") >= 8 && row.getAs[Int]("height") >= 8)
    assert((0 until 8).forall(i => !row.isNullAt(row.fieldIndex(s"f$i"))))
  }

  test("filtered IVF ANN: admissible-only, one probed cell, equals cell-restricted brute") {
    import org.apache.spark.sql.functions._
    val ivf = Ann.qAnnFilteredIvf(spark, sfDir).collect()
    assert(ivf.nonEmpty)
    // geometry prune: results come from exactly ONE (probed) cell
    val cells = ivf.map(_.getAs[Int]("label")).distinct
    assert(cells.length == 1, s"results crossed cells: ${cells.toSeq}")
    // metadata prune: every result is admissible under the filter
    val en = Tables(spark, sfDir, "documents").filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    ivf.foreach(r => assert(en(r.getAs[Long]("vec_id")),
      s"inadmissible vec ${r.getAs[Long]("vec_id")} in filtered result"))
    // exactness within the pruned set: identical to brute-force cosine
    // over (probed cell ∩ admissible) — the IVF approximation is ONLY
    // the cell choice, never the ranking
    val q = Tables(spark, sfDir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val truth = Tables(spark, sfDir, "embeddings")
      .filter(col("label") === cells.head)
      .filter(col("vec_id").isInCollection(en))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(10).collect()
    assert(ivf.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq ==
      truth.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq)
  }

  test("filtered IVF ANN recall: planted clustered corpus recalls the filtered truth") {
    // the synthetic testdata's labels are arbitrary (no geometric
    // clustering), so single-cell recall there is meaningless; with a
    // GENUINELY clustered corpus — the data IVF is built for — the
    // probe must recall nearly all of the filtered brute-force top-10
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(4)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
    // 4 clusters × 50 members at cosine ≈ 0.97 to their center;
    // vec_id 0 lands in cluster 0
    val rows = (0 until 200).map { i =>
      val c = i % 4
      val v = unit(centers(c).map(a => a + rnd.nextGaussian().toFloat * 0.12f))
      (i.toLong, c, v)
    }
    val e = rows.toDF("vec_id", "label", "embedding")
    val admissible = e.filter(col("vec_id") % 2 === 0).select("vec_id")
    val ivf = Ann.filteredIvfTopK(e, admissible, k = 10).collect()
      .map(_.getAs[Long]("vec_id"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val truth = e.join(admissible, "vec_id").crossJoin(broadcast(q))
      .select(col("vec_id"), expr(Ann.cosineSpark("embedding", "qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = ivf.count(truth) / truth.size.toDouble
    assert(recall >= 0.8, s"filtered-IVF recall $recall on clustered corpus")
  }

  test("IVFPQ: results come from the probed cell, ADC agrees with cell-restricted PQ") {
    import org.apache.spark.sql.functions._
    val got = Ann.qAnnIvfPq(spark, sfDir).collect()
    assert(got.nonEmpty && got.length <= 10)
    // every result sits in ONE cell — the probe really pruned the scan
    val labelOf = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cells = got.map(r => labelOf(r.getAs[Long]("vec_id"))).distinct
    assert(cells.length == 1, s"IVFPQ results crossed cells: ${cells.toSeq}")
    // the compressed-domain ordering is EXACTLY e6's ADC restricted to
    // that cell: same codes, same LUT, same integer arithmetic
    val pqAll = Ann.qAnnPq(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("adc")).toMap
    got.filter(r => pqAll.contains(r.getAs[Long]("vec_id"))).foreach { r =>
      assert(r.getAs[Double]("adc") == pqAll(r.getAs[Long]("vec_id")),
        s"ADC diverged from e6 for vec ${r.getAs[Long]("vec_id")}")
    }
    // scan shape: probe/LUT/anchors broadcast, nothing cartesian
    val p = Ann.qAnnIvfPq(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"probed cell not broadcast-joined:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in IVFPQ plan:\n$p")
  }

  test("batched media decode: per-row g2 parity and exact g5 batch plan") {
    import graft.multimodal.Media
    val batched = Media.qMediaBatched(spark, sfDir).collect()
    assert(batched.nonEmpty)
    // decode parity: batching changes the UNIT of work, never the values
    val perRow = Media.qMediaPipeline(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    batched.foreach { r =>
      val g2 = perRow(r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("width") == g2.getAs[Int]("width"))
      assert(r.getAs[Int]("height") == g2.getAs[Int]("height"))
      (0 until 8).foreach { i =>
        assert(r.getAs[Double](s"f$i") == g2.getAs[Double](s"f$i"),
          s"feature f$i diverged for doc ${r.getAs[Long]("doc_id")}")
      }
    }
    // plan parity: batch membership must be EXACTLY g5's image batches
    val plan = Media.qDecodeBatches(spark, sfDir).collect()
      .filter(_.getAs[String]("mime") == "image/fake-png")
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("n_items"), r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))))
      .toMap
    val got = batched.groupBy(_.getAs[Long]("batch_id")).map { case (b, rs) =>
      b -> ((rs.length.toLong, rs.map(_.getAs[Long]("doc_id")).min,
        rs.map(_.getAs[Long]("doc_id")).max))
    }
    assert(got == plan, "batched decode did not follow g5's planned batches")
    // and the decode stage really saw whole batches (batch_items = plan size)
    batched.foreach { r =>
      assert(r.getAs[Int]("batch_items").toLong == plan(r.getAs[Long]("batch_id"))._1)
    }
  }

  test("capped list aggregate: complete below cap, truncated witness above") {
    import spark.implicits._
    // key 1 has 3 members (< cap 5 → complete set), key 2 has 7 (> cap → 5-element witness)
    val df = ((1 to 3).map(i => (1L, i.toLong)) ++ (1 to 7).map(i => (2L, i.toLong)))
      .toDF("k", "v")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("graft_capped_list(v, 5)").as("ds"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(df(1L).sorted == Seq(1L, 2L, 3L), "below-cap list must be the complete set")
    assert(df(2L).length == 5, "above-cap list must stop at exactly cap elements")
    assert(df(2L).distinct.length == 5 && df(2L).forall(v => v >= 1 && v <= 7))
    // posting-records encoding: pairs are non-negative and sorted a<b,
    // member records are -(doc+1)
    val recs = graft.functions.PostingRecords.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(7L, 3L, 5L)))
      .toLongArray().toSeq
    val pairs = recs.filter(_ >= 0).map(p => (p >>> 32, p & 0xffffffffL))
    assert(pairs.toSet == Set((3L, 5L), (3L, 7L), (5L, 7L)))
    assert(recs.filter(_ < 0).map(p => -p - 1).toSet == Set(3L, 5L, 7L))
  }

  test("approx quantiles stay within 2% of the exact median") {
    val exact = Analytics.qMedian(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("median_price")).toMap
    Analytics.qApproxQuantiles(spark, sfDir).collect().foreach { r =>
      val p50 = r.getAs[Double]("p50_approx")
      val e = exact(r.getString(0))
      assert(math.abs(p50 - e) / e <= 0.02, s"${r.getString(0)}: p50 $p50 vs exact $e")
      assert(r.getAs[Double]("p95_approx") >= p50)
    }
  }

  test("approx distinct stays within the configured 2% error vs exact") {
    Analytics.qApproxDistinct(spark, sfDir).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.1,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("f43 group split: leakage-free by construction, 80/10/10-ish, full coverage") {
    val rows = TextOps.qGroupSplit(spark, sfDir).collect()
    val splits = rows.map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    // every doc and every source lands in exactly one split
    val docs = Tables(spark, sfDir, "documents")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(rows.map(_.getAs[Long]("n_sources")).sum ==
      docs.select("source").distinct().count())
    // shares sum to ~1 (floor rounding loses < 1 micro per split)
    val shareSum = rows.map(_.getAs[Long]("share_micro")).sum
    assert(shareSum > 999990L && shareSum <= 1000000L, s"shares sum to $shareSum")
    // the train split dominates (the 80% band) — robust at any sf
    val train = rows.find(_.getString(0) == "train").get
    assert(train.getAs[Long]("n_sources") > rows.map(_.getAs[Long]("n_sources")).sum / 2)
    // independent leakage probe: recompute source→split off the raw
    // table and assert NO source appears under two splits
    import org.apache.spark.sql.functions._
    def digit(c: String, i: Int) =
      s"(locate(substr(md5($c), $i, 1), '0123456789abcdef') - 1)"
    val t = s"CAST(((${digit("source", 1)} * 16 + ${digit("source", 2)}) * 16 + ${digit("source", 3)}) * 16 + ${digit("source", 4)} AS INT)"
    val fractured = docs
      .withColumn("split", expr(
        s"CASE WHEN ($t) % 100 < 80 THEN 'train' WHEN ($t) % 100 < 90 THEN 'val' ELSE 'test' END"))
      .groupBy("source").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(fractured == 0L, "a source straddles splits — leakage")
  }

  test("f44 span corruption: rate near 15%, spans are maximal mask runs, reproducible") {
    val rows = TextOps.qSpanCorruption(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var tok = 0L; var masked = 0L
    rows.foreach { r =>
      val (n, m, s) = (r.getLong(1), r.getLong(2), r.getLong(3))
      tok += n; masked += m
      assert(m <= n && s <= m, s"doc ${r.get(0)}: spans/masks inconsistent")
      // a span is a maximal run: at least 1 token each
      if (m > 0) assert(s >= 1)
      assert(r.getLong(4) == m * 1000000L / n)
    }
    val rate = masked.toDouble / tok
    assert(rate > 0.10 && rate < 0.20, s"corpus mask rate $rate should sit near 38/256")
    // reproducibility: a second run plans the identical masks
    val again = TextOps.qSpanCorruption(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("f39 temperature mix: α=0.7 provably flattens the language distribution") {
    val rows = TextOps.qTemperatureMix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSet.size == rows.length, "one row per language")
    // temperature < 1 must pull the head DOWN and flatten the whole
    // distribution (per-lang checks would be sampling-noise-flaky at
    // k=200: tail-share σ ≈ 2.7%; the L1 distance to uniform is the
    // robust flattening readout)
    val head = rows.maxBy(_._2)
    assert(head._3 < head._2,
      s"head lang ${head._1} share must shrink: before ${head._2} after ${head._3}")
    val uniform = 1000000L / rows.length
    def l1(shares: Seq[Long]) = shares.map(s => math.abs(s - uniform)).sum
    assert(l1(rows.map(_._3).toSeq) < l1(rows.map(_._2).toSeq),
      s"after-shares must sit closer to uniform: $rows")
    // the selection is exactly k docs and shares account for them
    val sel = TextOps.qTemperatureMix(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_sel")).head().getLong(0)
    assert(sel == 200L, s"selected $sel of the 200-doc budget")
  }

  test("f40 epoch plan: caps bind at exactly 4 passes, budgets account to the token") {
    val rows = TextOps.qEpochPlan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tok, target, alloc, em, unfilled, capped) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))
      assert(alloc == math.min(4 * tok, target), s"$r allocation rule broken")
      assert(unfilled == target - alloc, s"$r budget does not account")
      if (capped) assert(em == 4000L, s"$r capped language must run exactly 4 passes")
      else assert(em <= 4000L && alloc == target, s"$r uncapped language must fill its target")
    }
  }

  test("c64b profile-approx: each nd within 10% of the exact profile, and Expand drops out") {
    val exact = OpsAudit.qProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    OpsAudit.qProfileApprox(spark, sfDir).collect().foreach { r =>
      val c = r.getString(0)
      val approx = r.getAs[Long]("n_distinct").toDouble
      assert(math.abs(approx - exact(c)) / exact(c).max(1L) <= 0.1,
        s"$c: approx $approx vs exact ${exact(c)}")
    }
    // the 100 TB point: the exact profile pays a 6× Expand through its
    // exchange; the sketch profile must NOT (HLL buffers fold as plain
    // partial aggregates)
    val pExact = OpsAudit.qProfile(spark, sfDir)
      .queryExecution.executedPlan.toString
    val pApprox = OpsAudit.qProfileApprox(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(pExact.contains("Expand"), s"exact profile lost its Expand?\n$pExact")
    assert(!pApprox.contains("Expand"),
      s"approx profile still plans an Expand — the swap buys nothing:\n$pApprox")
  }

  test("route format covers every extension class") {
    val routes = IngestOps.qRouteFormat(spark, sfDir)
      .select("route").distinct().collect().map(_.getString(0)).toSet
    assert(routes == Set("cog", "pmtiles", "archive", "passthrough", "skip"))
  }

  test("graft_repstats matches hand-computed signals on edge cases") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq("only")),                            // 1 token: no bigrams
      (2L, Seq("a", "a", "a", "a")),                // max repetition
      (3L, Seq("a", "b", "a", "b", "a")),           // alternating: all bigrams dup'd into 2 distinct
      (4L, Seq("w", "x", "y", "z"))                 // all distinct
    ).toDF("doc_id", "toks")
    val got = rows.selectExpr("doc_id", "graft_repstats(toks) AS s")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(1L, 1L, 1L, 0L, 0L))
    assert(got(2L) == Seq(4L, 1L, 4L, 3L, 1L))      // "a a" ×3 → 1 distinct
    assert(got(3L) == Seq(5L, 2L, 3L, 4L, 2L))      // "a b","b a" ×2 each
    assert(got(4L) == Seq(4L, 4L, 1L, 3L, 3L))
  }

  test("e14 SQ8: exact self-match, bounded candidate cut, recall vs brute") {
    val got = Ann.qAnnSq8(spark, sfDir).collect()
    assert(got.nonEmpty && got.length <= 10)
    // the query vector survives quantization as its own best match
    assert(got.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(got.head.getAs[Double]("cos_sim") - 1.0) < 1e-6)
    // 7-bit/dim quantization at 64 dims must retain most of the exact
    // top-10 (1.0 at sf0.01; allow headroom for the tiny sf)
    val truth = Ann.qAnnBrute(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = got.count(r => truth(r.getAs[Long]("vec_id"))) / truth.size.toDouble
    assert(recall >= 0.8, s"SQ8 recall@10 $recall")
    // candidate cut must be the bounded top-k form, never a full sort
    val p = Ann.qAnnSq8(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"SQ8 candidate cut unbounded:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("f27 novelty: the first doc is all-novel and novel counts partition the shingle space") {
    val rows = TextOps.qNgramNovelty(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // ingest order: the lowest doc_id with any shingles introduces
    // every one of them
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(1) == first.getLong(2) && first.getDouble(3) == 1.0,
      s"first doc must be fully novel, got $first")
    // every distinct shingle is novel in exactly one doc
    val totalNovel = rows.map(_.getLong(2)).sum
    val distinctSids = {
      Tables(spark, sfDir, "documents")
        .select(explode(expr("graft_shingle_sids(split(text, ' '))")).as("sid"))
        .distinct().count()
    }
    assert(totalNovel == distinctSids,
      s"novel counts $totalNovel must partition the $distinctSids distinct shingles")
  }

  test("d15 URL dedup matches an in-memory canonicalization fold") {
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def canonOf(id: Long, u: Long): (String, String) = {
      val base = s"https://acct.blob.core.windows.net/userdata/user$u/raw/file_${u % 7}.gpkg"
      val schemed = if (id % 3 == 0) "HTTPS" + base.substring(5) else base
      val raw = schemed + ((id % 5) match {
        case 1 => "/"
        case 2 => s"?utm_source=email&id=${id % 7}"
        case 3 => s"?id=${id % 7}"
        case 4 => "#sec2"
        case _ => ""
      })
      val canon = (raw.substring(0, 5).toLowerCase + raw.substring(5))
        .replaceAll("#.*$", "")
        .replace("?utm_source=email&", "?")
        .replaceAll("/$", "")
      (raw, canon)
    }
    val expected = events.map { case (id, u) => val (raw, c) = canonOf(id, u); (c, raw, id) }
      .groupBy(_._1).map { case (c, g) =>
        (c, g.length.toLong, g.map(_._2).distinct.length.toLong, g.map(_._3).min)
      }.toSeq.sortBy(_._1)
    val got = Dedup.qDedupUrl(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the corpus must actually exercise collapsing: somewhere several
    // raw forms share one canonical URL
    assert(expected.exists(_._3 > 1), "no canon group with >1 raw form — vacuous")
  }

  test("b27 tile diff: deletes drain their old tile, moves shift 3 tiles east") {
    val changed = GeoOps.qTileDiff(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(changed.nonEmpty)
    // every changed tile genuinely differs, and both directions occur
    assert(changed.values.forall { case (o, n) => o != n })
    assert(changed.values.exists { case (o, n) => n < o },
      "no tile lost features — deletes/moves-out missing")
    assert(changed.values.exists { case (o, n) => n > o },
      "no tile gained features — moves-in missing")
  }

  test("f20 TF-IDF: per-doc top-5, exact integer weights, bounded window") {
    val rows = TextOps.qTfidf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.length <= 5))
    // within a doc the dump order IS the weight order (desc, token tiebreak)
    byDoc.values.foreach { rs =>
      rs.sliding(2).foreach {
        case Array(a, b) =>
          val (wa, wb) = (a.getAs[Long]("tfidf_micro"), b.getAs[Long]("tfidf_micro"))
          assert(wa > wb || (wa == wb &&
            a.getAs[String]("token") < b.getAs[String]("token")), s"order broken: $a vs $b")
        case _ =>
      }
    }
    // weight = tf * round(ln((N+1)/(df+1))*1e6) exactly
    val n = Tables(spark, sfDir, "documents").count()
    rows.foreach { r =>
      val idf = math.round(math.log((n + 1.0) / (r.getAs[Long]("df") + 1.0)) * 1e6)
      assert(r.getAs[Long]("tfidf_micro") == r.getAs[Long]("tf") * idf, s"weight drifted: $r")
    }
    // the rank-<=5 filter must push into the window as a group limit
    val p = TextOps.qTfidf(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"top-5 filter not pushed:\n$p")
  }

  test("d19: incremental CC equals the cold pass; frontier stays affected-subgraph-sized") {
    val cold = operators.Dedup.qDedupCc(spark, sfDir).collect().map(_.toSeq).toSeq
    val incr = operators.Dedup.qDedupCcIncr(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(incr == cold, "incremental CC diverged from the cold fixpoint")
    val (labels, rounds, totalFrontier) = operators.Dedup.incrLabels(spark, sfDir)
    val nodes = labels.count()
    assert(rounds <= 50 && nodes > 0)
    // the measured incremental claim: total message-SENDING nodes
    // across every round stays below the graph size — the cold pass
    // by contrast has every node messaging every round
    assert(totalFrontier < nodes,
      s"frontier total $totalFrontier should be < $nodes graph nodes " +
        "(batch-incident components only)")
  }

  test("d6/d19 CC kernel: a planted multi-round graph converges to the union-find minimum") {
    import spark.implicits._
    // a 12-node path with shuffled ids, a star whose centre is not its
    // minimum, and two disjoint pairs: every committed corpus converges
    // in one round, this graph cannot
    val path = new scala.util.Random(7).shuffle((100L to 111L).toList)
    val edges: Seq[(Long, Long)] = path.zip(path.tail) ++
      Seq(205L -> 201L, 205L -> 209L, 203L -> 205L, 207L -> 205L, 300L -> 301L, 311L -> 310L)
    val pairs = edges.toDF("doc_a", "doc_b")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val labels = operators.Dedup.ccOver(pairs).as[(Long, Long)].collect().toMap
    assert(labels == expected, "CC labels differ from the driver-side union-find minimum")
    // ccOver's run, round count included: its fused seed (min of self
    // and neighbours) is both the labels and the frontier of the kernel
    val sym = operators.Dedup.symmetricEdges(pairs)
    val seed = sym.groupBy(col("dst")).agg(least(col("dst"), min(col("src"))).as("label"))
      .select(col("dst").as("id"), col("label"))
    val (kernel, rounds, _) = operators.Dedup.propagate(sym, seed, seed)
    assert(kernel.as[(Long, Long)].collect().toMap == expected)
    assert(rounds >= 3, s"the planted path must take several rounds, took $rounds")
  }

  test("d6 reads the files under dir on every call: a rewritten corpus is not served a previous call's components") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stale-input")
    val docs = Tables(spark, sfDir, "documents")
    def writeCorpus(keep: org.apache.spark.sql.Column): Unit =
      docs.filter(keep).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def components(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("q_dedup_cc")(s, dir.toString).collect().map(_.toSeq).toSeq
    try {
      writeCorpus(col("doc_id") % 3 =!= 0)
      val first = components(spark)
      writeCorpus(col("doc_id") % 3 =!= 1)
      val second = components(spark)
      val fresh = components(spark.newSession())
      assert(fresh.nonEmpty, "the rewritten corpus must still have components")
      assert(second == fresh,
        "the second call in one session must equal a fresh session's result on the new files")
      assert(second != first, "the two corpora must yield different components")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a32 cli local route: subdataset parse strips quotes, band/joined branches populate, no upload legs") {
    val rows = operators.IngestOps.qCliLocalRoute(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val kinds = rows.map(_.getAs[String]("dst_kind")).toSet
    // every planted branch populated at sf0.001
    Seq("cog", "cog_band", "pmtiles_joined", "pmtiles_per_layer",
      "passthrough", "archive", "skip").foreach(k =>
      assert(kinds.contains(k), s"branch $k not exercised"))
    rows.foreach { r =>
      val src = r.getAs[String]("src")
      val root = r.getAs[String]("root")
      val dst = r.getAs[String]("local_dst")
      if (src.startsWith("NETCDF:")) {
        // DRIVER:path:"name" → root = name, quotes STRIPPED
        assert(src.count(_ == ':') == 2 && src.contains("\""))
        assert(root.startsWith("sub_") && !root.contains("\""),
          s"subdataset root must strip quotes: $r")
      } else assert(!root.contains("."), s"stem must drop the extension: $r")
      // the user dir rides the src folder (/data/userN/raw)
      val u = r.getAs[String]("src_folder").stripPrefix("/data/").takeWhile(_ != '/')
      r.getAs[String]("dst_kind") match {
        case "cog"      => assert(dst == s"/out/$u/$root.tif")
        case "cog_band" => assert(dst.endsWith(".tif") && dst.contains("_band"))
        case "pmtiles_joined" => assert(dst.endsWith(s"$root.pmtiles"))
        case "pmtiles_per_layer" =>
          // per-layer files land IN the directory — dst IS the dir
          assert(dst == s"/out/$u", s"per-layer dst must be the directory: $r")
        case _ => assert(dst == null, s"no local artifact on route ${r.getAs[String]("route")}: $r")
      }
    }
  }

  test("a33 azlog rotation: blocks conserve, every non-final rotation is at capacity, boundaries monotone") {
    val rows = operators.IngestOps.qAzlogRotation(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_blocks")).sum == total,
      "every log record must land in exactly one rotation block")
    assert(rows.exists(_.getAs[Int]("rotation") > 0),
      "rotation must EXERCISE at sf0.001 or the cap is untested")
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rotation"))
      assert(sorted.map(_.getAs[Int]("rotation")).toSeq == (0 until rs.length),
        s"rotations must be consecutive from 0 (user $u)")
      sorted.init.foreach { r =>
        assert(r.getAs[Long]("n_blocks") == 32 && r.getAs[Boolean]("at_capacity"),
          s"a rotation only closes when FULL (user $u): $r")
      }
      assert(sorted.last.getAs[Long]("n_blocks") <= 32)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("first_ms") >= a.getAs[Long]("last_ms"),
            s"rotation time ranges must be monotone (user $u)")
        case _ =>
      }
      sorted.foreach { r =>
        val want = if (r.getAs[Int]("rotation") == 0) s"user$u/raw/ingest.log"
          else s"user$u/raw/ingest.log.${r.getAs[Int]("rotation")}"
        assert(r.getAs[String]("blob_name") == want)
      }
    }
  }
}
