package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks for the native primitives whose guarantees
  * are ALGEBRAIC — a handful of example-based cases can't cover the
  * adversarial stream shapes these must survive at 100 TB, random
  * generation can. The Misra–Gries properties are pure-JVM (they
  * exercise exactly the update/merge/serialize code the distributed
  * aggregation runs, under random partition splits); the as-of
  * property drives the real physical operator against an in-memory
  * reference model.
  */
class PropertySpec extends SparkTestBase {

  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
  import org.apache.spark.sql.types.StringType

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private def mgAgg(cap: Int) =
    graft.functions.MisraGries(BoundReference(0, StringType, nullable = true), Literal(cap))

  /** Run the sketch the way Spark does: per-partition partials (update
    * path) merged pairwise in order (merge path), through the wire
    * format (serialize/deserialize) like a real shuffle. */
  private def mgRun(partitions: Seq[Seq[String]], cap: Int): Map[String, Long] = {
    val agg = mgAgg(cap)
    val partials = partitions.map { part =>
      val buf = agg.createAggregationBuffer()
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      part.foreach { s =>
        row.update(0, UTF8String.fromString(s))
        agg.update(buf, row)
      }
      agg.deserialize(agg.serialize(buf))
    }
    val merged = partials.reduceLeft { (a, b) => agg.merge(a, b) }
    merged.counts.map { case (k, v) => k.toString -> v }.toMap
  }

  test("Misra-Gries guarantee holds under random streams, splits and caps") {
    val genStream = for {
      // skewed alphabet: small id = frequent, so real heavy hitters exist
      n <- Gen.choose(50, 2000)
      items <- Gen.listOfN(n, Gen.frequency(
        (8, Gen.choose(0, 5)), (3, Gen.choose(6, 30)), (1, Gen.choose(31, 500))))
      cap <- Gen.choose(2, 40)
      nParts <- Gen.choose(1, 8)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (items.map(i => s"w$i"), cap, nParts, seed)
    check(Prop.forAll(genStream) { case (items, cap, nParts, seed) =>
      val rnd = new scala.util.Random(seed)
      // random split into partitions (order preserved within each, as
      // a real scan would)
      val parts = Array.fill(nParts)(Seq.newBuilder[String])
      items.foreach(s => parts(rnd.nextInt(nParts)) += s)
      val sketch = mgRun(parts.toSeq.map(_.result()), cap)
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val slack = items.size.toLong / (cap + 1) // the MG frequency-error bound
      // 1. NO FALSE NEGATIVES above the guarantee line
      truth.foreach { case (k, c) =>
        if (c > slack)
          assert(sketch.contains(k), s"lost heavy item $k (count $c > N/(cap+1) = $slack)")
      }
      // 2. counts are underestimates, within the bound
      sketch.foreach { case (k, est) =>
        val c = truth.getOrElse(k, 0L)
        assert(est <= c, s"overestimate for $k: $est > true $c")
        assert(c - est <= slack, s"error for $k exceeds bound: $c - $est > $slack")
      }
      // 3. the buffer honors its cap
      sketch.size <= cap
    }, n = 200)
  }

  private def kmvRun(partitions: Seq[Seq[Long]], k: Int): Seq[Long] = {
    import org.apache.spark.sql.types.LongType
    val agg = graft.functions.Kmv(BoundReference(0, LongType, nullable = true), Literal(k))
    val partials = partitions.map { part =>
      val buf = agg.createAggregationBuffer()
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      part.foreach { h => row.update(0, java.lang.Long.valueOf(h)); agg.update(buf, row) }
      agg.deserialize(agg.serialize(buf))
    }
    val merged = partials.reduceLeft { (a, b) => agg.merge(a, b) }
    val b = Seq.newBuilder[Long]
    merged.set.forEach(b += _.longValue())
    b.result()
  }

  test("KMV sketch IS the k smallest distinct values, under random streams, splits and k") {
    val genStream = for {
      n <- Gen.choose(1, 3000)
      // duplicates common: draw from a domain comparable to n
      items <- Gen.listOfN(n, Gen.choose(0L, math.max(1L, n.toLong)))
      k <- Gen.choose(1, 300)
      nParts <- Gen.choose(1, 8)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (items, k, nParts, seed)
    check(Prop.forAll(genStream) { case (items, k, nParts, seed) =>
      val rnd = new scala.util.Random(seed)
      val parts = Array.fill(nParts)(Seq.newBuilder[Long])
      items.foreach(h => parts(rnd.nextInt(nParts)) += h)
      val sketch = kmvRun(parts.toSeq.map(_.result()), k)
      // the sketch is EXACTLY the k smallest distinct values, sorted —
      // lossless mergeability means no weaker statement is needed
      sketch == items.distinct.sorted.take(k)
    }, n = 200)
  }

  test("native as-of join equals an in-memory reference model on random data") {
    import spark.implicits._
    val genCase = for {
      nl <- Gen.choose(1, 120)
      nr <- Gen.choose(0, 120)
      keyMax <- Gen.choose(1, 6) // few keys = many per-key collisions
      tMax <- Gen.choose(1, 25) // small time domain = many exact ties
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (nl, nr, keyMax, tMax, seed)
    check(Prop.forAll(genCase) { case (nl, nr, keyMax, tMax, seed) =>
      val rnd = new scala.util.Random(seed)
      val left = (0 until nl).map(i =>
        (i.toLong, rnd.nextInt(keyMax).toLong, rnd.nextInt(tMax).toLong))
      val right = (0 until nr).map(i =>
        (rnd.nextInt(keyMax).toLong, rnd.nextInt(tMax).toLong, i.toLong))
      val ldf = left.toDF("lid", "k", "t")
      val rdf = right.toDF("rk", "rt", "payload")
      val got = graft.operators.Asof.asofJoinKeys(ldf, rdf,
          Seq("k"), Seq("rk"), "t", "rt", rightTiebreak = Seq("payload"))
        .select("lid", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: latest right at-or-before; greatest payload on ties
      val want = left.flatMap { case (lid, k, t) =>
        val matches = right.filter { case (rk, rt, _) => rk == k && rt <= t }
        if (matches.isEmpty) None
        else Some(lid -> matches.maxBy { case (_, rt, p) => (rt, p) }._3)
      }.toMap
      assert(got == want, s"as-of diverged (seed $seed, nl=$nl nr=$nr)")
      true
    }, n = 12)
  }

  test("composite-key native as-of equals the reference model on random data") {
    // the c25 salting foundation: the zipper's lexicographic tuple
    // compare must match per-(k1,k2) as-of semantics exactly,
    // including ties on every component
    import spark.implicits._
    val genCase = for {
      nl <- Gen.choose(1, 100)
      nr <- Gen.choose(0, 100)
      k1Max <- Gen.choose(1, 4)
      k2Max <- Gen.choose(1, 4) // tiny domains force cross-component ties
      tMax <- Gen.choose(1, 15)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (nl, nr, k1Max, k2Max, tMax, seed)
    check(Prop.forAll(genCase) { case (nl, nr, k1Max, k2Max, tMax, seed) =>
      val rnd = new scala.util.Random(seed)
      val left = (0 until nl).map(i => (i.toLong,
        rnd.nextInt(k1Max).toLong, rnd.nextInt(k2Max).toLong, rnd.nextInt(tMax).toLong))
      val right = (0 until nr).map(i => (rnd.nextInt(k1Max).toLong,
        rnd.nextInt(k2Max).toLong, rnd.nextInt(tMax).toLong, i.toLong))
      val ldf = left.toDF("lid", "k1", "k2", "t")
      val rdf = right.toDF("rk1", "rk2", "rt", "payload")
      val got = graft.operators.Asof.asofJoinKeys(ldf, rdf,
          Seq("k1", "k2"), Seq("rk1", "rk2"), "t", "rt",
          rightTiebreak = Seq("payload"))
        .select("lid", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = left.flatMap { case (lid, k1, k2, t) =>
        val ms = right.filter { case (r1, r2, rt, _) => r1 == k1 && r2 == k2 && rt <= t }
        if (ms.isEmpty) None
        else Some(lid -> ms.maxBy { case (_, _, rt, p) => (rt, p) }._4)
      }.toMap
      assert(got == want, s"composite as-of diverged (seed $seed)")
      true
    }, n = 12)
  }

  test("span dedup equals the reference model on random corpora") {
    // f19's distributed formulation (partial min/count agg +
    // reassembly from the keepers) against a direct in-memory model: global
    // first-occurrence keep over non-overlapping 10-token spans. Tiny
    // vocab forces heavy span collisions, short docs exercise the
    // ragged last span.
    import spark.implicits._
    val genCase = for {
      nDocs <- Gen.choose(1, 40)
      vocab <- Gen.choose(2, 6)
      maxLen <- Gen.choose(1, 35)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (nDocs, vocab, maxLen, seed)
    check(Prop.forAll(genCase) { case (nDocs, vocab, maxLen, seed) =>
      val rnd = new scala.util.Random(seed)
      val docs = (0 until nDocs).map { i =>
        val n = 1 + rnd.nextInt(maxLen)
        (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" "))
      }
      val got = operators.TextOps.spanDedup(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val spans = docs.flatMap { case (id, text) =>
        text.split(" ").grouped(10).zipWithIndex.map { case (c, si) =>
          (id, si, c.mkString(" "))
        }
      }
      val counts = spans.groupBy(_._3).view.mapValues(_.size).toMap
      val keeper = spans.groupBy(_._3).view
        .mapValues(_.minBy(s => (s._1, s._2))).toMap
      val kept = spans.filter(s => keeper(s._3) == s)
      val want = kept.groupBy(_._1).map { case (id, ss) =>
        (id, ss.size.toLong, ss.count(s => counts(s._3) > 1).toLong,
          ss.sortBy(_._2).map(_._3).mkString(" "))
      }.toSeq.sortBy(_._1)
      assert(got.sortBy(_._1) == want, s"span dedup diverged (seed $seed)")
      true
    }, n = 15)
  }

  test("native geohash equals the per-bit reference; prefixes quantize cells") {
    val coord = Gen.chooseNum(0L, (1L << 20) - 1)
    check(Prop.forAll(coord, coord) { (xq, yq) =>
      // independent reference: interleave then base32, digit by digit
      var code = 0L
      (0 until 20).foreach { j =>
        code |= ((xq >> j) & 1L) << (2 * j + 1)
        code |= ((yq >> j) & 1L) << (2 * j)
      }
      val b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
      val want = (0 until 8).map(i => b32(((code >>> (35 - 5 * i)) & 31L).toInt)).mkString
      val got = graft.functions.Geohash8.compute(xq, yq).toString
      assert(got == want, s"geohash8($xq, $yq): $got != $want")
      // prefix property: gh4 is a pure function of the top-10 bits of
      // each coordinate — any two points in the same 2^10-cell share it
      val (x2, y2) = ((xq & ~1023L) | (yq & 1023L), (yq & ~1023L) | (xq & 1023L))
      val gotCell = graft.functions.Geohash8.compute(x2, y2).toString
      assert(gotCell.take(4) == got.take(4),
        s"gh4 must depend only on the cell: $got vs $gotCell")
      true
    }, n = 200)
  }

  test("geohash cover classification: full iff every point of the cell is in the bbox") {
    val q = Gen.chooseNum(0L, (1L << 20) - 1)
    check(Prop.forAll(q, q, q, q, Gen.chooseNum(0L, 32767L), Gen.chooseNum(0L, 32767L)) {
      (a, b, c, d, ox, oy) =>
        val (bx0, bx1) = (math.min(a, b), math.max(a, b))
        val (by0, by1) = (math.min(c, d), math.max(c, d))
        // b33's cell algebra over the enumerated range
        (bx0 >> 15 to bx1 >> 15).foreach { cx =>
          (by0 >> 15 to by1 >> 15).foreach { cy =>
            val (xl, xh) = (cx * 32768, cx * 32768 + 32767)
            val (yl, yh) = (cy * 32768, cy * 32768 + 32767)
            val full = xl >= bx0 && xh <= bx1 && yl >= by0 && yh <= by1
            // a random in-cell probe point
            val (px, py) = (xl + ox, yl + oy)
            val inBbox = px >= bx0 && px <= bx1 && py >= by0 && py <= by1
            if (full) assert(inBbox,
              s"full cell ($cx,$cy) of bbox [$bx0,$bx1]x[$by0,$by1] leaked ($px,$py)")
          }
        }
        // completeness: any in-bbox point's cell is inside the range
        val (px, py) = (bx0 + (ox % (bx1 - bx0 + 1)), by0 + (oy % (by1 - by0 + 1)))
        assert((px >> 15) >= (bx0 >> 15) && (px >> 15) <= (bx1 >> 15))
        assert((py >> 15) >= (by0 >> 15) && (py >> 15) <= (by1 >> 15))
        true
    }, n = 100)
  }

  test("TwoPhase.globalRowNumber equals the single-partition window on random multisets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // random value multisets with heavy ties, random bucket widths —
    // the helper must be bit-identical to row_number() OVER (ORDER BY
    // v, id) for ANY monotone bucketing (incl. degenerate 1-bucket and
    // bucket-per-value), and the ntile closed form must match ntile()
    val gen = for {
      n <- Gen.choose(1, 400)
      vals <- Gen.listOfN(n, Gen.choose(-50L, 50L)) // negatives: trunc-div buckets
      width <- Gen.oneOf(1L, 3L, 7L, 1000L) // 1000 ⇒ a single bucket
      k <- Gen.choose(2, 7)
    } yield (vals, width, k)
    check(Prop.forAll(gen) { case (vals, width, k) =>
      val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
      val got = graft.operators.TwoPhase.globalRowNumber(df,
          expr(s"v div $width"), Seq(col("v"), col("id")), "rk", total = Some("n"))
        .withColumn("q", expr(graft.operators.TwoPhase.ntileFromRank("rk", "n", k)))
        .select("id", "rk", "q").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))
      val want = df
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("q", ntile(k).over(w))
        .select("id", "rk", "q").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
      assert(got == want, s"two-phase diverged (width=$width, k=$k)")
      // the distribution-free range variant must agree too — sampled
      // boundaries may cut anywhere, ranks must not care
      val gotR = graft.operators.TwoPhase.globalRowNumberByRange(df,
          Seq(col("v"), col("id")), "rk", partitions = 5, total = Some("n"))
        .withColumn("q", expr(graft.operators.TwoPhase.ntileFromRank("rk", "n", k)))
        .select("id", "rk", "q").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
      assert(gotR == want, s"range variant diverged (k=$k)")
      true
    }, n = 30)
  }

  test("TwoPhase.globalCumSumByKey equals the per-key single-partition window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // random (key, value) rows with few keys (the g-family's mime
    // regime — a plain PARTITION BY window would put a whole key on
    // one task): the two-phase keyed prefix sum must be bit-identical
    // to sum(v) OVER (PARTITION BY key ORDER BY id ROWS UNBOUNDED
    // PRECEDING) for any partition count, including partitions that
    // split a key's run across buckets
    val gen = for {
      n <- Gen.choose(1, 400)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("img", "aud", "vid", "txt")
        v <- Gen.choose(-20L, 100L)
      } yield (k, v))
      parts <- Gen.oneOf(1, 3, 5, 17)
    } yield (rows, parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("mime", "v", "id")
      val got = graft.operators.TwoPhase.globalCumSumByKey(df,
          Seq(col("mime")), Seq(col("id")), col("v"), "cum", partitions = parts)
        .select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("mime").orderBy("id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val want = df.withColumn("cum", sum(col("v")).over(w))
        .select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"keyed cumsum diverged (parts=$parts)")
      true
    }, n = 30)
  }

  test("graft_clip: algebraic invariants on random slope-disciplined quads") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val helper = graft.functions.ClipBox.helper
    def clip(xs: Seq[Long], ys: Seq[Long], box: Seq[Long]): Option[Seq[Long]] =
      Option(helper.compute(new GenericArrayData(xs.toArray),
        new GenericArrayData(ys.toArray), new GenericArrayData(box.toArray)))
        .map(a => a.toLongArray().toSeq)
    val genQuad = for {
      cx <- Gen.choose(100000L, 900000L)
      cy <- Gen.choose(100000L, 900000L)
      a <- Gen.choose(1000L, 50000L)
      b <- Gen.choose(1000L, 50000L)
      m <- Gen.oneOf(-1L, 0L, 1L)
      px <- Gen.choose(50000L, 950000L) // quadrant split point
      py <- Gen.choose(50000L, 950000L)
    } yield (cx, cy, a, b, m * b, px, py)
    check(Prop.forAll(genQuad) { case (cx, cy, a, b, sx, px, py) =>
      val xs = Seq(cx - a - sx, cx + a - sx, cx + a + sx, cx - a + sx)
      val ys = Seq(cy - b, cy - b, cy + b, cy + b)
      val full = 8L * a * b
      // a box containing the whole quad returns it unchanged
      val whole = clip(xs, ys, Seq(0L, 0L, 2000000L, 2000000L)).get
      assert(whole == Seq(4L, full, xs.min, cy - b, xs.max, cy + b),
        s"whole-quad clip mutated: $whole")
      // the four quadrant boxes around ANY split point partition the
      // plane: piece areas must sum to EXACTLY the full shoelace
      val quads = Seq(
        Seq(0L, 0L, px, py), Seq(px, 0L, 2000000L, py),
        Seq(0L, py, px, 2000000L), Seq(px, py, 2000000L, 2000000L))
      val sum = quads.flatMap(q => clip(xs, ys, q)).map(_(1)).sum
      assert(sum == full, s"quadrant pieces sum $sum != $full")
      // a box strictly outside the bbox clips to nothing
      assert(clip(xs, ys, Seq(xs.max + 1, 0L, xs.max + 100000L, 2000000L)).isEmpty)
      true
    }, n = 200)
  }

  test("graft_dp: kernel matches an independent recursive Douglas-Peucker on random lines") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val helper = graft.functions.DpSimplify.helper
    // textbook recursion, written independently (depth-first instead of
    // the kernel's explicit stack; same strict->, same smallest-index
    // argmax tie-break, same decision-time error accounting)
    def refDp(xs: Array[Long], ys: Array[Long], tol2: Long): (Long, Long) = {
      var kept = 1L | (1L << (xs.length - 1))
      var maxErr = 0L
      def cross(lo: Int, hi: Int, i: Int): Long =
        (xs(hi) - xs(lo)) * (ys(i) - ys(lo)) - (ys(hi) - ys(lo)) * (xs(i) - xs(lo))
      def rec(lo: Int, hi: Int): Unit = if (hi - lo >= 2) {
        val cs = (lo + 1 until hi).map(i => i -> { val c = cross(lo, hi, i); c * c })
        val (best, bestC2) = cs.maxBy { case (i, c2) => (c2, -i.toLong) }
        val dx = xs(hi) - xs(lo); val dy = ys(hi) - ys(lo)
        val len2 = dx * dx + dy * dy
        if (bestC2 > tol2 * len2) {
          kept |= 1L << best
          rec(lo, best); rec(best, hi)
        } else cs.foreach { case (_, c2) =>
          val e = c2 * 10000L / len2
          if (e > maxErr) maxErr = e
        }
      }
      rec(0, xs.length - 1)
      (kept, maxErr)
    }
    val genLine = for {
      n <- Gen.choose(3, 8)
      ys <- Gen.listOfN(n, Gen.choose(-500L, 500L))
      tol <- Gen.choose(0L, 300L)
    } yield (ys, tol * tol)
    check(Prop.forAll(genLine) { case (ysL, tol2) =>
      val xs = ysL.indices.map(i => 400L * i).toArray
      val ys = ysL.toArray
      val got = helper.compute(new GenericArrayData(xs),
        new GenericArrayData(ys), tol2).toLongArray()
      val (mask, err) = refDp(xs, ys, tol2)
      assert(got(0) == mask, s"kept mask ${got(0)} != reference $mask (ys=$ysL tol2=$tol2)")
      assert(got(1) == java.lang.Long.bitCount(mask).toLong)
      assert(got(2) == err, s"max err ${got(2)} != reference $err (ys=$ysL tol2=$tol2)")
      true
    }, n = 300)
  }
}
