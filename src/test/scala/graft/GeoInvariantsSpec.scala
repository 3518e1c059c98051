package graft

import org.apache.spark.sql.functions._

/** Geometric invariants of the tiling math on seeded random points —
  * properties the oracle can't express (it only checks equality, not
  * geometry): every point's assigned tile must geographically contain
  * it, and parent tiles must contain their children.
  */
class GeoInvariantsSpec extends SparkTestBase {

  private val z = 6
  private val n = 1 << z

  test("assigned tile contains the point (10k seeded random coords)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(10000)((rnd.nextDouble() * 359.99 - 180.0,
      rnd.nextDouble() * 170.0 - 85.0)).toDF("lon", "lat")
    val tiledDf = pts
      .withColumn("xt", least(floor((col("lon") + 180.0) / 360.0 * n), lit(n - 1)).cast("int"))
      .withColumn("yt", greatest(least(
        floor((lit(1.0) - log(tan(radians(col("lat"))) + lit(1.0) / cos(radians(col("lat")))) / math.Pi) / 2.0 * n),
        lit(n - 1)), lit(0)).cast("int"))
      .withColumn("west", col("xt").cast("double") / n * 360.0 - 180.0)
      .withColumn("east", (col("xt") + 1).cast("double") / n * 360.0 - 180.0)
    def latOf(y: org.apache.spark.sql.Column) = {
      val a = lit(math.Pi) * (lit(1.0) - lit(2.0) * y / n)
      degrees(atan((exp(a) - exp(-a)) / 2.0))
    }
    val checked = tiledDf
      .withColumn("north", latOf(col("yt").cast("double")))
      .withColumn("south", latOf((col("yt") + 1).cast("double")))
      .withColumn("lon_ok", col("lon") >= col("west") && col("lon") < col("east"))
      .withColumn("lat_ok", col("lat") <= col("north") && col("lat") > col("south"))
    val bad = checked.filter(!col("lon_ok") || !col("lat_ok")).count()
    assert(bad == 0, s"$bad points escaped their tile")
  }

  test("parent tile at z-1 is the child's coordinates shifted right") {
    import spark.implicits._
    val tiles = (0 until n).flatMap(x => Seq((x, x / 2))).toDF("xt", "parent_expected")
    val got = tiles.withColumn("parent", (col("xt") / 2).cast("int"))
      .filter(col("parent") =!= col("parent_expected")).count()
    assert(got == 0)
  }

  test("b25: shoelace area equals the parallelogram closed form; centroid sits at the center") {
    val rows = operators.GeoOps.qPolygonMetrics(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0)
      val (au, bu) = (k % 7 + 5, k % 5 + 3)
      // shear-invariant closed form: 2A = 8·au·bu, scaled to µdeg²
      assert(r.getLong(1) == 8L * au * bu * 1000000000000L,
        s"poly $k area2 ${r.getLong(1)}")
      assert(r.getLong(1) > 0, "generator quads must be CCW")
      // a sheared parallelogram never overfills its bbox; unsheared
      // ones fill it exactly
      val fill = r.getDouble(3)
      assert(fill > 0 && fill <= 1.0, s"poly $k fill $fill")
      if (k % 9 - 4 == 0) assert(fill == 1.0, s"unsheared poly $k fill $fill")
      // point symmetry ⇒ polygon centroid = generator center
      assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0,
        s"poly $k centroid offset (${r.getDouble(4)}, ${r.getDouble(5)})")
    }
  }

  test("b26: the two-candidate hex assignment achieves the GLOBAL nearest-center distance") {
    // The query only ever compares two candidate centers (one per
    // lattice). The geometric claim behind that shortcut: those two
    // candidates always include a globally nearest center. Brute-force
    // the 4×4 center neighborhood of both lattices per point and
    // assert the query's chosen center is never beaten (ties allowed —
    // the deterministic tie RULE is the oracle's job, the geometry is
    // this spec's).
    val sx = 20000L; val sy = 34640L
    val rows = operators.GeoOps.qHexBin(spark, sfDir).collect()
    val events = Tables(spark, sfDir, "events").select("event_id").collect().map(_.getLong(0))
    assert(rows.map(_.getLong(2)).sum == events.length, "hex counts must partition the points")
    var worst = 0L
    events.foreach { id =>
      val x = id * 2654435761L % 360000L
      val y = id * 1327217873L % 170000L
      def d2(cx: Long, cy: Long) = (x - cx) * (x - cx) + (y - cy) * (y - cy)
      // the query's two candidates
      val dA = d2(((x + sx / 2) / sx) * sx, ((y + sy / 2) / sy) * sy)
      val dB = d2((x / sx) * sx + sx / 2, (y / sy) * sy + sy / 2)
      val chosen = math.min(dA, dB)
      val best = (for (i <- -1L to 2L; j <- -1L to 2L; off <- Seq(0L, 1L)) yield
        d2((x / sx + i) * sx + off * sx / 2, (y / sy + j) * sy + off * sy / 2)).min
      assert(chosen == best, s"event $id: candidate distance $chosen, true nearest $best")
      worst = math.max(worst, chosen)
    }
    // sanity: the partition is non-degenerate (points spread across
    // many hexes, max point-to-center distance below one hex diameter)
    assert(rows.length > 20 && worst < (sx * sx + sy * sy))
  }

  test("b34: UTM Krüger transform — central meridian, roundtrip, monotone northing, zone dispatch") {
    val out = graft.operators.GeoProj.qReprojectUtm(spark, sfDir).collect()
    assert(out.length > 0)
    // every synthesized row roundtrips to well under 1e-6 degrees
    assert(out.forall(_.getBoolean(6)), "roundtrip failed for some rows")
    // round 13: the source box spans lon [0, 18) AND lat [−80, 84) —
    // all six EPSG family members (zones 31..33 × N/S) must occur, and
    // eastings live inside the per-zone band (±3° from the zone's own
    // meridian → roughly 166km..834km at the equator); southern rows
    // carry the 10 000 000 m false northing, so every northing sits in
    // [0, 10M) either way
    val epsgs = out.map(_.getInt(1)).toSet
    assert(epsgs == Set(32631, 32632, 32633, 32731, 32732, 32733),
      s"expected zones 31-33 in both hemispheres, saw $epsgs")
    out.foreach { r =>
      val e = r.getDouble(2); val n = r.getDouble(3)
      assert(e > 160000 && e < 840000, s"easting out of band: $e")
      assert(n >= -10 && n < 10000000, s"northing out of range: $n")
    }
    // northing is monotone in recovered latitude WITHIN an EPSG member
    // (same meridian, same false northing; across zones the λ² term
    // can locally reorder near-equal latitudes)
    out.groupBy(_.getInt(1)).foreach { case (z, rows) =>
      val sorted = rows.map(r => (r.getDouble(4), r.getDouble(3))).sortBy(_._1)
      sorted.sliding(2).foreach { case Array((la, na), (lb, nb)) =>
        assert(na <= nb + 1e-6, s"epsg $z northing not monotone: lat $la -> $lb, n $na -> $nb")
      case _ => ()
      }
    }
    // a point ON the central meridian maps to easting exactly 500000
    // and its northing equals the meridian arc (well-known anchor:
    // lat=0 → northing=0); zone-BOUNDARY anchors: on the equator the
    // zone edge sits at the published 166 021.44 m (west edge, λ=−3°)
    // and 833 978.56 m (east edge, λ→+3°) — one point per side of the
    // lon=12 zone-32/33 boundary
    import spark.implicits._
    // reuse the full chain through a tiny SQL view of the same stages
    Seq((0.0, 15.0), (45.0, 15.0), (-45.0, 15.0), (0.0, 12.0), (0.0, 11.999999))
      .toDF("lat_src", "lon_src")
      .createOrReplaceTempView("utm_probe")
    val anchors = spark.sql(
      graft.operators.GeoProj.probeSql).collect()
    anchors.filter(_.getDouble(1) == 15.0).foreach { r =>
      assert(math.abs(r.getDouble(2) - 500000.0) < 0.01,
        s"central-meridian easting must be 500000: ${r.getDouble(2)}")
    }
    val n0 = anchors.find(r => r.getDouble(0) == 0.0 && r.getDouble(1) == 15.0)
      .get.getDouble(3)
    assert(math.abs(n0) < 0.01, s"equator northing must be 0: $n0")
    // the meridian arc from the equator to 45°N on WGS84 is
    // 4984944.38m (published geodesy anchor); the UTM northing there
    // is k0 times it — the n³ series must hit it to sub-meter
    val n45 = anchors.find(_.getDouble(0) == 45.0).get.getDouble(3)
    assert(math.abs(n45 - 0.9996 * 4984944.38) < 1.0,
      s"northing(45N) off the published arc: $n45")
    // the SOUTHERN twin: same arc below the 10 000 000 m false northing
    val n45s = anchors.find(_.getDouble(0) == -45.0).get.getDouble(3)
    assert(math.abs(n45s - (10000000.0 - 0.9996 * 4984944.38)) < 1.0,
      s"northing(45S) off the mirrored arc: $n45s")
    // zone-boundary pair: lon=12.0 routes to zone 33 (λ=−3°, easting
    // the published west-edge value); lon=12−ε routes to zone 32
    // (λ≈+3°, the east-edge value); the two eastings mirror around
    // 500000 (their sum is 1 000 000 by symmetry)
    val west = anchors.find(_.getDouble(1) == 12.0).get.getDouble(2)
    val east = anchors.find(_.getDouble(1) == 11.999999).get.getDouble(2)
    assert(math.abs(west - 166021.44) < 1.0, s"zone-33 west-edge easting: $west")
    assert(math.abs(east - 833978.56) < 1.0, s"zone-32 east-edge easting: $east")
    assert(math.abs(west + east - 1000000.0) < 1.0, s"edge mirror broke: $west + $east")
  }

  test("b38: LCC 2249 — false origin anchors, standard parallels preserve scale sense, roundtrip") {
    val out = graft.operators.GeoProj.qReprojectLcc(spark, sfDir).collect()
    assert(out.length > 0)
    assert(out.forall(_.getBoolean(5)), "LCC roundtrip failed for some rows")
    // grid coordinates stay in a plausible Massachusetts state-plane
    // band (the synthesized box spans lat 41..43, lon -73.5..-70.5)
    out.foreach { r =>
      val e = r.getDouble(1); val n = r.getDouble(2)
      assert(e > -100000 && e < 1500000, s"easting out of band: $e")
      assert(n > 2300000 && n < 3300000, s"northing out of band: $n")
    }
    // the grid ORIGIN (41N, 71.5W) maps to exactly the published
    // false origin of EPSG:2249: (656166.67, 2460625.00) ftUS
    import spark.implicits._
    Seq((41.0, -71.5), (42.0, -71.5)).toDF("lat_src", "lon_src")
      .createOrReplaceTempView("lcc_probe")
    val anchors = spark.sql(graft.operators.GeoProj.lccProbeSql).collect()
    val o = anchors.find(_.getDouble(0) == 41.0).get
    assert(math.abs(o.getDouble(1) - 200000.0 * 3937.0 / 1200.0) < 0.01,
      s"origin easting must be the false easting: ${o.getDouble(1)}")
    assert(math.abs(o.getDouble(2) - 750000.0 * 3937.0 / 1200.0) < 0.01,
      s"origin northing must be the false northing: ${o.getDouble(2)}")
    // one degree north along the central meridian ≈ 111.2 km ≈ 364,800
    // ftUS of northing (meridian arc at 41-42N) — a 1% sanity band
    val n42 = anchors.find(_.getDouble(0) == 42.0).get.getDouble(2)
    val dN = n42 - o.getDouble(2)
    assert(dN > 360000 && dN < 369000, s"1-degree northing step off: $dN")
  }

  test("b39 kernel ≡ template chains: dispatch branches reproduce b34/b38 bit-identically") {
    // the graft_reproject kernel transcribes the shared stage strings;
    // any transcription slip (assoc order, constant, rounding point)
    // shows up here as a non-identical double vs the declarative
    // template chains the standalone queries still execute
    val disp = graft.operators.GeoProj.qReprojectDispatch(spark, sfDir)
      .filter(col("method").isin("lcc_2sp", "tm_krueger"))
      .select("event_id", "method", "lon_4326", "lat_4326").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    val utm = graft.operators.GeoProj.qReprojectUtm(spark, sfDir)
      .select("event_id", "lon_4326", "lat_4326").collect()
    assert(utm.nonEmpty)
    utm.foreach { r =>
      assert(disp((r.getLong(0), "tm_krueger")) == ((r.getDouble(1), r.getDouble(2))),
        s"utm kernel/template divergence at event ${r.getLong(0)}")
    }
    val lcc = graft.operators.GeoProj.qReprojectLcc(spark, sfDir)
      .select("event_id", "lon_4326", "lat_4326").collect()
    assert(lcc.nonEmpty)
    lcc.foreach { r =>
      assert(disp((r.getLong(0), "lcc_2sp")) == ((r.getDouble(1), r.getDouble(2))),
        s"lcc kernel/template divergence at event ${r.getLong(0)}")
    }
  }

  test("b41: Sutherland–Hodgman clip — corner probes and the exact partition invariant") {
    def probe(xs: Seq[Long], ys: Seq[Long], box: Seq[Long]): Option[Seq[Long]] = {
      val r = spark.sql(
        s"""SELECT graft_clip(array(${xs.map(v => s"${v}L").mkString(",")}),
            array(${ys.map(v => s"${v}L").mkString(",")}),
            array(${box.map(v => s"${v}L").mkString(",")})) AS c""").collect()(0)
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
    }
    // fully-inside: the ring passes through unchanged
    assert(probe(Seq(10, 20, 20, 10), Seq(10, 10, 20, 20), Seq(0, 0, 100, 100))
      .contains(Seq(4L, 200L, 10L, 10L, 20L, 20L)))
    // 4-tile-corner spanning square: each quadrant box gets one
    // quarter piece (the NE quadrant checked exactly)
    assert(probe(Seq(-5, 5, 5, -5), Seq(-5, -5, 5, 5), Seq(0, 0, 10, 10))
      .contains(Seq(4L, 50L, 0L, 0L, 5L, 5L)))
    // ±45° side crossing the clip line → a PENTAGON piece (hand-traced:
    // ring (0,0)(10,0)(12,2)(12,4)(4,4), 2A = 76)
    assert(probe(Seq(0, 10, 14, 4), Seq(0, 0, 4, 4), Seq(-100, -100, 12, 100))
      .contains(Seq(5L, 76L, 0L, 0L, 12L, 4L)))
    // edge-touching from outside: zero-area contact, not a piece
    assert(probe(Seq(10, 12, 12, 10), Seq(0, 0, 4, 4), Seq(0, 0, 10, 10))
      .exists(_(1) == 0L), "edge contact must clip to zero area")
    // fully-outside: empty intersection → NULL
    assert(probe(Seq(20, 30, 30, 20), Seq(20, 20, 30, 30), Seq(0, 0, 10, 10)).isEmpty)
    // exact partition invariant on real data: the tile pieces of each
    // polygon sum to EXACTLY its full shoelace 2A = 8·a·b (tiles
    // partition the plane; every piece is exact int64)
    val sums = graft.operators.GeoClip.qTileClip(spark, sfDir)
      .groupBy("poly_id").agg(sum("area2_clip").as("s"), max("n_vert").as("mv"))
      .collect()
    assert(sums.nonEmpty)
    sums.foreach { r =>
      val id = r.getLong(0)
      val want = 8L * (id % 7 * 1000000L + 5000000L) * (id % 5 * 1000000L + 3000000L)
      assert(r.getLong(1) == want, s"partition broke for poly $id: ${r.getLong(1)} != $want")
    }
    // sheared polygons crossing tile corners produce >4-vertex pieces
    assert(sums.exists(_.getLong(2) > 4L), "expected at least one pentagon piece")
  }

  test("b42: Douglas–Peucker — planted spike survives, collinear run collapses, mask/count agree") {
    val out = graft.operators.GeoSimplify.qSimplify(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val mask = r.getLong(2); val nKept = r.getLong(3)
      // endpoints always kept; count is the mask's popcount
      assert((mask & 0x81L) == 0x81L, s"endpoints missing from mask $mask")
      assert(java.lang.Long.bitCount(mask).toLong == nKept)
      val id = r.getLong(0)
      if (id % 13 == 0) {
        // exactly collinear (flat) line: every interior vertex collapses
        assert(mask == 0x81L, s"collinear line $id kept interior vertices: $mask")
        assert(r.getLong(4) == 0L, "collinear line must report zero error")
      } else if (id % 17 == 0) {
        // +1000 spike at vertex 4 ≫ every zoom tolerance → must survive
        assert((mask & (1L << 4)) != 0L,
          s"spike vertex dropped for line $id at zoom ${r.getInt(1)}")
      }
    }
    // the ladder tightens: coarser zoom (bigger tol) never keeps MORE
    // vertices than a finer zoom on the same line
    out.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val byZoom = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      byZoom.sliding(2).foreach {
        case Array(coarse, fine) =>
          assert(coarse <= fine, s"line $id: coarser zoom kept more ($coarse > $fine)")
        case _ => ()
      }
    }
  }

  test("b57: shared borders — both owners emit the IDENTICAL simplified chain; DP matches an independent reference") {
    val out = graft.operators.GeoBorders.qSharedBorders(spark, sfDir).collect()
    assert(out.nonEmpty)
    // (1) the no-sliver guarantee: every border key maps to exactly ONE
    // (kept_mask, n_kept) verdict across all its owners
    val byKey = out.groupBy(_.getString(2))
    byKey.foreach { case (bkey, rows) =>
      val verdicts = rows.map(r => (r.getLong(5), r.getLong(6))).distinct
      assert(verdicts.size == 1,
        s"border $bkey simplified differently across owners: ${verdicts.toSeq}")
      val owners = rows.map(_.getLong(3)).distinct
      assert(owners.toSeq == Seq(rows.length.toLong),
        s"border $bkey: n_owners ${owners.toSeq} != owner rows ${rows.length}")
    }
    // (2) grid topology: an interior vertical border (0 < ex < 100 on a
    // fully-populated row) has exactly 2 owners; the fabric edge has 1
    val f0r = out.find(r => r.getLong(0) == 0L && r.getString(1) == "R").get
    assert(f0r.getLong(3) == 2L && f0r.getBoolean(4), "V-1-0 must be shared")
    val f0l = out.find(r => r.getLong(0) == 0L && r.getString(1) == "L").get
    assert(f0l.getLong(3) == 1L && !f0l.getBoolean(4), "V-0-0 is the fabric edge")
    // (3) kernel vs an INDEPENDENT in-test DP reference (same strict >,
    // same smallest-index tie-break), on every distinct border — a
    // non-shared edge must simplify exactly as a shared one (and as
    // b42 would): the dedup changes WORK, never the verdict
    val primes = Seq(7919L, 12553L, 17389L, 23311L, 29443L, 37199L, 42643L, 50021L)
    def chain(k: Long): (Array[Long], Array[Long]) = {
      val xs = (0 to 7).map(i => 400L * i).toArray
      val ys = (0 to 7).map { i =>
        val spike = if (i == 4 && k % 17 == 0) 1000L else 0L
        if (k % 13 == 0) k * 7919 % 1200 else k * primes(i) % 1200 + spike
      }.toArray
      (xs, ys)
    }
    def dpRef(xs: Array[Long], ys: Array[Long], tol2: Long): Long = {
      var mask = 0L
      def rec(lo: Int, hi: Int): Unit = {
        mask |= (1L << lo) | (1L << hi)
        if (hi - lo < 2) return
        val (dx, dy) = (xs(hi) - xs(lo), ys(hi) - ys(lo))
        val len2 = dx * dx + dy * dy
        var (bi, bc2) = (-1, -1L)
        for (i <- lo + 1 until hi) {
          val c = dx * (ys(i) - ys(lo)) - dy * (xs(i) - xs(lo))
          if (c * c > bc2) { bc2 = c * c; bi = i }
        }
        if (bc2 > tol2 * len2) { rec(lo, bi); rec(bi, hi) }
      }
      rec(0, 7); mask
    }
    byKey.foreach { case (bkey, rows) =>
      val parts = bkey.split("-")
      val (t, ex, ey) = (parts(0), parts(1).toLong, parts(2).toLong)
      val k = ex * 4099 + ey * 2003 + (if (t == "V") 1L else 2L)
      val (xs, ys) = chain(k)
      val want = dpRef(xs, ys, 1024L)
      assert(rows.head.getLong(5) == want,
        s"border $bkey (k=$k): kernel mask ${rows.head.getLong(5)} != reference $want")
      assert(java.lang.Long.bitCount(want).toLong == rows.head.getLong(6))
    }
  }

  test("b58: PROMOTE_TO_MULTI — part accounting closes, type algebra holds, all-parts-dropped features counted out") {
    // sf0.01: enough features that every planted class (bowtie kp≡0
    // mod 4, sliver kp≡0 mod 11, incl. single-part features whose ONLY
    // part drops) is populated
    val dir = "/root/testdata/sf0.01"
    val out = graft.operators.GeoMulti.qPromoteMulti(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "n_features != single + multi")
      assert(r.getLong(4) == r.getLong(5) + r.getLong(6) + r.getLong(7),
        "parts don't partition into valid+repaired+dropped")
      assert(r.getLong(8) <= r.getLong(1), "features_kept > n_features")
    }
    // recompute the per-layer expectation independently in Scala from
    // the supplier keys (third engine: plain loops, no SQL)
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
    val expect = sup.groupBy(_._2).map { case (layer, fs) =>
      var (nf, nsi, nmi, npt, pv, pr, pd, fk) = (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      fs.foreach { case (f, _) =>
        val nParts = 1 + f % 3
        nf += 1; npt += nParts
        if (nParts == 1) nsi += 1 else nmi += 1
        var kept = false
        (0L until nParts).foreach { p =>
          val kp = f * 7 + p
          val b = if (kp % 11 == 0) 0L else kp % 5 * 1000000L + 3000000L
          val crossed = kp % 4 == 0 && b != 0L // a flat ring cannot properly cross
          if (crossed) { pr += 1; kept = true }
          else if (b == 0L) pd += 1
          else { pv += 1; kept = true }
        }
        if (kept) fk += 1
      }
      layer -> (nf, nsi, nmi, npt, pv, pr, pd, fk)
    }
    out.foreach { r =>
      val e = expect(r.getLong(0))
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
      assert(got == e, s"layer ${r.getLong(0)}: got $got want $e")
    }
    // the planted contrast is POPULATED at this scale: some parts drop,
    // and at least one feature loses ALL its parts
    val totDropped = out.map(_.getLong(7)).sum
    val totKeptGap = out.map(r => r.getLong(1) - r.getLong(8)).sum
    assert(totDropped > 0, "no sliver parts planted — the gauntlet went vacuous")
    assert(totKeptGap > 0, "no all-parts-dropped feature — features_kept untested")
  }

  test("b59: antimeridian split — width preserved, pieces disjoint, planted seam class wraps") {
    val out = graft.operators.GeoWrap.qWrapSplit(spark, sfDir).collect()
    assert(out.nonEmpty)
    val byF = out.groupBy(_.getLong(0))
    byF.foreach { case (f, rows) =>
      val a = f % 7 * 1000000L + 5000000L
      // the split never loses longitude: Σ piece widths = the full 2a
      val width = rows.map(r => r.getLong(4) - r.getLong(3)).sum
      assert(width == 2 * a, s"feature $f: split width $width != ${2 * a}")
      rows.foreach { r =>
        assert(r.getLong(3) >= -180000000L && r.getLong(4) <= 180000000L,
          s"feature $f piece out of the tile plane")
        assert(r.getLong(5) >= 0 && r.getLong(6) <= 63 && r.getLong(5) <= r.getLong(6))
      }
      if (rows.length == 2) {
        // wrapped: the lower tile range ends strictly before the upper
        // one begins — the two pieces never double-cover a tile
        // (east wraps put piece 0 high, west wraps put piece 0 low)
        val Seq(lowP, highP) = rows.sortBy(_.getLong(5)).toSeq
        assert(lowP.getLong(6) < highP.getLong(5),
          s"feature $f: wrapped pieces overlap tiles")
      }
    }
    // the planted seam class actually wraps at this sf
    assert(byF.exists(_._2.length == 2), "no wrapped feature — the seam plant went vacuous")
    // and a seam-pinned even key wraps EAST: piece 0 touches tile 63
    val f0 = byF(0L).sortBy(_.getInt(1))
    assert(f0.length == 2 && f0.head.getLong(6) == 63L)
  }

  test("b43: line clip — the tile pieces of every line sum to EXACTLY its total L1 length") {
    val rows = graft.operators.GeoLines.qLineClip(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byLine = rows.groupBy(_.getLong(0))
    byLine.foreach { case (id, ps) =>
      val got = ps.map(_.getLong(4)).sum
      val want = graft.operators.GeoLines.totalL1(id)
      assert(got == want, s"line $id: tile pieces sum to $got, full length is $want")
    }
    // lines genuinely straddle tiles (the invariant is non-trivial) and
    // no (line, tile) group is empty-length
    assert(byLine.exists(_._2.length >= 2), "expected multi-tile lines")
    assert(rows.forall(_.getLong(4) > 0), "zero-length piece leaked past the strict clip")
  }

  test("b44: warp grid — origin on the block lattice, tight below the bbox, grid covers it") {
    val out = graft.operators.GeoOps.qWarpGrid(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val x0c = r.getLong(3); val y0c = r.getLong(4)
      val x1c = r.getLong(5); val y1c = r.getLong(6)
      val res = r.getLong(7); val gx0 = r.getLong(8); val gy0 = r.getLong(9)
      val tw = r.getLong(10); val th = r.getLong(11)
      val block = 256 * res
      // the origin sits ON the shifted block lattice
      assert((gx0 + 2100000000L) % block == 0, s"gx0 off-lattice for ${r.getLong(0)}")
      assert((gy0 + 2100000000L) % block == 0, s"gy0 off-lattice for ${r.getLong(0)}")
      // snapped DOWN, within one block of the bbox min (tight)
      assert(gx0 <= x0c && x0c < gx0 + block, s"x alignment loose for ${r.getLong(0)}")
      assert(gy0 <= y0c && y0c < gy0 + block, s"y alignment loose for ${r.getLong(0)}")
      // the target grid covers the bbox
      assert(gx0 + tw * res >= x1c && gy0 + th * res >= y1c,
        s"grid does not cover the bbox for ${r.getLong(0)}")
      // block counts match the ceiling of the pixel dims
      assert(r.getLong(12) == (tw + 255) / 256 && r.getLong(13) == (th + 255) / 256)
    }
  }

  test("b45 ≡ b28: the archive layout's kept-feature counts match the capstone manifest") {
    // two independent rollups of the same staged pipeline (route →
    // reproject → makevalid → tile): per user, n_features must agree
    val manifest = graft.operators.GeoOps.qGeoE2e(spark, sfDir)
      .select("user_id", "n_features").collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val layout = graft.operators.GeoGeom.qArchiveLayout(spark, sfDir)
      .select("user_id", "n_features", "n_tiles", "n_leaves", "dir_bytes").collect()
    assert(layout.nonEmpty)
    layout.foreach { r =>
      assert(manifest(r.get(0).toString) == r.getLong(1),
        s"user ${r.get(0)}: layout n_features ${r.getLong(1)} != manifest")
      // a leaf holds at most LeafCap entries, and bytes are plausible
      assert(r.getLong(3) >= (r.getLong(2) + 31) / 32,
        s"user ${r.get(0)}: too few leaves for ${r.getLong(2)} tiles")
      assert(r.getLong(4) >= 4 * r.getLong(2),
        s"user ${r.get(0)}: dir bytes below the 4-byte/entry floor")
    }
  }

  test("b12e: run-length dedup — planted empty runs collapse, accounting closes, RLE never loses") {
    val rows = operators.GeoGeom.qPmtilesRle(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var sawRun = false
    rows.foreach { r =>
      val (nTiles, nEmpty, nEntries, maxRun, nBlobs) =
        (r.getAs[Long]("n_tiles"), r.getAs[Long]("n_empty"),
          r.getAs[Long]("n_entries"), r.getAs[Long]("max_run"),
          r.getAs[Long]("n_blobs"))
      val (df, dr, datf, datr, datd) =
        (r.getAs[Long]("dir_bytes_flat"), r.getAs[Long]("dir_bytes_rle"),
          r.getAs[Long]("data_bytes_flat"), r.getAs[Long]("data_bytes_rle"),
          r.getAs[Long]("data_bytes_dedup"))
      assert(nTiles == 256L, "full z=4 cover")
      assert(nEntries <= nTiles && nBlobs <= nEntries)
      // pigeonhole: maximal empty stretches ≤ occupied + 1, so more
      // empties than that forces a run_length > 1 somewhere — the
      // planted ocean-tile class must actually collapse
      val nOcc = nTiles - nEmpty
      if (nEmpty > nOcc + 1) {
        assert(maxRun > 1, s"user ${r.get(0)}: $nEmpty empties over " +
          s"$nOcc occupied must produce a run > 1")
        sawRun = true
      }
      // a length-1 run serializes to exactly its flat entry; longer
      // runs strictly shrink the directory — RLE never loses bytes
      if (maxRun > 1) assert(dr < df, "run > 1 must shrink the directory")
      assert(dr <= df)
      assert(datd <= datr && datr <= datf,
        "offset dedup ≤ one-blob-per-run ≤ store-every-tile")
      assert(r.getAs[Long]("bytes_saved") == (datf - datr) + (df - dr))
    }
    assert(sawRun, "test data must exercise run_length > 1")
  }

  test("b12f: clustered offsets — first occurrences pack densely, reuse points backward, length ≡ dedup bytes") {
    val entries = operators.GeoGeom.qPmtilesClustered(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"),
        r.getAs[Long]("tile_bytes"), r.getAs[Long]("offset"),
        r.getAs[Boolean]("first_occurrence")))
    val rleByUser = operators.GeoGeom.qPmtilesRle(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_entries"), r.getAs[Long]("n_blobs"),
          r.getAs[Long]("data_bytes_dedup"))).toMap
    entries.groupBy(_._1).foreach { case (u, es) =>
      val (nEntries, nBlobs, dedupBytes) = rleByUser(u)
      assert(es.length.toLong == nEntries, s"user $u entry count != b12e")
      val firsts = es.filter(_._5).sortBy(_._2)
      assert(firsts.length.toLong == nBlobs, s"user $u first-occurrence count != b12e blobs")
      // dense packing: each first occurrence starts exactly where the
      // previous blob ends; total length is b12e's offset-dedup bytes
      var expect = 0L
      firsts.foreach { case (_, _, bytes, off, _) =>
        assert(off == expect, s"user $u: first-occurrence offset $off != running sum $expect")
        expect += bytes
      }
      assert(expect == dedupBytes, s"user $u: packed length $expect != b12e dedup bytes $dedupBytes")
      // reuse: every non-first entry's offset is an EARLIER first
      // occurrence's, with the same content bytes
      val firstAt = firsts.map(f => f._4 -> (f._2, f._3)).toMap
      es.filterNot(_._5).foreach { case (_, rid, bytes, off, _) =>
        val (frid, fbytes) = firstAt.getOrElse(off,
          fail(s"user $u: reused offset $off has no first occurrence"))
        assert(frid < rid && fbytes == bytes,
          s"user $u: entry $rid reuse of $off must point backward at identical bytes")
      }
    }
  }

  test("b35: concave/holed ray cast — hole excludes, notch excludes, solid contains") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // one star: cx=cy=1e8, a=8e6 b=5e6 e=4e6 d=2.5e6 hole 1e6x6.25e5
    val geom = (100000000L, 100000000L, 8000000L, 5000000L,
      4000000L, 2500000L, 1000000L, 625000L)
    val pts = Seq(
      ("hole_center", 100000000L, 100000000L, false, true),
      // x=cx sits at the bottom notch: ring boundary there is y=cy-d,
      // so a point at y=cy-b+1000 (inside the convex hull!) is OUTSIDE
      ("notch", 100000000L, 100000000L - 5000000L + 1000L, false, false),
      // solid flesh between hole edge and star edge along +x
      ("solid", 100000000L + 2500000L, 100000000L, true, false),
      // inside the central diamond but outside the hole
      ("core_ring", 100000000L + 1500000L, 100000000L, true, false),
      // clearly outside everything
      ("far", 100000000L + 20000000L, 100000000L, false, false))
    val df = pts.map { case (name, px, py, _, _) =>
      (name, px, py, geom._1, geom._2, geom._3, geom._4, geom._5, geom._6, geom._7, geom._8)
    }.toDF("name", "px", "py", "cx", "cy", "a", "b", "e", "d", "hw", "hh")
      .withColumn("inside_outer", expr(graft.operators.GeoGeom.insideOuterS))
      .withColumn("in_hole", expr(graft.operators.GeoGeom.inHoleS))
    // the native kernel must agree with the declarative template on
    // every probe (the serving path runs graft_ray_cross; the oracle
    // runs the template — this is where they are pinned together)
    val nativeDf = df
      .withColumn("n_outer", expr(
        """graft_ray_cross(px, py,
             array(cx - a, cx, cx + a, cx + e, cx + a, cx, cx - a, cx - e),
             array(cy - b, cy - d, cy - b, cy, cy + b, cy + d, cy + b, cy)) % 2 = 1"""))
      .withColumn("n_hole", expr(
        """graft_ray_cross(px, py,
             array(cx - hw, cx + hw, cx + hw, cx - hw),
             array(cy - hh, cy - hh, cy + hh, cy + hh)) % 2 = 1"""))
    nativeDf.collect().foreach { r =>
      assert(r.getAs[Boolean]("n_outer") == r.getAs[Boolean]("inside_outer") &&
        r.getAs[Boolean]("n_hole") == r.getAs[Boolean]("in_hole"),
        s"native kernel diverged from the template on ${r.getString(0)}")
    }
    val got = df.collect().map(r =>
      r.getString(0) -> (r.getBoolean(11), r.getBoolean(12))).toMap
    pts.foreach { case (name, _, _, contained, inHole) =>
      val (outer, hole) = got(name)
      assert(hole == inHole, s"$name: in_hole=$hole, want $inHole")
      assert((outer && !hole) == contained,
        s"$name: contained=${outer && !hole}, want $contained (outer=$outer hole=$hole)")
    }
    // the hole_center IS inside the outer ring — the hole is what
    // excludes it (the even-odd verdict b24's convex test cannot give)
    assert(got("hole_center")._1, "hole center must be inside the outer ring")
  }

  test("b37: graft_hilbert is a bijection onto [0, 4^z) and consecutive ids are adjacent cells") {
    // exhaustive at z=4: all 256 cells through the codegen'd expression
    val cells = spark.range(256)
      .selectExpr("id % 16 AS x", "id div 16 AS y",
        "graft_hilbert(4, id % 16, id div 16) AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bijectivity: the 256 d values are exactly 0..255
    assert(cells.map(_._3).sorted.toSeq == (0L until 256L),
      "hilbert ids must be a permutation of 0..4^z-1")
    // the DEFINING curve property (what Morton lacks): walking d in
    // order moves exactly one grid step at a time
    val byD = cells.sortBy(_._3)
    byD.sliding(2).foreach {
      case Array((xa, ya, da), (xb, yb, db)) =>
        val manhattan = math.abs(xa - xb) + math.abs(ya - yb)
        assert(manhattan == 1, s"jump between d=$da ($xa,$ya) and d=$db ($xb,$yb)")
      case _ => ()
    }
    // interpreted path (nullSafeEval) agrees with codegen
    (0 until 256).foreach { i =>
      val (x, y) = (i % 16, i / 16)
      val direct = graft.functions.HilbertD.compute(4, x.toLong, y.toLong)
      assert(cells.find(c => c._1 == x && c._2 == y).get._3 == direct)
    }
  }

  test("b36: planted bowtie is detected, repaired to the parallelogram area; sliver dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // rings on b36's generator columns: (cx, cy, a, b, sx, swapped)
    val rings = Seq(
      ("simple", 100000000L, 100000000L, 8000000L, 5000000L, 2000000L, false),
      ("bowtie", 100000000L, 100000000L, 8000000L, 5000000L, 2000000L, true),
      ("sliver", 100000000L, 100000000L, 8000000L, 0L, 2000000L, false))
    val df = rings.toDF("name", "cx", "cy", "a", "b", "sx", "swapped")
      .withColumn("crossing", expr(graft.operators.GeoGeom.crossS))
      .withColumn("degen", expr(graft.operators.GeoGeom.degenS))
      .withColumn("area2_fixed", expr(graft.operators.GeoGeom.areaFixedS))
      .withColumn("area2_given", expr(graft.operators.GeoGeom.areaGivenS))
    val got = df.collect().map(r => r.getString(0) ->
      (r.getBoolean(7), r.getBoolean(8), r.getLong(9), r.getLong(10))).toMap
    val (sc, sd, _, sg) = got("simple")
    assert(!sc && !sd, "simple parallelogram must be valid")
    assert(math.abs(sg) == 8L * 8000000L * 5000000L, s"parallelogram 2A: $sg")
    val (bc, bd, bf, bg) = got("bowtie")
    assert(bc, "bowtie's diagonals must properly cross")
    assert(bg == 0L, "symmetric bowtie's SIGNED shoelace cancels — why crossing is tested first")
    assert(math.abs(bf) == 8L * 8000000L * 5000000L,
      s"repair must recover the parallelogram area: $bf")
    val (vc, vd, _, _) = got("sliver")
    assert(!vc && vd, "zero-area sliver: no proper crossing, degenerate")
  }

  test("b62 layer isolation: siblings publish around a planted failure, timeouts die silent, multilayer dies whole, LWW blob winner") {
    val rows = operators.GeoOps.qLayerIsolation(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    // every planted branch must be POPULATED at sf0.001 or the spec
    // proves nothing (computed off the corpus in the survey: 6 single
    // gdal / 8 single timeout / multi gdal-first / multi timeout-first
    // / fully-green datasets on both paths)
    def pop(f: org.apache.spark.sql.Row => Boolean) = rows.exists(f)
    assert(pop(r => !r.getAs[Boolean]("join_vector_tiles") && r.getAs[String]("outcome") == "timeout"))
    assert(pop(r => !r.getAs[Boolean]("join_vector_tiles") && r.getAs[String]("outcome") == "gdal_error"))
    assert(pop(r => r.getAs[Boolean]("join_vector_tiles") && r.getAs[String]("outcome") == "dataset_failed"))
    assert(pop(r => r.getAs[Boolean]("join_vector_tiles") && r.getAs[String]("outcome") == "published"))
    byUser.foreach { case (u, rs) =>
      val jvt = rs.head.getAs[Boolean]("join_vector_tiles")
      val nPub = rs.count(_.getAs[String]("outcome") == "published")
      // consistency readout: the window columns equal the recount,
      // published + failed = layers, artifacts iff published
      assert(rs.forall(_.getAs[Long]("n_published") == nPub))
      assert(rs.forall(r => r.getAs[Long]("n_failed") == rs.length - nPub))
      assert(rs.forall(_.getAs[Int]("n_layers") == rs.length))
      rs.foreach { r =>
        val pub = r.getAs[String]("outcome") == "published"
        assert((r.getAs[String]("pmtiles_name") != null) == pub, s"artifact iff published: $r")
        assert((r.getAs[String]("fgb_twin") != null) == pub)
      }
      val failed = rs.filter(_.getAs[String]("fail_kind") != null)
      if (!jvt) {
        // ISOLATION: every healthy sibling of a failed layer publishes
        rs.filter(_.getAs[String]("fail_kind") == null).foreach { r =>
          assert(r.getAs[String]("outcome") == "published",
            s"healthy layer must survive its siblings' failures: $r")
        }
        // the blob exists iff some gdal_error layer exists, and holds
        // the LAST (max) such layer — earlier messages were overwritten
        val gdal = failed.filter(_.getAs[String]("fail_kind") == "gdal_error")
          .map(_.getAs[String]("layer"))
        val blob = rs.head.getAs[String]("error_blob_path")
        assert((blob != null) == gdal.nonEmpty)
        if (gdal.nonEmpty)
          assert(rs.forall(_.getAs[String]("error_layer") == gdal.max),
            s"LWW winner must be the last failed layer in iteration order (user $u)")
        // timeouts are SILENT: a user with only timeout failures has no blob
        if (failed.nonEmpty && gdal.isEmpty)
          assert(blob == null, s"timeout must not write an error blob (user $u)")
      } else {
        // NO isolation on the multilayer path: one failure kills all
        if (failed.nonEmpty) {
          assert(rs.forall(_.getAs[String]("outcome") == "dataset_failed"))
          val first = failed.minBy(_.getAs[String]("layer"))
          val blob = rs.head.getAs[String]("error_blob_path")
          assert((blob != null) ==
            (first.getAs[String]("fail_kind") == "gdal_error"),
            s"multilayer blob iff the FIRST failing layer is the exception kind (user $u)")
          if (blob != null)
            assert(rs.forall(_.getAs[String]("error_scope") == "dataset"))
        } else {
          assert(rs.forall(_.getAs[String]("outcome") == "published"))
        }
      }
    }
  }
}
