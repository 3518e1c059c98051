package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}
import graft.functions.Synth

/** §2 B (depth) — arbitrary-source-CRS reprojection math. The
  * reference reprojects ANY source SRS to the pipeline CRS via
  * ogr2ogr (ref processing.py:100-160, decision matrix at
  * processing.py:36-61); b2 models the full decision matrix and
  * synthesizes EPSG:32633-family (UTM, zones 31-33) rows whose "reproject"
  * verdict previously had no transform to execute. This module
  * supplies that transform: the closed-form ellipsoidal transverse
  * Mercator (Krüger series to n³ — the standard UTM formulation,
  * public in Karney 2011 "Transverse Mercator with an accuracy of a
  * few nanometers" and the UTM literature), forward AND inverse, as
  * pure codegen'd column math.
  *
  * Engine-agreement discipline (b1's, extended): every stage is a
  * SHARED SQL string — the Spark side evaluates it with `expr`, the
  * DuckDB oracle inlines the same string in a WITH chain — so both
  * engines execute the identical IEEE754 expression tree. Hyperbolics
  * are spelled via exp/ln (DuckDB has no sinh/cosh/atanh), constants
  * are Scala-computed doubles interpolated with their shortest
  * round-trip representation (both parsers recover the exact double),
  * and only the FINAL coordinates are rounded (cm for meters, 1e-7
  * deg for angles) — intermediate rounding would multiply boundary
  * exposure, end-only rounding keeps the disagreement window at the
  * accumulated-ulp scale (~1e-9 relative) against a 1e-2/1e-7
  * boundary. The inverse reads the ROUNDED easting/northing, so both
  * engines start phase 2 from bit-identical inputs.
  *
  * At 100 TB: map-only, zero shuffles, whole-stage codegen'd — the
  * transform rides the ingest scan like the reference's ogr2ogr rides
  * its file copy, except distributed per-row instead of per-file.
  */
object GeoProj {

  // WGS84 + Krüger series constants (third flattening n)
  private[graft] val Fl   = 1.0 / 298.257223563
  private[graft] val N3   = Fl / (2.0 - Fl)
  private[graft] val Ecc  = math.sqrt(Fl * (2.0 - Fl))
  private[graft] val Arad = 6378137.0 / (1.0 + N3) * (1.0 + N3 * N3 / 4.0 + N3 * N3 * N3 * N3 / 64.0)
  private[graft] val K0A  = 0.9996 * Arad
  private[graft] val Al1  = N3 / 2.0 - 2.0 * N3 * N3 / 3.0 + 5.0 * N3 * N3 * N3 / 16.0
  private[graft] val Al2  = 13.0 * N3 * N3 / 48.0 - 3.0 * N3 * N3 * N3 / 5.0
  private[graft] val Al3  = 61.0 * N3 * N3 * N3 / 240.0
  private[graft] val Be1  = N3 / 2.0 - 2.0 * N3 * N3 / 3.0 + 37.0 * N3 * N3 * N3 / 96.0
  private[graft] val Be2  = N3 * N3 / 48.0 + N3 * N3 * N3 / 15.0
  private[graft] val Be3  = 17.0 * N3 * N3 * N3 / 480.0
  private[graft] val De1  = 2.0 * N3 - 2.0 * N3 * N3 / 3.0 - 2.0 * N3 * N3 * N3
  private[graft] val De2  = 7.0 * N3 * N3 / 3.0 - 8.0 * N3 * N3 * N3 / 5.0
  private[graft] val De3  = 56.0 * N3 * N3 * N3 / 15.0
  // sinh/cosh/atanh spelled in the exp/ln subset both engines share
  private def sh(u: String) = s"((exp($u) - exp(-($u))) / 2)"
  private def ch(u: String) = s"((exp($u) + exp(-($u))) / 2)"
  private def ath(x: String) = s"(0.5 * ln((1 + $x) / (1 - $x)))"

  // ---- shared stage strings (the single source of truth both
  //      engines execute) ----
  // round 13: ZONE- AND HEMISPHERE-PARAMETRIC — the source box spans
  // lon [0, 18) (UTM zones 31/32/33) AND lat [−80, 84), so both the
  // EPSG:326xx (north) and EPSG:327xx (south, false northing
  // 10 000 000 m) families execute; the central meridian is the
  // closed-form zone algebra 6·floor(lon/6)+3 and the false northing a
  // CASE on the declared hemisphere — per-row columns both engines
  // compute identically, instead of pinned constants. Real UTM data
  // spans zones and hemispheres; the Krüger chain was already
  // parametric in all but these constants.
  private val lonSrcS = s"(((${Synth.lonSql}) + 180.0) / 20.0)"
  private val latSrcS = s"(((${Synth.latSql}) + 85.0) * 0.9647 - 80.0)"
  private val lon0S   = "(6.0 * floor(lon_src / 6.0) + 3.0)"
  // the hemisphere is DECLARED data (the shapefile's EPSG code), not
  // peeked from the transform: rows carry it as the `south` column
  private val southS  = "(lat_src < 0)"
  private val fnS     = "(CASE WHEN south THEN 10000000.0 ELSE 0.0 END)"
  private val epsgS   =
    "CAST((CASE WHEN south THEN 32700 ELSE 32600 END) + floor(lon_src / 6.0) + 31 AS INT)"
  // the same family code straight off (lon_src, lat_src) — for plans
  // that route BEFORE the chain materializes the south column
  private val epsgUtmSrcS =
    """CAST((CASE WHEN lat_src < 0 THEN 32700 ELSE 32600 END)
        + floor(lon_src / 6.0) + 31 AS INT)"""
  private val sphiS   = "sin(radians(lat_src))"
  private val targS   = s"(${ath("sphi")} - $Ecc * ${ath(s"($Ecc * sphi)")})"
  private val ttS     = sh("targ")
  private val lamdS   = "radians(lon_src - lon0)"
  private val xipS    = "atan(tt / cos(lamd))"
  private val setaS   = "(sin(lamd) / sqrt(1 + tt * tt))"
  private val etapS   = ath("seta")
  private val eastS   =
    s"""round(500000.0 + $K0A * (etap
        + $Al1 * cos(2 * xip) * ${sh("(2 * etap)")}
        + $Al2 * cos(4 * xip) * ${sh("(4 * etap)")}
        + $Al3 * cos(6 * xip) * ${sh("(6 * etap)")}), 2)"""
  private val northS  =
    s"""round(fn + $K0A * (xip
        + $Al1 * sin(2 * xip) * ${ch("(2 * etap)")}
        + $Al2 * sin(4 * xip) * ${ch("(4 * etap)")}
        + $Al3 * sin(6 * xip) * ${ch("(6 * etap)")}), 2)"""
  // inverse — from the ROUNDED pair (bit-identical starting point),
  // stripping the declared hemisphere's false northing first
  private val xiS     = s"((northing - fn) / $K0A)"
  private val etaS    = s"((easting - 500000.0) / $K0A)"
  private val xip2S   =
    s"""(xi - ($Be1 * sin(2 * xi) * ${ch("(2 * eta)")}
             + $Be2 * sin(4 * xi) * ${ch("(4 * eta)")}
             + $Be3 * sin(6 * xi) * ${ch("(6 * eta)")}))"""
  private val etap2S  =
    s"""(eta - ($Be1 * cos(2 * xi) * ${sh("(2 * eta)")}
             + $Be2 * cos(4 * xi) * ${sh("(4 * eta)")}
             + $Be3 * cos(6 * xi) * ${sh("(6 * eta)")}))"""
  private val chiS    = s"asin(sin(xip2) / ${ch("etap2")})"
  private val latOutS =
    s"round(degrees(chi + $De1 * sin(2 * chi) + $De2 * sin(4 * chi) + $De3 * sin(6 * chi)), 7)"
  private val lonOutS =
    s"round(lon0 + degrees(atan(${sh("etap2")} / cos(xip2))), 7)"
  private val okS     =
    "(abs(lat_4326 - round(lat_src, 7)) < 0.000001 AND abs(lon_4326 - round(lon_src, 7)) < 0.000001)"

  /** b34 — `q_reproject_utm`: execute the reprojection b2's decision
    * matrix plans for its EPSG:32633 rows (ref processing.py:100-160 —
    * dataset2fgb's ogr2ogr -t_srs EPSG:4326 leg). Source coordinates
    * are synthesized in-zone (zones 31-33; lon0 = 6·floor(lon/6)+3 is
    * a per-row column) by the forward transform (lat/lon →
    * easting/northing, the data a UTM shapefile would carry), then the
    * inverse recovers EPSG:4326 — both directions exercised in one
    * plan, with a roundtrip gate proving the pair is mutually
    * consistent to ≪1e-6° (the forward/inverse series agree to
    * nanometers; the 1e-6 margin absorbs the cm rounding of the
    * stored easting/northing). */
  /** UTM stage chain over a DF carrying (…, lon_src, lat_src) —
    * appends easting/northing (forward) and lat_4326/lon_4326
    * (inverse from the rounded pair). */
  private def utmChain(df: DataFrame): DataFrame = {
    val stages = Seq("lon0" -> lon0S, "south" -> southS, "fn" -> fnS,
      "sphi" -> sphiS, "targ" -> targS, "tt" -> ttS,
      "lamd" -> lamdS, "xip" -> xipS, "seta" -> setaS, "etap" -> etapS,
      "easting" -> eastS, "northing" -> northS, "xi" -> xiS, "eta" -> etaS,
      "xip2" -> xip2S, "etap2" -> etap2S, "chi" -> chiS,
      "lat_4326" -> latOutS, "lon_4326" -> lonOutS)
    stages.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
  }

  /** The UTM WITH-chain as SQL, reading CTE `srcCte(…, lon_src,
    * lat_src)`; final stage name `u10` carries all output columns. */
  private def utmChainSql(srcCte: String): String =
    s"""u00 AS (SELECT *, $lon0S AS lon0, $southS AS south FROM $srcCte),
        u0 AS (SELECT *, $fnS AS fn FROM u00),
        u1 AS (SELECT *, $sphiS AS sphi FROM u0),
        u2 AS (SELECT *, $targS AS targ FROM u1),
        u3 AS (SELECT *, $ttS AS tt, $lamdS AS lamd FROM u2),
        u4 AS (SELECT *, $xipS AS xip, $setaS AS seta FROM u3),
        u5 AS (SELECT *, $etapS AS etap FROM u4),
        u6 AS (SELECT *, $eastS AS easting, $northS AS northing FROM u5),
        u7 AS (SELECT *, $xiS AS xi, $etaS AS eta FROM u6),
        u8 AS (SELECT *, $xip2S AS xip2, $etap2S AS etap2 FROM u7),
        u9 AS (SELECT *, $chiS AS chi FROM u8),
        u10 AS (SELECT *, $latOutS AS lat_4326, $lonOutS AS lon_4326 FROM u9)"""

  def qReprojectUtm(spark: SparkSession, dir: String): DataFrame = {
    utmChain(Tables.events(spark, dir)
        .where(col("event_id") % 5 === 3) // b2's UTM rows, zones 31-33 N+S
        .select(col("event_id"))
        .withColumn("lon_src", expr(lonSrcS))
        .withColumn("lat_src", expr(latSrcS)))
      .withColumn("utm_epsg", expr(epsgS))
      .withColumn("roundtrip_ok", expr(okS))
      .select("event_id", "utm_epsg", "easting", "northing", "lat_4326",
        "lon_4326", "roundtrip_ok")
      .orderBy("event_id")
  }

  val qReprojectUtmSql: String =
    s"""WITH s0 AS (
          SELECT event_id, $lonSrcS AS lon_src, $latSrcS AS lat_src
          FROM events WHERE event_id % 5 = 3),
        ${utmChainSql("s0")}
      SELECT event_id, $epsgS AS utm_epsg, easting, northing, lat_4326,
        lon_4326, $okS AS roundtrip_ok
      FROM u10 ORDER BY event_id"""

  // ---- b38: Lambert Conformal Conic 2SP (EPSG:2249) ---------------
  //
  // NAD83 / Massachusetts Mainland — the OTHER source CRS b2 plants
  // (event_id % 5 == 2). Closed forms are the standard LCC 2SP
  // equations (Snyder, "Map Projections — A Working Manual", USGS PP
  // 1395, public): m(φ) = cosφ/√(1−e²sin²φ), t(φ) = tan(π/4−φ/2) /
  // ((1−e sinφ)/(1+e sinφ))^(e/2), n = (ln m₁−ln m₂)/(ln t₁−ln t₂),
  // F = m₁/(n t₁ⁿ), ρ = aFtⁿ; forward x = ρ sin(nΔλ),
  // y = ρ₀ − ρ cos(nΔλ); inverse recovers φ from t' by the standard
  // fixpoint φ = π/2 − 2 atan(t'·((1−e sinφ)/(1+e sinφ))^(e/2)),
  // UNROLLED to 5 fixed iterations (each ~e²/2 ≈ 0.003 contraction ⇒
  // final error ≪ 1e-12 rad — far under the 1e-7° output rounding),
  // so both engines execute the identical finite expression tree.
  // GRS80 ellipsoid; grid coordinates in US SURVEY FEET (1200/3937 m
  // exactly), the unit EPSG:2249 actually serves.

  private[graft] val Fl80  = 1.0 / 298.257222101 // GRS80
  private[graft] val E80   = math.sqrt(Fl80 * (2.0 - Fl80))
  private[graft] val Lat1  = 42.0 + 41.0 / 60.0  // standard parallel 1
  private[graft] val Lat2  = 41.0 + 43.0 / 60.0  // standard parallel 2
  private[graft] val Lat0  = 41.0                // origin latitude
  private[graft] val LccLon0 = -71.5             // central meridian
  private[graft] val FtUs  = 1200.0 / 3937.0     // US survey foot in meters
  private[graft] val FE    = 200000.0 / FtUs     // false easting, ftUS
  private[graft] val FN    = 750000.0 / FtUs     // false northing, ftUS

  private def mOf(phi: Double): Double =
    math.cos(phi) / math.sqrt(1.0 - E80 * E80 * math.sin(phi) * math.sin(phi))
  private def tOf(phi: Double): Double =
    math.tan(math.Pi / 4.0 - phi / 2.0) /
      math.pow((1.0 - E80 * math.sin(phi)) / (1.0 + E80 * math.sin(phi)), E80 / 2.0)
  private[graft] val NLcc =
    (math.log(mOf(math.toRadians(Lat1))) - math.log(mOf(math.toRadians(Lat2)))) /
      (math.log(tOf(math.toRadians(Lat1))) - math.log(tOf(math.toRadians(Lat2))))
  private[graft] val FLcc = mOf(math.toRadians(Lat1)) /
    (NLcc * math.pow(tOf(math.toRadians(Lat1)), NLcc))
  private[graft] val AF   = 6378137.0 / FtUs * FLcc // aF in ftUS
  private[graft] val Rho0 = AF * math.pow(tOf(math.toRadians(Lat0)), NLcc)

  // per-row stages (shared strings; sin/cos/tan/atan/power/ln/sqrt —
  // the dialect-common subset; no hyperbolics needed here)
  private val lccLonS = s"(-73.5 + ((${Synth.lonSql}) + 180.0) / 120.0)"
  private val lccLatS = s"(41.0 + ((${Synth.latSql}) + 85.0) / 85.0)"
  private val phiS    = "radians(lat_src)"
  private val tfS     =
    s"""(tan(${math.Pi / 4.0} - phi / 2)
        / power((1 - $E80 * sin(phi)) / (1 + $E80 * sin(phi)), ${E80 / 2.0}))"""
  private val rhoS    = s"($AF * power(tf, $NLcc))"
  private val thS     = s"($NLcc * radians(lon_src - ($LccLon0)))"
  private val lccES   = s"round($FE + rho * sin(th), 2)"
  private val lccNS   = s"round($FN + $Rho0 - rho * cos(th), 2)"
  // inverse from the ROUNDED pair (n > 0 here, so ρ' is the plain root)
  private val rxS     = s"(easting_ft - $FE)"
  private val rhyS    = s"($Rho0 - (northing_ft - $FN))"
  private val rhopS   = "sqrt(rx * rx + rhy * rhy)"
  private val tpS     = s"power(rhop / $AF, ${1.0 / NLcc})"
  private val lonOutLccS = s"round($LccLon0 + degrees(atan(rx / rhy) / $NLcc), 7)"
  // φ fixpoint, 5 unrolled steps from the spherical seed
  private def phiStep(prev: String): String =
    s"""(${math.Pi / 2.0} - 2 * atan(tp
        * power((1 - $E80 * sin($prev)) / (1 + $E80 * sin($prev)), ${E80 / 2.0})))"""
  private val phi0S = s"(${math.Pi / 2.0} - 2 * atan(tp))"
  private val latOutLccS = s"round(degrees(${phiStep("ph4")}), 7)"
  private val lccOkS =
    "(abs(lat_4326 - round(lat_src, 7)) < 0.000001 AND abs(lon_4326 - round(lon_src, 7)) < 0.000001)"

  /** b38 — `q_reproject_lcc`: the Lambert Conformal Conic leg of b2's
    * decision matrix (its EPSG:2249 rows — NAD83 / Massachusetts
    * Mainland in US survey feet): forward LCC 2SP synthesizes the
    * state-plane grid coordinates a 2249 shapefile carries, the
    * inverse recovers EPSG:4326 (dataset2fgb's ogr2ogr leg for
    * state-plane sources, ref processing.py:100-160), roundtrip-gated
    * ≪ 1e-6°. Same engine-agreement construction as b34; the grid
    * math additionally proves the US-survey-foot unit handling
    * (1200/3937 m exactly — folded into the Scala-computed aF/FE/FN
    * constants both engines parse identically). Map-only. */
  /** LCC stage chain over a DF carrying (…, lon_src, lat_src). */
  private def lccChain(df: DataFrame): DataFrame = {
    val stages = Seq("phi" -> phiS, "tf" -> tfS, "rho" -> rhoS, "th" -> thS,
      "easting_ft" -> lccES, "northing_ft" -> lccNS, "rx" -> rxS,
      "rhy" -> rhyS, "rhop" -> rhopS, "tp" -> tpS, "ph0" -> phi0S,
      "ph1" -> phiStep("ph0"), "ph2" -> phiStep("ph1"),
      "ph3" -> phiStep("ph2"), "ph4" -> phiStep("ph3"),
      "lat_4326" -> latOutLccS, "lon_4326" -> lonOutLccS)
    stages.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
  }

  /** The LCC WITH-chain as SQL, reading CTE `srcCte(…, lon_src,
    * lat_src)`; final stage name `l13` carries all output columns. */
  private def lccChainSql(srcCte: String): String =
    s"""l1 AS (SELECT *, $phiS AS phi FROM $srcCte),
        l2 AS (SELECT *, $tfS AS tf FROM l1),
        l3 AS (SELECT *, $rhoS AS rho, $thS AS th FROM l2),
        l4 AS (SELECT *, $lccES AS easting_ft, $lccNS AS northing_ft FROM l3),
        l5 AS (SELECT *, $rxS AS rx, $rhyS AS rhy FROM l4),
        l6 AS (SELECT *, $rhopS AS rhop FROM l5),
        l7 AS (SELECT *, $tpS AS tp FROM l6),
        l8 AS (SELECT *, $phi0S AS ph0 FROM l7),
        l9 AS (SELECT *, ${phiStep("ph0")} AS ph1 FROM l8),
        l10 AS (SELECT *, ${phiStep("ph1")} AS ph2 FROM l9),
        l11 AS (SELECT *, ${phiStep("ph2")} AS ph3 FROM l10),
        l12 AS (SELECT *, ${phiStep("ph3")} AS ph4 FROM l11),
        l13 AS (SELECT *, $latOutLccS AS lat_4326, $lonOutLccS AS lon_4326 FROM l12)"""

  def qReprojectLcc(spark: SparkSession, dir: String): DataFrame = {
    lccChain(Tables.events(spark, dir)
        .where(col("event_id") % 5 === 2) // b2's EPSG:2249 rows
        .select(col("event_id"))
        .withColumn("lon_src", expr(lccLonS))
        .withColumn("lat_src", expr(lccLatS)))
      .withColumn("roundtrip_ok", expr(lccOkS))
      .select("event_id", "easting_ft", "northing_ft", "lat_4326", "lon_4326",
        "roundtrip_ok")
      .orderBy("event_id")
  }

  val qReprojectLccSql: String =
    s"""WITH s0 AS (
          SELECT event_id, $lccLonS AS lon_src, $lccLatS AS lat_src
          FROM events WHERE event_id % 5 = 2),
        ${lccChainSql("s0")}
      SELECT event_id, easting_ft, northing_ft, lat_4326, lon_4326,
        $lccOkS AS roundtrip_ok
      FROM l13 ORDER BY event_id"""

  /** LCC forward chain over a `lcc_probe(lat_src, lon_src)` temp view
    * — GeoInvariantsSpec's anchor (grid origin (41°, −71.5°) maps to
    * exactly (FE, FN) = (656166.67, 2460625.00) ftUS — EPSG:2249's
    * published false origin). */
  val lccProbeSql: String =
    s"""WITH s1 AS (SELECT lat_src, lon_src, $phiS AS phi FROM lcc_probe),
        s2 AS (SELECT *, $tfS AS tf FROM s1),
        s3 AS (SELECT *, $rhoS AS rho, $thS AS th FROM s2)
      SELECT lat_src, $lccES AS easting_ft, $lccNS AS northing_ft FROM s3"""

  /** Forward chain over a `utm_probe(lat_src, lon_src)` temp view —
    * GeoInvariantsSpec's anchor probe (central meridian → E=500000,
    * equator → N=0, 45°N → k0 × the published meridian arc). */
  val probeSql: String =
    s"""WITH s00 AS (SELECT lat_src, lon_src, $lon0S AS lon0, $southS AS south FROM utm_probe),
        s0 AS (SELECT *, $fnS AS fn FROM s00),
        s1 AS (SELECT *, $sphiS AS sphi FROM s0),
        s2 AS (SELECT *, $targS AS targ FROM s1),
        s3 AS (SELECT *, $ttS AS tt, $lamdS AS lamd FROM s2),
        s4 AS (SELECT *, $xipS AS xip, $setaS AS seta FROM s3),
        s5 AS (SELECT *, $etapS AS etap FROM s4)
      SELECT lat_src, lon_src, $eastS AS easting, $northS AS northing FROM s5"""

  // ---- b39: the reprojection DISPATCH capstone ---------------------

  // spherical WebMercator pair (b1's forward verbatim; the inverse is
  // its closed form — exp/atan, shared strings, cm-rounded forward)
  private[graft] val RadPerM = 6378137.0 * math.Pi / 180.0
  private val mercXS = s"round(lon_src * $RadPerM, 2)"
  private val mercYS =
    s"round(6378137.0 * ln(tan(${math.Pi / 4.0} + radians(lat_src) / 2)), 2)"
  private val mercLonS = s"round(merc_x / $RadPerM, 7)"
  private val mercLatS =
    s"round(degrees(2 * atan(exp(merc_y / 6378137.0)) - ${math.Pi / 2.0}), 7)"

  /** b39 — `q_reproject_dispatch`: b2's decision matrix EXECUTING (the
    * full dataset2fgb behavior — decide per layer, then actually run
    * the transform; ref processing.py:36-61 decides, 100-160 executes
    * ogr2ogr): every event row routes to its source CRS's transform
    * and comes out in EPSG:4326 —
    *  - 4326 rows pass through (never reprojected, b2 rule 1);
    *  - 3857 rows ride b1's spherical WebMercator pair (forward
    *    synthesizes the stored meters, the closed-form inverse
    *    recovers degrees);
    *  - 32633 rows ride b34's Krüger chain;
    *  - 2249 rows ride b38's LCC 2SP chain;
    *  - no-authority rows (src_epsg = −1) pass through when the
    *    IsSame probe vouches for them, else fail to the dead-letter
    *    verdict with NULL coordinates (b2 rule 3 — the `int(None)`
    *    path the reference raises on).
    * Shape (round 13): ONE scan of events with CASE-routed map-only
    * chains — the previous five filtered-UNION arms were 5 FULL SCANS
    * (mod-5 predicates prune nothing in parquet; at 100 TB the scan IS
    * the cost). Each branch's (lon_src, lat_src) synthesizes under its
    * `event_id % 5 = k` guard and is NULL elsewhere, so the unused
    * chain math NULL-propagates for free; the UTM and LCC chains run
    * sequentially over their own guarded source redefinition (stage
    * column names are disjoint; the two chains' lat_4326/lon_4326
    * outputs rename apart), and the final columns CASE-route per
    * branch. Zero joins, zero aggregates, ONE FileScan (plan-asserted
    * in PlanAuditSpec), one exchange for the ORDER BY. Oracle: the
    * four chains UNION ALL'd — structurally independent machinery. */
  def qReprojectDispatch(spark: SparkSession, dir: String): DataFrame =
    dispatched(spark, dir).orderBy("event_id")

  /** The dispatch core without the presentation ORDER BY — shared by
    * b39, b40's rollup, and b28's full-order vector capstone (route →
    * reproject → makevalid → tile in ONE plan). `keep` carries real
    * event columns (e.g. user_id) through for downstream stages. */
  private[graft] def dispatched(spark: SparkSession, dir: String,
      keep: Seq[String] = Nil): DataFrame = {
    // transform legs ride the codegen'd graft_reproject kernel — ONE
    // compiled method per row. The declarative fusion of all three
    // chains in one projection produced a 13 KB-bytecode consume
    // method HotSpot refuses to JIT (the stage columns live in codegen
    // locals, so Spark cannot method-split them); the kernel
    // transcribes the SAME stage strings (bit-identical, pinned by
    // GeoInvariantsSpec against the b34/b38 template chains) and keeps
    // the single scan fast.
    val noAuthLon = s"CASE WHEN event_id % 2 = 0 THEN round(${Synth.lonSql}, 7) END"
    val noAuthLat = s"CASE WHEN event_id % 2 = 0 THEN round(${Synth.latSql}, 7) END"
    Tables.events(spark, dir)
      .select((col("event_id") +: keep.map(col)): _*)
      .withColumn("lon_src", expr(s"""CASE CAST(event_id % 5 AS INT)
          WHEN 1 THEN (${Synth.lonSql})
          WHEN 2 THEN $lccLonS WHEN 3 THEN $lonSrcS END"""))
      .withColumn("lat_src", expr(s"""CASE CAST(event_id % 5 AS INT)
          WHEN 1 THEN (greatest(least(${Synth.latSql}, 85.05112878), -85.05112878))
          WHEN 2 THEN $lccLatS WHEN 3 THEN $latSrcS END"""))
      .withColumn("rp", expr("graft_reproject(event_id % 5, lon_src, lat_src)"))
      .select((Seq(
        col("event_id")) ++ keep.map(col) ++ Seq(
        // branch 3's declared code is the per-row UTM family member
        // (zone + hemisphere), not a pinned 32633
        expr(s"""CASE CAST(event_id % 5 AS INT)
            WHEN 0 THEN 4326 WHEN 1 THEN 3857
            WHEN 2 THEN 2249
            WHEN 3 THEN ($epsgUtmSrcS)
            ELSE -1 END""").as("src_epsg"),
        expr("""CASE CAST(event_id % 5 AS INT)
            WHEN 0 THEN 'none' WHEN 1 THEN 'webmercator_inverse'
            WHEN 2 THEN 'lcc_2sp' WHEN 3 THEN 'tm_krueger'
            ELSE CASE WHEN event_id % 2 = 0 THEN 'is_same_passthrough'
                      ELSE 'failed_no_authority' END END""").as("method"),
        expr(s"""CASE CAST(event_id % 5 AS INT)
            WHEN 0 THEN round(${Synth.lonSql}, 7)
            WHEN 4 THEN $noAuthLon ELSE rp[0] END""").as("lon_4326"),
        expr(s"""CASE CAST(event_id % 5 AS INT)
            WHEN 0 THEN round(${Synth.latSql}, 7)
            WHEN 4 THEN $noAuthLat ELSE rp[1] END""").as("lat_4326"))): _*)
  }

  /** The dispatch's DuckDB WITH-body (the independent UNION-of-chains
    * machinery), parameterized on extra pass-through event columns —
    * b28's capstone oracle carries user_id. Returns the body WITHOUT a
    * final ORDER BY so callers can wrap it as a CTE. */
  /** The dispatch's chain CTE list and its UNION select, SEPARATELY —
    * so a caller whose own WITH is RECURSIVE (b45 needs the hilbert
    * recursion) can splice them into ONE flat CTE list (DuckDB rejects
    * a nested WITH inside a WITH RECURSIVE member's body). */
  private[graft] def dispatchedSqlParts(keep: Seq[String] = Nil): (String, String) = {
    val k = keep.map(c => s", $c").mkString
    val ctes = s"""lsrc AS (
          SELECT event_id$k, $lccLonS AS lon_src, $lccLatS AS lat_src
          FROM events WHERE event_id % 5 = 2),
        ${lccChainSql("lsrc")},
        usrc AS (
          SELECT event_id$k, $lonSrcS AS lon_src, $latSrcS AS lat_src
          FROM events WHERE event_id % 5 = 3),
        ${utmChainSql("usrc")},
        msrc AS (
          SELECT event_id$k, (${Synth.lonSql}) AS lon_src,
            (greatest(least(${Synth.latSql}, 85.05112878), -85.05112878)) AS lat_src
          FROM events WHERE event_id % 5 = 1),
        m1 AS (SELECT *, $mercXS AS merc_x, $mercYS AS merc_y FROM msrc)"""
    val union = s"""SELECT event_id$k, 4326 AS src_epsg, 'none' AS method,
        round(${Synth.lonSql}, 7) AS lon_4326, round(${Synth.latSql}, 7) AS lat_4326
      FROM events WHERE event_id % 5 = 0
      UNION ALL
      SELECT event_id$k, 3857, 'webmercator_inverse', $mercLonS, $mercLatS FROM m1
      UNION ALL
      SELECT event_id$k, 2249, 'lcc_2sp', lon_4326, lat_4326 FROM l13
      UNION ALL
      SELECT event_id$k, $epsgUtmSrcS, 'tm_krueger', lon_4326, lat_4326 FROM u10
      UNION ALL
      SELECT event_id$k, -1,
        CASE WHEN event_id % 2 = 0 THEN 'is_same_passthrough'
             ELSE 'failed_no_authority' END,
        CASE WHEN event_id % 2 = 0 THEN round(${Synth.lonSql}, 7) END,
        CASE WHEN event_id % 2 = 0 THEN round(${Synth.latSql}, 7) END
      FROM events WHERE event_id % 5 = 4"""
    (ctes, union)
  }

  /** The dispatch as one self-contained WITH body (no final ORDER BY —
    * callers may wrap it as a CTE, as long as THEIR with-list is not
    * RECURSIVE; recursive callers splice [[dispatchedSqlParts]]). */
  private[graft] def dispatchedSql(keep: Seq[String] = Nil): String = {
    val (ctes, union) = dispatchedSqlParts(keep)
    s"WITH $ctes\n      $union"
  }

  val qReprojectDispatchSql: String =
    dispatchedSql() + "\n      ORDER BY event_id"

  /** b40 — `q_reproject_audit`: the QA rollup over b39's dispatch
    * (b8's feature-count gate, for the reprojection leg — the
    * reference errors a layer whose converted count disagrees;
    * processing.py:160-181): per (src_epsg, method) the routed row
    * count, how many produced coordinates, how many dead-lettered,
    * and the 4326-range check on the produced coordinates (every
    * transform must land in lon ∈ [−180, 180], lat ∈ [−90, 90] —
    * a cheap corruption tripwire a 100 TB pipeline keeps on always).
    * One bounded agg over the map-only dispatch. */
  def qReprojectAudit(spark: SparkSession, dir: String): DataFrame = {
    dispatched(spark, dir)
      .groupBy("src_epsg", "method")
      .agg(count(lit(1)).as("n_routed"),
        sum(when(col("lon_4326").isNotNull, 1L).otherwise(0L)).as("n_converted"),
        sum(when(col("lon_4326").isNull, 1L).otherwise(0L)).as("n_dead_letter"),
        sum(when(col("lon_4326").between(-180.0, 180.0) &&
          col("lat_4326").between(-90.0, 90.0), 1L).otherwise(0L)).as("n_in_range"))
      .withColumn("range_ok", col("n_in_range") === col("n_converted"))
      .orderBy("src_epsg", "method")
  }

  val qReprojectAuditSql: String = {
    val inner = qReprojectDispatchSql.replace("ORDER BY event_id", "")
    s"""WITH d AS ($inner)
      SELECT src_epsg, method, COUNT(*) AS n_routed,
        CAST(SUM(CASE WHEN lon_4326 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        CAST(SUM(CASE WHEN lon_4326 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_letter,
        CAST(SUM(CASE WHEN lon_4326 BETWEEN -180 AND 180
                       AND lat_4326 BETWEEN -90 AND 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range,
        CAST(SUM(CASE WHEN lon_4326 BETWEEN -180 AND 180
                       AND lat_4326 BETWEEN -90 AND 90 THEN 1 ELSE 0 END) AS BIGINT)
          = CAST(SUM(CASE WHEN lon_4326 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS range_ok
      FROM d GROUP BY src_epsg, method ORDER BY src_epsg, method"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_reproject_utm", qReprojectUtm, Oracle(qReprojectUtmSql)),
    Query("q_reproject_lcc", qReprojectLcc, Oracle(qReprojectLccSql)),
    Query("q_reproject_dispatch", qReprojectDispatch, Oracle(qReprojectDispatchSql)),
    Query("q_reproject_audit", qReprojectAudit, Oracle(qReprojectAuditSql)))
}
