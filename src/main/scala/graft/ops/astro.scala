package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Det._
import Params._

/** Astronomy-shaped operators (SURVEY §2.9 udf_angular_distance, §2.10
  * astro_crossmatch_zones) — the upstream reference is a PySpark astronomy
  * analysis (SURVEY §0.2), so these carry its cone-search / catalog
  * cross-match semantics. Coordinates are synthesized deterministically
  * from integer keys (exact modular arithmetic in both engines).
  *
  * The haversine is pure `Column` trig — codegen'd, Catalyst-optimizable;
  * a black-box UDF registration of the same formula is exercised in
  * AstroSuite to cover the UDF API without putting a codegen barrier on
  * the scored path.
  *
  * 100-TB note: the zones algorithm is the scale pattern for any
  * metric-blocked join (sky cross-match, embedding ANN): block into
  * 1-degree declination zones, explode the smaller side into ±1 adjacent
  * zones, equi-join on zone, then exact-filter. Shuffle is by zone key;
  * candidate count is (pairs within zone), not n².
  */
object Astro {

  /** Haversine angular separation in degrees between two (ra, dec) pairs
    * given in degrees. Same operation tree as the SQL spelling below. */
  def angularDist(ra1: Column, dec1: Column, ra2: Column, dec2: Column): Column = {
    val dDec = radians(dec2 - dec1) / 2
    val dRa = radians(ra2 - ra1) / 2
    degrees(asin(sqrt(
      sin(dDec) * sin(dDec) +
        cos(radians(dec1)) * cos(radians(dec2)) * sin(dRa) * sin(dRa))) * 2)
  }

  /** SQL spelling of [[angularDist]] — identical IEEE operation order. */
  def sqlAngularDist(ra1: String, dec1: String, ra2: String, dec2: String): String =
    s"DEGREES(ASIN(SQRT(" +
      s"SIN(RADIANS(($dec2) - ($dec1)) / 2) * SIN(RADIANS(($dec2) - ($dec1)) / 2) + " +
      s"COS(RADIANS($dec1)) * COS(RADIANS($dec2)) * " +
      s"SIN(RADIANS(($ra2) - ($ra1)) / 2) * SIN(RADIANS(($ra2) - ($ra1)) / 2))) * 2)"

  // Synthesized catalogs: exact integer arithmetic, then one /10.0 step.
  private def raOf(key: Column, m: Int): Column = (key * m % 3600) / lit(10.0)
  private def decOf(key: Column, m: Int): Column =
    (key * m % 1700) / lit(10.0) - lit(85.0)
  private def sqlRa(key: String, m: Int) = s"(($key) * $m % 3600) / 10.0"
  private def sqlDec(key: String, m: Int) = s"(($key) * $m % 1700) / 10.0 - 85.0"

  /** Cone search: per-row angular distance to a fixed center, keep < 5°.
    * Not fanned. The r19 spelling fanned the scan (a stock
    * `repartition` on l_orderkey) to spread the trig, but Catalyst
    * pushed the cone filter — trig and all — back under the exchange
    * into the scan tasks, so the trig never ran after the shuffle and
    * the exchange only moved the surviving rows. With `T.fan` now a
    * FanOut node that the filter cannot cross, the trig would run on
    * every core, but the exchange must then ship all 600 k raw rows of
    * the ×10 lineitem first: at 4 cores that costs more than the trig it
    * spreads (paired runs, CHANGES.md). The scan's own splits carry it. */
  private def udfAngularDistance(s: SparkSession, dir: String): DataFrame = {
    val ra = raOf(col("l_orderkey") * 37 + col("l_partkey") * 17, 1)
    val dec = decOf(col("l_orderkey") * 53 + col("l_suppkey") * 29, 1)
    val d = angularDist(ra, dec, lit(184.0), lit(12.5))
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        ra.as("ra"), dec.as("dec"), d.as("dist"))
      .where(col("dist") < ConeDeg)
      .select(col("l_orderkey"), col("l_linenumber"), col("ra"), col("dec"),
        dround(col("dist"), 6).as("dist_deg"))
      // (l_orderkey, l_linenumber) is not unique in the fixtures (×100
      // gate, round 10) — extend to a total order over the outputs
      .orderBy("l_orderkey", "l_linenumber", "ra", "dec", "dist_deg")
  }

  /** Zones-algorithm catalog cross-match (orders-catalog × customer-catalog,
    * 1° declination zones, ±1 zone probe, ε = 0.5°).
    *
    * RA blocking is 1° bands with a PER-ROW adaptive probe radius
    * k(dec) = ⌈asin(sin ε / cos(min(|dec|+ε, 85°)))⌉ — the rigorous
    * zones-algorithm RA bound, so a source probes ±1 band near the
    * equator and up to ±6 only in the last polar zones. The round-9
    * spelling (fixed 6° bands, ±1) was equally sound but probed a
    * 3°×18° window for every source: at ×100 that enumerated ~2×10¹⁰
    * candidate pairs and — because the join's shuffle INPUT is small —
    * AQE coalesced the pair scoring onto a couple of tasks (observed:
    * one core busy for 13+ min, the full-inventory ×100 gate's first
    * catch). Adaptive 1° bands cut candidates ~4×, and the explicit
    * repartition on the join keys (AQE-coalesce-exempt, partitioning
    * reused by the join — same fix as llm_dedup_embed, SCALING.md) keeps
    * the trig spread over every core. The output itself is Θ(n_a·n_b)
    * at fixed sky area — the astronomy answer is pair-density-bound —
    * but candidates now track matches within a small constant.
    * The oracle mirrors the same lateral band explode; both sides only
    * need SOUND candidate generation (the exact ε-filter decides
    * membership), so engine/oracle ceil ulp differences cannot change
    * the result, only a candidate count. */
  private def astroCrossmatchZones(s: SparkSession, dir: String): DataFrame = {
    val P = s.sessionState.conf.numShufflePartitions * 2
    val a = T(s, dir, "orders").select(
      col("o_orderkey").as("a_id"),
      raOf(col("o_orderkey"), 97).as("ra_a"),
      decOf(col("o_orderkey"), 61).as("dec_a"))
      .withColumn("zone", floor(col("dec_a")))
      .withColumn("ra_zone", floor(col("ra_a")))
      .repartition(P, col("zone"), col("ra_zone"))
    // k = rigorous RA band radius at this declination (+1e-9: a ceil
    // boundary ulp can only ADD a candidate band, never drop one)
    val kBands = ceil(degrees(asin(
      sin(radians(lit(ZoneEps))) /
        cos(radians(least(abs(col("dec_b")) + lit(ZoneEps), lit(85.0)))))) + lit(1e-9))
      .cast("long")
    val b = T(s, dir, "customer").select(
      col("c_custkey").as("b_id"),
      raOf(col("c_custkey"), 71).as("ra_b"),
      decOf(col("c_custkey"), 41).as("dec_b"))
      .withColumn("k", kBands)
      .withColumn("doff", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("zone_probe", col("doff") + floor(col("dec_b")))
      .withColumn("roff", explode(sequence(-col("k"), col("k"))))
      .withColumn("ra_zone_probe", pmod(col("roff") + floor(col("ra_b")), lit(360)))
      .repartition(P, col("zone_probe"), col("ra_zone_probe"))
    val d = angularDist(col("ra_a"), col("dec_a"), col("ra_b"), col("dec_b"))
    // shuffled-hash hint: the join consumes both repartitions as they
    // are (same keys, same P) and hashes one orders partition per task;
    // AQE would otherwise broadcast a side. Why that partition fits at
    // ×100: SCALING.md §Joins.
    a.hint("shuffle_hash").join(b, col("zone") === col("zone_probe") &&
        col("ra_zone") === col("ra_zone_probe"))
      .withColumn("dist", d)
      .where(col("dist") < ZoneEps)
      .select(col("a_id"), col("b_id"), dround(col("dist"), 6).as("dist_deg"))
      .orderBy("a_id", "b_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udf_angular_distance" -> (udfAngularDistance _),
    "astro_crossmatch_zones" -> (astroCrossmatchZones _),
  )

  val oracle: Map[String, String] = Map(
    "udf_angular_distance" -> {
      val ra = sqlRa("l_orderkey * 37 + l_partkey * 17", 1)
      val dec = sqlDec("l_orderkey * 53 + l_suppkey * 29", 1)
      val d = sqlAngularDist(ra, dec, "184.0", "12.5")
      s"""SELECT l_orderkey, l_linenumber, ra, dec, ${sqlRound("dist", 6)} AS dist_deg
         |FROM (
         | SELECT l_orderkey, l_linenumber,
         |  $ra AS ra, $dec AS dec, $d AS dist
         | FROM lineitem)
         |WHERE dist < $ConeDeg
         |ORDER BY l_orderkey, l_linenumber, ra, dec, dist_deg""".stripMargin
    },
    "astro_crossmatch_zones" -> {
      val d = sqlAngularDist("ra_a", "dec_a", "ra_b", "dec_b")
      s"""WITH acat AS (
         | SELECT o_orderkey AS a_id, ${sqlRa("o_orderkey", 97)} AS ra_a,
         |  ${sqlDec("o_orderkey", 61)} AS dec_a FROM orders),
         |bcat AS (
         | SELECT c_custkey AS b_id, ${sqlRa("c_custkey", 71)} AS ra_b,
         |  ${sqlDec("c_custkey", 41)} AS dec_b FROM customer),
         |bk AS (
         | SELECT *, CAST(CEIL(DEGREES(ASIN(SIN(RADIANS($ZoneEps)) /
         |   COS(RADIANS(LEAST(ABS(dec_b) + $ZoneEps, 85.0))))) + 1e-9) AS BIGINT) AS k
         | FROM bcat),
         |bprobe AS (
         | SELECT b_id, ra_b, dec_b,
         |  CAST(FLOOR(dec_b) AS BIGINT) + doff AS zone_probe,
         |  ((CAST(FLOOR(ra_b) AS BIGINT) + roff) % 360 + 360) % 360 AS ra_zone_probe
         | FROM bk,
         |  UNNEST([CAST(-1 AS BIGINT), 0, 1]) AS t1(doff),
         |  UNNEST(generate_series(-k, k)) AS t2(roff))
         |SELECT a_id, b_id, ${sqlRound("dist", 6)} AS dist_deg
         |FROM (
         | SELECT a.a_id, b.b_id, $d AS dist
         | FROM acat a JOIN bprobe b
         |   ON CAST(FLOOR(a.dec_a) AS BIGINT) = b.zone_probe
         |  AND CAST(FLOOR(a.ra_a) AS BIGINT) = b.ra_zone_probe)
         |WHERE dist < $ZoneEps
         |ORDER BY a_id, b_id""".stripMargin
    },
  )
}
