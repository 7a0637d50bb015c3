package graft.operators

import graft.Rnd.rnd
import graft.{QDef, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** §2.4 Aggregations.
  *
  * Scale notes (100 TB): every query here is a hash aggregate with map-side
  * partial aggregation — Spark's HashAggregateExec emits partial aggregates
  * before the shuffle, so shuffle volume is O(groups × partitions), not
  * O(rows). Group-by keys are low-cardinality (returnflag × linestatus,
  * event_type, custkey), so the final exchange is tiny at any scale.
  * Double-typed outputs are rounded at a scale where the rounding grid is
  * several orders of magnitude above FP merge-order noise (SURVEY §7.4).
  */
object Aggregates {

  /** Audience membership rows for the theta-sketch family: one (id, aud)
    * row per audience an active customer-month belongs to. Audience "a" =
    * customer-months in Jan–Aug, "b" = Jun–Dec — genuinely overlapping
    * sets with a non-trivial difference at every fixture scale. */
  private[graft] def thetaAudiences(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    T.orders(s, dir)
      .select((col("o_custkey") * 100L + month(col("o_orderdate"))).as("id"),
        month(col("o_orderdate")).as("m"))
      .select(col("id"), explode(array(
        when(col("m").between(1, 8), lit("a")),
        when(col("m").between(6, 12), lit("b")))).as("aud"))
      .where(col("aud").isNotNull)

  /** Relational theta/KMV sketch state: the bottom-`k` DISTINCT 62-bit
    * hash values per audience, as plain (aud, hv, rk) rows. One corpus
    * pass with map-side partial aggregation builds the distinct set; the
    * bottom-k window then DOES re-exchange on `aud` (HashPartitioning
    * (aud, hv) does not satisfy ClusteredDistribution(aud) — satisfaction
    * needs the partitioning exprs to be a SUBSET of the window keys), but
    * the rank-≤-k filter triggers WindowGroupLimit's partial mode, so each
    * map task ships only its local bottom-k per audience: the exchange
    * carries O(audiences · k · tasks) rows, never the full distinct set.
    * Mergeable by construction: a global
    * bottom-k element is inside every shard's bottom-k, so shard-union +
    * re-rank ≡ direct (the ApproxSpec law). */
  private[graft] def thetaSamples(aud: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("aud").orderBy("hv")
    aud
      .select(col("aud"), pmod(xxhash64(col("id")), lit(1L << 62)).as("hv"))
      .groupBy("aud", "hv").agg(count(lit(1)).as("c")).drop("c")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Deterministic per-point photometric uncertainty proxy [PK — survey
    * photometry is Poisson-limited: σ_flux ∝ √flux]: σ_v = 0.02·√v. The
    * `events` fixture carries no error column; real survey pipelines
    * propagate per-point errors, so this DOCUMENTED proxy threads the
    * weighted forms of the lc statistics end to end (Stetson 1996's actual
    * error-normalized J/K in `lc_stetson`; `lc_alerts`' z against the
    * variance-weighted baseline with the point's own error in quadrature)
    * with cross-engine-identical arithmetic. Magnitude-space error by
    * propagation through m = −2.5·log10(v) + 25:
    * σ_m = (2.5/ln 10)·σ_v/v — both engines fold the same constants and
    * apply the same IEEE op sequence, so the doubles agree bit-for-bit
    * before any rounding. */
  private def fluxErr(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = lit(0.02) * sqrt(v)

  /** Magnitude-space per-point error: (2.5/ln 10)·σ_v/v (see [[fluxErr]]). */
  private def magErr(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (lit(2.5) / log(lit(10.0))) * fluxErr(v) / v

  /** Best trial period per object by phase-dispersion minimization — shared
    * by `lc_periods` (which emits it) and `lc_fold` (which folds the curve
    * at it). See the lc_periods QDef comment for the algorithm and the
    * engine-parity design. */
  private def bestPeriods(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val nBins = 8L
    val t = T.events(s, dir)
      .where(col("value") > 0.0)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("value"))
    val folded = t
      .withColumn("k", explode(sequence(lit(0L), lit(23L))))
      .withColumn("period_s", lit(43200L) + lit(21600L) * col("k"))
      .withColumn("bin", expr(s"((t % period_s) * $nBins) div period_s"))
    val bins = folded.groupBy("user_id", "period_s", "bin")
      .agg(count(lit(1)).as("n_b"), var_samp(col("value")).as("v_b"))
      .where(col("n_b") >= 2L)
    val pooled = bins.groupBy("user_id", "period_s")
      .agg(rnd(
        sum((col("n_b") - 1L) * col("v_b")) /
          sum(col("n_b") - 1L).cast("double"), 6).as("pdm_s2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("pdm_s2"), col("period_s"))
    pooled
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("period_s").as("best_period_s"), col("pdm_s2"))
  }

  private val bestPeriodsSql =
    """WITH t AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
      |  FROM events WHERE value > 0.0),
      |folded AS (
      |  SELECT user_id, 43200 + 21600 * g.k AS period_s,
      |    ((t % (43200 + 21600 * g.k)) * 8) // (43200 + 21600 * g.k) AS bin,
      |    value
      |  FROM t CROSS JOIN generate_series(0, 23) g(k)),
      |bins AS (
      |  SELECT user_id, period_s, bin, count(*) AS n_b, var_samp(value) AS v_b
      |  FROM folded GROUP BY user_id, period_s, bin
      |  HAVING count(*) >= 2),
      |pooled AS (
      |  SELECT user_id, period_s,
      |    floor((sum((n_b - 1) * v_b) / CAST(sum(n_b - 1) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS pdm_s2
      |  FROM bins GROUP BY user_id, period_s),
      |best AS (
      |  SELECT user_id, period_s AS best_period_s, pdm_s2
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY pdm_s2, period_s) AS rn
      |        FROM pooled)
      |  WHERE rn = 1)""".stripMargin

  // COARSE→ZOOM PERIOD REFINEMENT [PK — a real variable-star search scans
  // 10⁴–10⁵ trial frequencies (astropy LombScargle's auto grid); a flat
  // grid that dense is pure fan-out, so production period pipelines run
  // TWO stages: a coarse scan locates the optimum's neighborhood, a
  // per-object zoom grid around the coarse winner refines it — the
  // bounded-fan-out form of the dense search]. One skeleton serves the
  // four statistics (lc_period_zoom = PDM, lc_gls_zoom = sinusoid fit,
  // lc_bls_zoom = box, lc_ce_zoom = conditional entropy); each query
  // supplies only its injected waveform, its per-stage statistic, the
  // direction of its argmin/argmax, its output columns and its coarse
  // grid, and each QDef says why its own waveform is exact for its own
  // statistic.
  //
  // Calibration series: the true period is INJECTED OFF THE COARSE GRID.
  // Per object, the first 48 epochs (determinized (t, event_id) order)
  // are re-timed onto an exact 10300 s cadence and valued by the query's
  // waveform of the 8-bin fold phase at P_inj = home coarse point
  // (43200 or 64800) + k·180 s (k ∈ ±1..±4 by user hash, never 0 — P_inj
  // is never a coarse trial, so only the zoom stage can recover it). The
  // 10300 s cadence is calibrated, not arbitrary: it is incommensurate
  // with every injected period (a half-period cadence sampled only two
  // phase arcs, leaving distant trials tied at the statistic's optimum)
  // while wrapping often enough that every ±180 s zoom neighbor flips at
  // least one epoch's bin — verified exhaustive over all 8 injection
  // classes (the series depends on user_id only mod 8). The BOUNDED
  // series makes recovery scale-invariant: the same 48-epoch series folds
  // identically at every sf, so the coarse stage's partial-coherence
  // winner cannot drift with corpus size. Stage 2 scans center ± 60 ×
  // 180 s (121 trials — half the coarse spacing each side, so ANY true
  // period between grid points is reachable). Each statistic is rounded
  // ONCE at 1e-6 before its (statistic, trial) determinized argmin or
  // argmax — the family discipline — and recovery best == injected is
  // require'd in-query for every full-series object.
  // Scale: both fan-outs are map-side explodes collapsed by partial
  // aggregation (state bounded by objects × grid, never observations ×
  // grid post-shuffle); per-object zoom centers are aggregate-sized and
  // broadcast back onto the series — no corpus re-shuffle between
  // stages. A 10⁴-frequency production search is this same plan with a
  // denser zoom (or a third stage): fan-out stays grid-bounded.
  //
  // `stat(trials, keys)` scores every (keys) group of a frame carrying
  // (user_id, t, v, trial); `best` orders the per-object winner before
  // the trial tie-break; `outs` renames the statistic's columns for the
  // output; `coarse` = (last k, trial of k), by default the 24-point
  // grid 43200 + 21600·k of lc_periods, lc_gls and lc_ce; `prep` adds
  // per-object columns to the checkpointed series for both stages (the
  // census keeps reading the raw series).
  private def zoomSearch(s: SparkSession, dir: String, v: Column,
      stat: (DataFrame, Seq[String]) => DataFrame, best: Column,
      outs: Seq[(String, String)],
      coarse: (Long, Column => Column) =
        (23L, k => lit(43200L) + lit(21600L) * k),
      prep: DataFrame => DataFrame = identity): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy("user_id")
      .orderBy(col("t0").asc, col("event_id").asc)
    val series = T.events(s, dir)
      .where(col("value") > 0.0)
      .select(col("user_id"), col("event_id").cast("long").as("event_id"),
        unix_timestamp(col("ts")).as("t0"))
      .withColumn("rn", row_number().over(wOrd))
      .where(col("rn") <= 48L)
      .withColumn("t", (col("rn") - 1L).cast("long") * 10300L)
      .withColumn("p_inj",
        lit(43200L) + lit(21600L) * (col("user_id") % 2L) +
          lit(180L) * when(col("user_id") % 8L < 4L,
            col("user_id") % 8L - 4L)
            .otherwise(col("user_id") % 8L - 3L))
      .withColumn("v", v)
      .localCheckpoint() // 48 rows/object; feeds both stages + census
    val obs = prep(series)
    val wBest = W.partitionBy("user_id").orderBy(best, col("trial").asc)
    val (lastK, coarseTrial) = coarse
    val centers = stat(obs
        .withColumn("k", explode(sequence(lit(0L), lit(lastK))))
        .withColumn("trial", coarseTrial(col("k"))),
      Seq("user_id", "trial"))
      .withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("user_id"), col("trial").as("coarse_period_s"))
    val zoom = stat(obs
        .join(broadcast(centers), "user_id")
        .withColumn("j", explode(sequence(lit(-60L), lit(60L))))
        .withColumn("trial", col("coarse_period_s") + lit(180L) * col("j")),
      Seq("user_id", "coarse_period_s", "trial"))
    val inj = series.groupBy("user_id")
      .agg(count(lit(1)).as("n_epochs"),
        max("p_inj").as("injected_period_s"))
    val out = zoom
      .withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(Seq(col("user_id"), col("coarse_period_s"),
        col("trial").as("best_period_s")) ++
        outs.map { case (c, o) => col(c).as(o) }: _*)
      .join(inj, "user_id")
      .select((Seq("user_id", "n_epochs", "coarse_period_s",
        "best_period_s") ++ outs.map(_._2) :+ "injected_period_s")
        .map(col): _*)
      .localCheckpoint() // feeds the recovery law AND the output
      // (eager deliberately: measured faster than the lazy form,
      // which re-ran the zoom stage ~0.2 s slower per query)
    val bad = out.where(col("n_epochs") === 48L &&
      col("best_period_s") =!= col("injected_period_s")).count()
    require(bad == 0L,
      s"$bad full-series objects failed to recover their injected period")
    out.orderBy("user_id")
  }

  /** DuckDB reference for [[zoomSearch]], written independently in SQL:
    * the shared re-timed series (`obsv`), both trial fan-outs, the
    * centers, the census (`inj`) and the final argmin/argmax. `v` is the
    * waveform over (t, p_inj); `stat(p, from, keys)` returns the
    * statistic's CTEs over relation `from` (user_id, t, v, trial[,
    * coarse_period_s]) grouped by `keys`, prefixed `p` and ending in
    * `${p}stat`; `best` is the winner's ORDER BY before the trial
    * tie-break; `outs` the statistic's output select list; `coarse` the
    * coarse grid as (last k, trial of g.k); `pre` extra CTEs over `obsv`
    * that `stat` may read. */
  private def zoomSql(v: String, stat: (String, String, String) => String,
      best: String, outs: String,
      coarse: (Int, String) = (23, "43200 + 21600 * g.k"),
      pre: String = ""): String =
    s"""WITH t0 AS (
       |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t0
       |  FROM events WHERE value > 0.0),
       |obsv AS (
       |  SELECT user_id, t, p_inj, $v AS v
       |  FROM (
       |    SELECT user_id, (rn - 1) * 10300 AS t,
       |      43200 + 21600 * (user_id % 2) + 180 * (CASE
       |        WHEN user_id % 8 < 4 THEN user_id % 8 - 4
       |        ELSE user_id % 8 - 3 END) AS p_inj
       |    FROM (SELECT user_id, event_id, t0, row_number() OVER (
       |        PARTITION BY user_id ORDER BY t0, event_id) AS rn
       |      FROM t0)
       |    WHERE rn <= 48)),$pre
       |ctrials AS (
       |  SELECT o.user_id, o.t, o.v, ${coarse._2} AS trial
       |  FROM obsv o CROSS JOIN generate_series(0, ${coarse._1}) g(k)),
       |${stat("c", "ctrials", "user_id, trial")},
       |centers AS MATERIALIZED (
       |  SELECT user_id, trial AS coarse_period_s
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY $best, trial ASC) AS rn FROM cstat)
       |  WHERE rn = 1),
       |ztrials AS (
       |  SELECT o.user_id, o.t, o.v, c.coarse_period_s,
       |    c.coarse_period_s + 180 * g.j AS trial
       |  FROM obsv o JOIN centers c USING (user_id)
       |  CROSS JOIN generate_series(-60, 60) g(j)),
       |${stat("z", "ztrials", "user_id, coarse_period_s, trial")},
       |inj AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_epochs,
       |    max(p_inj) AS injected_period_s
       |  FROM obsv GROUP BY 1)
       |SELECT z.user_id, n_epochs, coarse_period_s,
       |  trial AS best_period_s, $outs, injected_period_s
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY $best, trial ASC) AS rn FROM zstat) z
       |JOIN inj USING (user_id)
       |WHERE z.rn = 1
       |ORDER BY user_id""".stripMargin

  private val Tau = 6.283185307179586

  /** PDM: pooled within-bin variance of v over 8 phase bins. */
  private def pdmOver(df: DataFrame, keys: Seq[String]): DataFrame = df
    .withColumn("bin", expr("((t % trial) * 8) div trial"))
    .groupBy((keys :+ "bin").map(col): _*)
    .agg(count(lit(1)).as("n_b"), var_samp(col("v")).as("v_b"))
    .where(col("n_b") >= 2L)
    .groupBy(keys.map(col): _*)
    .agg(rnd(sum((col("n_b") - 1L) * col("v_b")) /
      sum(col("n_b") - 1L).cast("double"), 6).as("pdm"))

  private def pdmSql(p: String, from: String, keys: String): String =
    s"""${p}bins AS (
       |  SELECT $keys, ((t % trial) * 8) // trial AS bin,
       |    CAST(count(*) AS BIGINT) AS n_b, var_samp(v) AS v_b
       |  FROM $from GROUP BY ALL HAVING count(*) >= 2),
       |${p}stat AS (
       |  SELECT $keys,
       |    floor((sum((n_b - 1) * v_b) / CAST(sum(n_b - 1) AS DOUBLE))
       |      * 1e6 + 0.5) / 1e6 AS pdm
       |  FROM ${p}bins GROUP BY ALL)""".stripMargin

  /** Unweighted generalized Lomb–Scargle power of v at each trial, from
    * raw trig moments (the lc_gls cs/sn idiom). */
  private def glsOver(df: DataFrame, keys: Seq[String]): DataFrame = {
    val g = df
      .withColumn("cs", cos(lit(Tau) *
        ((col("t") % col("trial")).cast("double") / col("trial"))))
      .withColumn("sn", sin(lit(Tau) *
        ((col("t") % col("trial")).cast("double") / col("trial"))))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("double").as("sw"),
        sum(col("v")).as("swy"),
        sum(col("cs")).as("swc"),
        sum(col("sn")).as("sws"),
        sum(col("v") * col("v")).as("swyy"),
        sum(col("v") * col("cs")).as("swyc"),
        sum(col("v") * col("sn")).as("swys"),
        sum(col("cs") * col("cs")).as("swcc"),
        sum(col("sn") * col("sn")).as("swss"),
        sum(col("cs") * col("sn")).as("swcs"))
    val yM = col("swy") / col("sw")
    val cM = col("swc") / col("sw")
    val sM = col("sws") / col("sw")
    val yy = col("swyy") / col("sw") - yM * yM
    val yc = col("swyc") / col("sw") - yM * cM
    val ys = col("swys") / col("sw") - yM * sM
    val cc = col("swcc") / col("sw") - cM * cM
    val ss = col("swss") / col("sw") - sM * sM
    val cx = col("swcs") / col("sw") - cM * sM
    g.withColumn("power",
        rnd((ss * yc * yc + cc * ys * ys - lit(2.0) * cx * yc * ys)
          / (yy * (cc * ss - cx * cx)), 6))
      .select((keys.map(col) :+ col("power")): _*)
  }

  private def glsSql(p: String, from: String, keys: String): String =
    s"""${p}trig AS (
       |  SELECT $keys, v,
       |    cos(6.283185307179586 * (CAST(t % trial AS DOUBLE) / trial)) AS cs,
       |    sin(6.283185307179586 * (CAST(t % trial AS DOUBLE) / trial)) AS sn
       |  FROM $from),
       |${p}ms AS (
       |  SELECT $keys, CAST(count(*) AS DOUBLE) AS sw, sum(v) AS swy,
       |    sum(cs) AS swc, sum(sn) AS sws, sum(v * v) AS swyy,
       |    sum(v * cs) AS swyc, sum(v * sn) AS swys, sum(cs * cs) AS swcc,
       |    sum(sn * sn) AS swss, sum(cs * sn) AS swcs
       |  FROM ${p}trig GROUP BY ALL),
       |${p}stat AS (
       |  SELECT $keys,
       |    floor((((swss / sw - (sws / sw) * (sws / sw))
       |        * (swyc / sw - (swy / sw) * (swc / sw))
       |        * (swyc / sw - (swy / sw) * (swc / sw))
       |      + (swcc / sw - (swc / sw) * (swc / sw))
       |        * (swys / sw - (swy / sw) * (sws / sw))
       |        * (swys / sw - (swy / sw) * (sws / sw))
       |      - 2e0 * (swcs / sw - (swc / sw) * (sws / sw))
       |        * (swyc / sw - (swy / sw) * (swc / sw))
       |        * (swys / sw - (swy / sw) * (sws / sw)))
       |      / ((swyy / sw - (swy / sw) * (swy / sw))
       |        * ((swcc / sw - (swc / sw) * (swc / sw))
       |          * (swss / sw - (sws / sw) * (sws / sw))
       |          - (swcs / sw - (swc / sw) * (sws / sw))
       |          * (swcs / sw - (swc / sw) * (sws / sw)))))
       |      * 1e6 + 0.5) / 1e6 AS power
       |  FROM ${p}ms)""".stripMargin

  /** BLS box statistic: the best single-bin contrast A²/(n_b·(N−n_b))
    * with A = su_b·N − n_b·su_tot, and the bin that attains it. */
  private def blsOver(df: DataFrame, keys: Seq[String]): DataFrame = {
    val nBins = 8L
    val bins = df
      .withColumn("bin", expr(s"((t % trial) * $nBins) div trial"))
      .groupBy((keys :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n_b"), sum("v").as("su_b"))
    val tot = bins.groupBy(keys.map(col): _*)
      .agg(sum("n_b").as("nn"), sum("su_b").as("su_tot"))
    bins.join(tot, keys)
      .where(col("n_b") >= 2L && col("n_b") < col("nn"))
      .withColumn("a",
        col("su_b") * col("nn") - col("n_b") * col("su_tot"))
      .withColumn("score",
        rnd(col("a").cast("double") * col("a").cast("double") /
          ((col("n_b") * (col("nn") - col("n_b"))).cast("double")), 6))
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col("score"), (-col("bin")).as("nb"))).as("m"))
      .select((keys.map(col) :+ col("m.score").as("bls") :+
        (-col("m.nb")).as("transit_bin")): _*)
  }

  private def blsSql(p: String, from: String, keys: String): String =
    s"""${p}bins AS (
       |  SELECT $keys, ((t % trial) * 8) // trial AS bin,
       |    count(*) AS n_b, CAST(sum(v) AS BIGINT) AS su_b
       |  FROM $from GROUP BY ALL),
       |${p}tot AS (
       |  SELECT $keys, CAST(sum(n_b) AS BIGINT) AS nn,
       |    CAST(sum(su_b) AS BIGINT) AS su_tot
       |  FROM ${p}bins GROUP BY ALL),
       |${p}sc AS (
       |  SELECT $keys, bin,
       |    floor((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
       |      / CAST(n_b * (nn - n_b) AS DOUBLE)) * 1e6 + 0.5) / 1e6
       |      AS score
       |  FROM (
       |    SELECT b.*, t.nn, t.su_tot,
       |      b.su_b * t.nn - b.n_b * t.su_tot AS a
       |    FROM ${p}bins b JOIN ${p}tot t USING ($keys)
       |    WHERE b.n_b >= 2 AND b.n_b < t.nn)),
       |${p}stat AS (
       |  SELECT $keys, score AS bls, bin AS transit_bin
       |  FROM (SELECT *, row_number() OVER (PARTITION BY $keys
       |          ORDER BY score DESC, bin ASC) AS rb FROM ${p}sc)
       |  WHERE rb = 1)""".stripMargin

  /** Conditional entropy of the 4 magnitude bins given the 8 phase bins.
    * CE decomposed as [Σ_p n_p·ln(n_p) − Σ_pm n_pm·ln(n_pm)] / N —
    * algebraically the conditional entropy, computed WITHOUT lc_ce's
    * window-over-cells marginal AND without a per-(pbin, mbin) cell
    * table: the 4 magnitude bins pivot into conditional counts n0..n3 in
    * ONE partial-aggregable groupBy per (…, pbin), and the entropy terms
    * are fixed-order scalar expressions over them (a 5-key cell grouping
    * at ~1.5 rows/group combined nothing and cost a full extra exchange
    * — measured 6.9 s; this shape is one grid-bounded shuffle, the other
    * zooms' cost). The oracle mirrors the same pivot and term order, so
    * the FP arithmetic is identical on both engines. Reads the per-object
    * range (vmn, vmx) that [[ceRange]] joins onto the series. */
  private def ceOver(df: DataFrame, keys: Seq[String]): DataFrame = {
    def nk(k: Int) =
      sum(when(col("mbin") === k.toLong, 1L).otherwise(0L)).as(s"n$k")
    val pb = df
      .withColumn("pbin", expr("((t % trial) * 8) div trial"))
      .withColumn("mbin", least(floor(
        (col("v") - col("vmn")) /
          (col("vmx") - col("vmn") + lit(1e-9)) * lit(4.0)), lit(3L)))
      .groupBy((keys :+ "pbin").map(col): _*)
      .agg(nk(0), nk(1), nk(2), nk(3))
    def term(c: String) =
      when(col(c) > 0L,
        col(c).cast("double") * log(col(c).cast("double")))
        .otherwise(lit(0.0))
    val tpb = pb.select((keys.map(col) :+
      (col("n0") + col("n1") + col("n2") + col("n3")).as("n_p") :+
      (term("n0") + term("n1") + term("n2") + term("n3")).as("t2")): _*)
    tpb.groupBy(keys.map(col): _*)
      .agg(rnd(
        (sum(col("n_p").cast("double") *
          log(col("n_p").cast("double"))) - sum(col("t2"))) /
          sum("n_p").cast("double"), 6).as("ce"))
  }

  /** lc_ce's magnitude-bin normalization: the per-object min/max of v (a
    * tiny pre-aggregate off the checkpointed series, broadcast back —
    * honest normalization, not a hardcoded range). */
  private def ceRange(series: DataFrame): DataFrame =
    series.join(broadcast(series.groupBy("user_id")
      .agg(min("v").as("vmn"), max("v").as("vmx"))), "user_id")

  private val ceRangeSql =
    """
      |rng AS (
      |  SELECT user_id, min(v) AS vmn, max(v) AS vmx
      |  FROM obsv GROUP BY user_id),""".stripMargin

  private def ceSql(p: String, from: String, keys: String): String = {
    val nk = (0 to 3).map(k =>
      s"    CAST(sum(CASE WHEN mbin = $k THEN 1 ELSE 0 END) AS BIGINT) AS n$k")
    val terms = (0 to 3).map(k =>
      s"CASE WHEN n$k > 0 THEN CAST(n$k AS DOUBLE) * ln(CAST(n$k AS DOUBLE)) ELSE 0e0 END")
    s"""${p}obs AS (
       |  SELECT $keys, ((t % trial) * 8) // trial AS pbin,
       |    least(CAST(floor((v - vmn) / (vmx - vmn + 1e-9) * 4.0) AS BIGINT), 3) AS mbin
       |  FROM $from JOIN rng USING (user_id)),
       |${p}pb0 AS (
       |  SELECT $keys, pbin,
       |${nk.mkString(",\n")}
       |  FROM ${p}obs GROUP BY ALL),
       |${p}pb AS (
       |  SELECT $keys, n0 + n1 + n2 + n3 AS n_p,
       |    (${terms.mkString("\n     + ")}) AS t2
       |  FROM ${p}pb0),
       |${p}stat AS (
       |  SELECT $keys,
       |    floor(((sum(CAST(n_p AS DOUBLE) * ln(CAST(n_p AS DOUBLE)))
       |      - sum(t2)) /
       |      CAST(sum(n_p) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ce
       |  FROM ${p}pb GROUP BY ALL)""".stripMargin
  }

  /** agg_pctile_reagg's sketch pipeline, shared with ApproxSpec's
    * merged≡direct law. perDay=true builds per-(day, type) sketches and
    * merges them (the re-aggregation under test); perDay=false sketches
    * the whole table in one pass. DDSketch bucket i covers (γ^(i−1), γ^i]
    * with γ = (1+α)/(1−α); bucket-wise count sum is the sketch union, so
    * both paths produce the IDENTICAL sketch — the mergeability law the
    * spec asserts. Non-positive values (none in the fixture, legal in
    * production) take a sentinel bucket below the log grid, estimated 0. */
  def ddSketchPctiles(s: org.apache.spark.sql.SparkSession, dir: String,
      perDay: Boolean): org.apache.spark.sql.DataFrame = {
    val bucket = ddBucket
    // The one corpus pass: map-side partial count per (day, type, bucket).
    val keys =
      if (perDay) Seq(to_date(col("ts")).as("day"), col("event_type"), bucket.as("b"))
      else Seq(col("event_type"), bucket.as("b"))
    val sketch = T.events(s, dir).groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
    // Sketch union = bucket-wise sum (a no-op re-group in the direct path).
    val merged =
      if (perDay) sketch.groupBy("event_type", "b").agg(sum("cnt").as("cnt"))
      else sketch
    ddEstimate(merged, Seq("event_type"))
  }

  /** DDSketch log-grid bucket of `value`: ceil(ln v / ln γ) for v > 0,
    * sentinel bucket below the grid otherwise — shared by the batch
    * rollup and the streaming monitor so their sketch states are the
    * same relation. */
  def ddBucket: org.apache.spark.sql.Column = {
    val alpha = graft.GraftConfig.DDSketchAlpha
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    when(col("value") > 0.0, ceil(log(col("value")) / math.log(gamma)))
      .otherwise(lit(Long.MinValue))
  }

  /** Rank-scan + estimate tail over a relational DDSketch frame
    * (keys…, b, cnt) — shared by [[ddSketchPctiles]] and the streaming
    * monitor (`stream_pctile`, operators/StreamingOps.scala), whose
    * per-window sketch state this same tail estimates. The windows run
    * over the BOUNDED sketch table (≤~540 occupied buckets per group —
    * GraftConfig.DDSketchAlpha), never corpus rows: cumulative count in
    * bucket order; quantile q lands in the first bucket whose cumulative
    * count reaches rank ceil(q·n). */
  def ddEstimate(sketch: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    val alpha = graft.GraftConfig.DDSketchAlpha
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val kc = keys.map(col)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(kc: _*).orderBy("b")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(kc: _*)
    val cum = sketch
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
    def rank(q: Double) = greatest(lit(1L), ceil(lit(q) * col("n")))
    def est(b: org.apache.spark.sql.Column) =
      when(b === Long.MinValue, lit(0.0))
        .otherwise(lit(2.0) * pow(lit(gamma), b.cast("double")) / (gamma + 1.0))
    cum.groupBy(kc: _*)
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= rank(0.5), col("b"))).as("b50"),
        min(when(col("cum") >= rank(0.9), col("b"))).as("b90"))
      .select(kc ++ Seq(col("n"),
        rnd(est(col("b50")), 4).as("approx_p50"),
        rnd(est(col("b90")), 4).as("approx_p90")): _*)
      .orderBy(kc: _*)
  }

  val defs: Seq[QDef] = Seq(

    // TPC-H Q1 shape: the flagship aggregate.
    QDef(
      "agg_hash",
      (s, dir) => {
        T.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("2000-06-01 00:00:00").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            rnd(sum("l_quantity"), 2).as("sum_qty"),
            rnd(sum("l_extendedprice"), 2).as("sum_base_price"),
            rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("sum_disc_price"),
            rnd(avg("l_quantity"), 4).as("avg_qty"),
            rnd(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
             |  floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
             |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
             |  floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4 AS avg_qty,
             |  floor((avg(l_discount)) * 1e4 + 0.5) / 1e4 AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-06-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // count(DISTINCT) per group — Spark expands to a two-phase distinct agg.
    QDef(
      "agg_distinct",
      (s, dir) => {
        T.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps,
             |  count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // HLL approximate distinct: declared WITHOUT an oracle (approx ≠ exact;
    // SURVEY §2.4). Rows-only check by the driver.
    QDef(
      "agg_approx_distinct",
      (s, dir) => {
        T.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
          .orderBy("l_returnflag")
      },
      None),

    // Approximate percentiles (quantile sketch) — the 100-TB telemetry
    // workhorse: percentile_approx keeps bounded per-group state
    // (Greenwald-Khanna at the given accuracy) where exact percentile keeps
    // per-group sorted values. Declared WITHOUT an oracle (sketch results are
    // engine-specific); ApproxSpec asserts |approx − exact| ≤ ε per group.
    QDef(
      "agg_approx_pctile",
      (s, dir) => {
        T.events(s, dir)
          .groupBy("event_type")
          .agg(
            expr("percentile_approx(value, 0.5, 1000)").as("approx_median"),
            expr("percentile_approx(value, 0.9, 1000)").as("approx_p90"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      None),

    // Sketch re-aggregation — THE 100-TB pre-aggregation pattern: per-day
    // HLL sketches (Datasketches, mergeable state) are unioned into a
    // per-type distinct-user estimate WITHOUT touching row data again. A
    // daily cube of sketches makes any date-range distinct count a merge of
    // ~365 small binaries instead of a full scan — something plain
    // count(DISTINCT) can never do. Declared without an oracle (sketch
    // binaries are engine-specific); ApproxSpec asserts (a) the merged
    // estimate equals the direct single-pass sketch estimate exactly (same
    // sketch config ⇒ same state) and (b) both are within 10% of exact.
    QDef(
      "agg_sketch_reagg",
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count(lit(1)).as("n_rows"))
        daily.groupBy("event_type")
          .agg(
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
            count(lit(1)).as("n_days"),
            sum(col("n_rows")).as("n_rows"))
          .orderBy("event_type")
      },
      None),

    // THETA SKETCH SET ALGEBRA — the one query the HLL family above cannot
    // answer: audience OVERLAP. An HLL union estimates |A ∪ B|, but HLL
    // state supports union only; intersection/difference need a sketch
    // whose state is a uniform SAMPLE of the set — the Datasketches theta
    // sketch, kept RELATIONAL here exactly like the DDSketch construction:
    // a sketch is the bottom-k distinct hash rows of its audience
    // ((aud, hv) rows, hv = 62-bit uniform hash), θ is the k-th smallest
    // hv (or the hash-space max M in exact mode, n < k). The construction
    // is mergeable like its siblings — any hv in the global bottom-k is in
    // its shard's bottom-k, so merge = union + re-rank, and merged ≡
    // direct EXACTLY (ApproxSpec law). Set algebra runs at the COMMON
    // θ = min(θ_A, θ_B): on the sample rows below θ it is EXACT relational
    // algebra (the inclusion-exclusion and partition identities are
    // require'd as exact integer equalities in-query); only the scale-up
    // est = |samples| · M / θ is approximate, and each of the five
    // measures is require'd within 25% of its exact count (k = 512 ⇒
    // rse ≈ 4.4%). Declared WITHOUT an oracle (the hash is
    // engine-specific); the output carries est AND exact side by side.
    // Scale shape: ONE corpus pass builds (aud, hv) with map-side partial
    // agg; the bottom-k window re-exchanges on aud, but WindowGroupLimit's
    // partial mode prunes each map task to its local bottom-k first, so
    // that exchange carries O(audiences·k·tasks) rows, not the distinct
    // set; everything after runs on ≤ 2k sample rows regardless of corpus
    // size — audience overlap over 100 TB from two KB-sized sketches.
    QDef(
      "agg_theta_sketch",
      (s, dir) => {
        val k = 512
        val M = 1L << 62
        val samples = thetaSamples(thetaAudiences(s, dir), k)
          .localCheckpoint() // ≤ 2k rows, reused by θ + both sample scans
        val th = samples.groupBy("aud")
          .agg(count(lit(1)).as("n"), max("hv").as("mx"))
          .select(col("aud"),
            when(col("n") < k, lit(M)).otherwise(col("mx")).as("th"))
        val thC = broadcast(th.agg(min("th").as("thc"))) // common θ, 1 row
        def below(aud: String) = samples.where(col("aud") === aud)
          .crossJoin(thC).where(col("hv") < col("thc")).select("hv")
        // Sample sets below the common θ: ONE full-outer flag join makes
        // all five measures exact relational algebra on ≤ 2k rows.
        val fl = below("a").withColumn("ina", lit(1L))
          .join(below("b").withColumn("inb", lit(1L)), Seq("hv"), "full_outer")
          .na.fill(0L, Seq("ina", "inb"))
        val cnt = fl.agg(
          sum("ina").cast("long").as("c_a"),
          sum("inb").cast("long").as("c_b"),
          count(lit(1)).as("c_u"),
          sum(col("ina") * col("inb")).cast("long").as("c_i"),
          sum(col("ina") * (lit(1L) - col("inb"))).cast("long").as("c_d"))
        // Exact ground truth, one corpus pass (for the output + the bound).
        val ex = thetaAudiences(s, dir).groupBy("id")
          .agg(max(when(col("aud") === "a", 1L).otherwise(0L)).as("ina"),
            max(when(col("aud") === "b", 1L).otherwise(0L)).as("inb"))
          .agg(sum("ina").cast("long").as("e_a"),
            sum("inb").cast("long").as("e_b"),
            count(lit(1)).as("e_u"),
            sum(col("ina") * col("inb")).cast("long").as("e_i"),
            sum(col("ina") * (lit(1L) - col("inb"))).cast("long").as("e_d"))
        val one = cnt.crossJoin(ex).crossJoin(thC).head()
        def g(n: String) = one.getLong(one.fieldIndex(n))
        val thc = g("thc")
        // The set-algebra identities are EXACT on the sample sets.
        require(g("c_u") == g("c_a") + g("c_b") - g("c_i"),
          "inclusion-exclusion must hold exactly on theta samples")
        require(g("c_a") == g("c_i") + g("c_d"),
          "the intersect/difference partition must hold exactly on samples")
        val rows = Seq(("a", "c_a", "e_a"), ("b", "c_b", "e_b"),
          ("union", "c_u", "e_u"), ("intersect", "c_i", "e_i"),
          ("a_minus_b", "c_d", "e_d")).map { case (m, c, e) =>
          val est = g(c).toDouble * M.toDouble / thc.toDouble
          require(g(e) > 0L && math.abs(est / g(e) - 1.0) <= 0.25,
            s"theta estimate for $m out of tolerance: est=$est exact=${g(e)}")
          (m, g(c), math.floor(est * 1e4 + 0.5) / 1e4, g(e))
        }
        import s.implicits._
        rows.toDF("measure", "n_samples", "est", "exact").orderBy("measure")
      },
      None),

    // Count–Min sketch [PK — Cormode & Muthukrishnan 2005: the linear
    // frequency sketch every streaming/telemetry stack ships]. Unlike the
    // theta/HLL/DDSketch family, CMS is FULLY DETERMINISTIC given its hash
    // functions — depth×width integer counters, estimate = min over rows —
    // so this one sketch query is hash-ORACLED end to end (DuckDB rebuilds
    // the identical counters from the same multiply-mod hashes), not just
    // law-tested. Both sketch laws still run in-query: the MERGE law
    // (counters built per half-stream and summed ≡ the one-pass sketch —
    // CMS merge is plain vector addition, the property that makes it
    // re-aggregable across 100 TB of daily partitions) and the
    // NO-UNDERESTIMATE guarantee (est ≥ true for EVERY key, require'd).
    // Scale shape: the only corpus pass is the depth-way fan-out that
    // collapses map-side into (d, bucket) partials — the sketch is
    // 4×64 = 256 rows no matter the corpus; estimates join the
    // aggregate-sized key list against the broadcast-sized sketch.
    QDef(
      "agg_cms",
      (s, dir) => {
        import s.implicits._
        val p = Seq((1L, 2654435761L, 17L), (2L, 2246822519L, 101L),
          (3L, 3266489917L, 293L), (4L, 668265263L, 7L))
          .toDF("d", "ha", "hb")
        // user_id is reduced mod p BEFORE the multiply so the widest
        // product is (p-1)*ha_max ≈ 7.0e18 < 2^63 — no Int64 wrap on any
        // id domain (Spark would wrap silently where DuckDB raises).
        def bucket = ((col("user_id") % 2147483647L * col("ha") + col("hb"))
          % 2147483647L % 64L).as("b")
        val ev = T.events(s, dir).select(col("user_id"),
          (col("event_id") % 2L).as("half"))
        val fan = ev.crossJoin(broadcast(p))
        val cnt = fan.groupBy(col("d"), bucket)
          .agg(count(lit(1)).as("c"))
        // Merge law: per-half counters sum to the one-pass counters.
        val merged = fan.groupBy(col("half"), col("d"), bucket)
          .agg(count(lit(1)).as("hc"))
          .groupBy("d", "b").agg(sum("hc").as("c"))
        require(graft.Laws.symDiff(merged, cnt).isEmpty,
          "summed per-half CMS counters diverged from the one-pass sketch")
        val tru = ev.groupBy("user_id").agg(count(lit(1)).as("true_n"))
        val est = tru.crossJoin(broadcast(p))
          .select(col("user_id"), col("true_n"), col("d"), bucket)
          .join(cnt, Seq("d", "b"))
          .groupBy("user_id", "true_n").agg(min("c").as("est_n"))
        val out = est
          .select(col("user_id"), col("true_n"), col("est_n"),
            (col("est_n") - col("true_n")).as("overcount"))
          .localCheckpoint() // one sketch probe feeds the law and the output
        // The CMS guarantee: a point estimate never undercounts.
        require(out.where(col("est_n") < col("true_n")).isEmpty,
          "a Count-Min estimate undercounted a key")
        out.orderBy("user_id")
      },
      Some("""WITH p AS (
             |  SELECT * FROM (VALUES (2654435761, 17), (2246822519, 101),
             |    (3266489917, 293), (668265263, 7)) t(ha, hb)),
             |cnt AS (
             |  SELECT ha, (e.user_id % 2147483647 * ha + hb)
             |    % 2147483647 % 64 AS b,
             |    count(*) AS c
             |  FROM events e CROSS JOIN p GROUP BY 1, 2),
             |tru AS (
             |  SELECT user_id, count(*) AS true_n FROM events GROUP BY 1),
             |est AS (
             |  SELECT t.user_id, t.true_n, min(c.c) AS est_n
             |  FROM tru t CROSS JOIN p
             |  JOIN cnt c ON c.ha = p.ha
             |    AND c.b = (t.user_id % 2147483647 * p.ha + p.hb)
             |      % 2147483647 % 64
             |  GROUP BY 1, 2)
             |SELECT user_id, true_n, CAST(est_n AS BIGINT) AS est_n,
             |  CAST(est_n - true_n AS BIGINT) AS overcount
             |FROM est ORDER BY user_id""".stripMargin)),

    // Quantile-sketch re-aggregation — the quantile sibling of
    // agg_sketch_reagg and the other sketch a 100 TB monitoring stack
    // re-aggregates daily: per-day DDSketches (log-grid histograms, Masson
    // et al. VLDB 2019) union into a per-type p50/p90 WITHOUT touching row
    // data again. The sketch is kept RELATIONAL — one (group, bucket, cnt)
    // row per occupied bucket — so "merge" is a plain bucket-wise SUM
    // aggregate: associative, commutative, deterministic, whole-stage
    // codegen'd, and exactly equal to the one-pass sketch (no binary UDAF
    // state, no merge-order sensitivity — the property KLL/t-digest lack).
    // Declared without an oracle (sketch estimates are engine-specific);
    // ApproxSpec asserts (a) merged ≡ direct EXACTLY and (b) both within
    // the α relative-error guarantee of the exact percentile. Scale shape:
    // the only corpus pass is the per-day partial-agg groupBy; everything
    // downstream (merge, cumulative rank scan, estimate) runs on the
    // sketch table — days × types × ≤~540 bucket rows regardless of corpus
    // size.
    QDef(
      "agg_pctile_reagg",
      (s, dir) => ddSketchPctiles(s, dir, perDay = true),
      None),

    // Incremental aggregate maintenance (exact-state IVM) — the refresh
    // pattern behind every materialized per-key rollup at 100 TB: the BASE
    // state table (one row per key, already aggregated) absorbs a DELTA
    // partition's partial states via a full-outer merge, so refresh cost is
    // O(delta + keys touched), never O(corpus re-scan). States here are the
    // algebraic pair (count, integer-cent sum) — associative and
    // commutative, so merged-state ≡ direct-aggregate, which is EXACTLY
    // what the oracle computes (one aggregate over the whole table). The
    // exact-state sibling of agg_sketch_reagg's lossy HLL rollup. The day
    // split is integer epoch arithmetic; cents are grid-exact longs.
    QDef(
      "agg_incremental",
      (s, dir) => {
        val ev = T.events(s, dir)
          .select(col("user_id"),
            expr("unix_timestamp(ts) div 86400").as("day"),
            rnd(col("value") * 100.0, 0).cast("long").as("cents"))
        val cut = graft.GraftConfig.IncrementalCutDay
        def state(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("user_id")
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        val base  = state(ev.where(col("day") <  cut))
          .select(col("user_id"), col("n").as("n0"), col("s").as("s0"))
        val delta = state(ev.where(col("day") >= cut))
          .select(col("user_id"), col("n").as("n1"), col("s").as("s1"))
        base.join(delta, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L))).as("n_events"),
            (coalesce(col("s0"), lit(0L)) + coalesce(col("s1"), lit(0L))).as("sum_cents"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Statistical aggregates — the lightcurve "variability features" analogue
    // (stddev/variance of a value series per object).
    QDef(
      "agg_stats",
      (s, dir) => {
        T.events(s, dir)
          .groupBy("event_type")
          .agg(
            rnd(stddev_samp(col("value")), 4).as("sd_value"),
            rnd(var_samp(col("value")), 4).as("var_value"),
            rnd(min(col("value")), 4).as("min_value"),
            rnd(max(col("value")), 4).as("max_value"),
            rnd(avg(col("value")), 4).as("avg_value"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  floor((stddev_samp(value)) * 1e4 + 0.5) / 1e4 AS sd_value,
             |  floor((var_samp(value)) * 1e4 + 0.5) / 1e4 AS var_value,
             |  floor((min(value)) * 1e4 + 0.5) / 1e4 AS min_value,
             |  floor((max(value)) * 1e4 + 0.5) / 1e4 AS max_value,
             |  floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value,
             |  count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ROLLUP: multi-level totals. Grouping keys become NULL at the
    // super-aggregate levels → null ordering pinned explicitly (SURVEY §5.3).
    QDef(
      "agg_grouping_sets",
      (s, dir) => {
        T.lineitem(s, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(rnd(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty, count(*) AS n
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Light-curve assembly [PK]: per-object time-ordered series, flattened to
    // a canonical string so the compare never depends on nested-parquet
    // encodings (SURVEY §7.4). array_sort on struct(ts, event_id) gives the
    // total order; event_id breaks ts ties identically in both engines.
    QDef(
      "agg_collect_sorted",
      (s, dir) => {
        T.events(s, dir)
          .groupBy("user_id")
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("ts"), col("event_id")))),
                x => x.getField("event_id").cast("string")),
              ",").as("curve"),
            count(lit(1)).as("n_points"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  string_agg(event_id::VARCHAR, ',' ORDER BY ts, event_id) AS curve,
             |  count(*) AS n_points
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // HAVING: post-aggregation filter.
    QDef(
      "agg_having",
      (s, dir) => {
        T.orders(s, dir)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            rnd(sum("o_totalprice"), 2).as("total_spent"))
          .where(col("n_orders") > 10)
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
             |  floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS total_spent
             |FROM orders GROUP BY o_custkey
             |HAVING count(*) > 10 ORDER BY o_custkey""".stripMargin)),

    // Exact interpolated percentiles: Spark `percentile` ≡ DuckDB
    // `quantile_cont` (both interpolate at rank (n-1)·p). At 100 TB the
    // approx variant (percentile_approx / t-digest) replaces this — exact
    // percentile keeps per-group sorted state.
    QDef(
      "agg_median",
      (s, dir) =>
        T.events(s, dir)
          .groupBy("event_type")
          .agg(
            rnd(expr("percentile(value, 0.5)"), 6).as("median_v"),
            rnd(expr("percentile(value, 0.9)"), 6).as("p90_v"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  floor((quantile_cont(value, 0.5)) * 1e6 + 0.5) / 1e6 AS median_v,
             |  floor((quantile_cont(value, 0.9)) * 1e6 + 0.5) / 1e6 AS p90_v,
             |  count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Pivot: long→wide with an EXPLICIT value list (deterministic columns —
    // never let pivot discover values at runtime, that is a separate job and
    // nondeterministic column order). Empty cells coalesce to 0.
    QDef(
      "agg_pivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = T.events(s, dir)
          .groupBy("user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
        wide.select(col("user_id") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Unpivot (wide→long melt) — the inverse of agg_pivot: the per-type
    // count columns fold back into (user_id, event_type, n) rows. Spark's
    // `unpivot` is a Generate-style expand (narrow, no shuffle beyond the
    // source aggregation); zero-count cells are dropped on both sides so
    // the long form round-trips the sparse reality.
    QDef(
      "agg_unpivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = T.events(s, dir)
          .groupBy("user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .select(col("user_id") +: types.map(t =>
            coalesce(col(t), lit(0L)).as(t)): _*)
        wide.unpivot(
            Array(col("user_id")),
            types.map(col).toArray,
            "event_type", "n")
          .where(col("n") > 0L)
          .orderBy("user_id", "event_type")
      },
      Some("""WITH wide AS (
             |  SELECT user_id,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |  FROM events GROUP BY user_id)
             |SELECT user_id, event_type, n
             |FROM (UNPIVOT wide ON click, error, purchase, signup, view
             |      INTO NAME event_type VALUE n)
             |WHERE n > 0
             |ORDER BY user_id, event_type""".stripMargin))
  ) ++ moreDefs

  private def moreDefs: Seq[QDef] = Seq(

    // Light-curve feature extraction [PK: the reference's core product —
    // per-object variability features over a calibrated magnitude series].
    // user_id ≈ object id, graft_mag (native codegen expression) ≈ flux→mag
    // calibration, lag-window ≈ epoch-to-epoch delta. One window pass + one
    // partial-aggregating groupBy — the 100 TB shape partitions the curve
    // store by object key so both stages shuffle once on the same key.
    QDef(
      "lc_features",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        T.events(s, dir)
          .where(col("value") > 0.0) // mag undefined at flux 0
          .withColumn("mag", expr("graft_mag(value)"))
          .withColumn("dmag", abs(col("mag") - lag(col("mag"), 1).over(w)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            rnd(avg(col("mag")), 6).as("mean_mag"),
            rnd(stddev_samp(col("mag")), 6).as("sd_mag"),
            rnd(max(col("mag")) - min(col("mag")), 6).as("amplitude"),
            rnd(max(col("dmag")), 6).as("max_dmag"))
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id, ts, -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0),
             |d AS (
             |  SELECT user_id, mag,
             |    abs(mag - lag(mag) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS dmag
             |  FROM m)
             |SELECT user_id, count(*) AS n_obs,
             |  floor((avg(mag)) * 1e6 + 0.5) / 1e6 AS mean_mag,
             |  floor((stddev_samp(mag)) * 1e6 + 0.5) / 1e6 AS sd_mag,
             |  floor((max(mag) - min(mag)) * 1e6 + 0.5) / 1e6 AS amplitude,
             |  floor((max(dmag)) * 1e6 + 0.5) / 1e6 AS max_dmag
             |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Multi-band photometry [PK: lightcurator-style curation compares
    // BANDS — color indices and per-band variability — where lc_features
    // treats each object as one series]. The fixture derives a
    // deterministic band from event attributes (event_id parity ≈ the
    // filter wheel; a real survey carries a band column). Spark-first
    // shape: the "cross-band join" is CONDITIONAL AGGREGATION — both
    // bands' statistics and the color index come out of ONE groupBy on
    // the object key (zero joins, one shuffle; a per-band self-join would
    // shuffle the curve store twice and meet itself on the same key).
    // Objects need ≥2 observations per band (color and per-band scatter
    // undefined below that). At 100 TB this is the same single
    // object-key shuffle as every lc_* op — band fan-out is map-side
    // arithmetic, not data movement.
    QDef(
      "lc_color",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        def inBand(b: String, c: org.apache.spark.sql.Column) =
          when(col("band") === b, c)
        T.events(s, dir)
          .where(col("value") > 0.0) // mag undefined at flux 0
          .withColumn("band",
            expr("CASE WHEN event_id % 2 = 0 THEN 'g' ELSE 'r' END"))
          .withColumn("mag", expr("graft_mag(value)"))
          .groupBy("user_id")
          .agg(
            count(inBand("g", lit(1))).as("n_g"),
            count(inBand("r", lit(1))).as("n_r"),
            rnd(avg(inBand("g", col("mag"))), 6).as("mean_g"),
            rnd(avg(inBand("r", col("mag"))), 6).as("mean_r"),
            rnd(avg(inBand("g", col("mag"))) - avg(inBand("r", col("mag"))), 6)
              .as("color_gr"),
            rnd(stddev_samp(inBand("g", col("mag"))), 6).as("sd_g"),
            rnd(stddev_samp(inBand("r", col("mag"))), 6).as("sd_r"))
          .where(col("n_g") >= 2L && col("n_r") >= 2L)
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id,
             |    CASE WHEN event_id % 2 = 0 THEN 'g' ELSE 'r' END AS band,
             |    -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0)
             |SELECT user_id,
             |  CAST(count(*) FILTER (WHERE band = 'g') AS BIGINT) AS n_g,
             |  CAST(count(*) FILTER (WHERE band = 'r') AS BIGINT) AS n_r,
             |  floor((avg(mag) FILTER (WHERE band = 'g')) * 1e6 + 0.5) / 1e6 AS mean_g,
             |  floor((avg(mag) FILTER (WHERE band = 'r')) * 1e6 + 0.5) / 1e6 AS mean_r,
             |  floor((avg(mag) FILTER (WHERE band = 'g')
             |       - avg(mag) FILTER (WHERE band = 'r')) * 1e6 + 0.5) / 1e6 AS color_gr,
             |  floor((stddev_samp(mag) FILTER (WHERE band = 'g')) * 1e6 + 0.5) / 1e6 AS sd_g,
             |  floor((stddev_samp(mag) FILTER (WHERE band = 'r')) * 1e6 + 0.5) / 1e6 AS sd_r
             |FROM m GROUP BY user_id
             |HAVING count(*) FILTER (WHERE band = 'g') >= 2
             |   AND count(*) FILTER (WHERE band = 'r') >= 2
             |ORDER BY user_id""".stripMargin)),

    // TIME-RESOLVED color [PK — the epoch-level companion to lc_color's
    // mean color index: variable-star curation compares bands AT THE SAME
    // EPOCH, pairing each g-band observation with the nearest-in-time
    // r-band observation of the same object]. This is join_asof_nearest's
    // machinery turned into photometry: ONE object-key shuffle carries
    // both window captures — the backward candidate as last() over the
    // running frame, the forward candidate as last() over the running
    // frame of the EXACTLY-REVERSED ordering (the O(partition) form; an
    // UNBOUNDED FOLLOWING frame rescans forward from every row and is
    // O(partition²) — the measured 11 s → 0.7 s lesson) — then integer
    // second-distance picks the nearer with a deterministic
    // direction/event-id tie-break. The per-user rollup reuses the same
    // hash partitioning (grouping keys ⊇ partition key ⇒ no further
    // Exchange). The oracle expresses the identical pick as a rank over
    // the per-object band cross-join — quadratic per object, fine for
    // DuckDB at fixture scale; the WINDOW form is the 100 TB shape (cost
    // linear in observations, never pairs).
    QDef(
      "lc_color_epoch",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val m = T.events(s, dir)
          .where(col("value") > 0.0) // mag undefined at flux 0
          .select(col("user_id"), col("event_id").cast("long").as("event_id"),
            unix_timestamp(col("ts")).as("sec"),
            expr("graft_mag(value)").as("mag"),
            // candidates (r band, odd event_id) sort BEFORE probes at the
            // same second, so a same-epoch pair counts backward at dist 0
            expr("CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END").as("tag"))
        val W = org.apache.spark.sql.expressions.Window
        val ord = W.partitionBy("user_id")
          .orderBy(col("sec").asc, col("tag").asc, col("event_id").asc)
        val bwd = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        val revOrd = W.partitionBy("user_id")
          .orderBy(col("sec").desc, col("tag").desc, col("event_id").desc)
        val fwd = revOrd.rowsBetween(W.unboundedPreceding, -1L)
        val cand = when(col("tag") === 0,
          struct(col("sec").as("rsec"), col("mag").as("rmag")))
        m.withColumn("b", last(cand, ignoreNulls = true).over(bwd))
          .withColumn("f", last(cand, ignoreNulls = true).over(fwd))
          .where(col("tag") === 1)
          .withColumn("bdist", col("sec") - col("b.rsec"))
          .withColumn("fdist", col("f.rsec") - col("sec"))
          .withColumn("near", when(col("f").isNull
              || (col("b").isNotNull && col("bdist") <= col("fdist")),
            col("b")).otherwise(col("f")))
          .where(col("near.rsec").isNotNull)
          .withColumn("color", col("mag") - col("near.rmag"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            rnd(avg("color"), 6).as("mean_color"),
            rnd(min("color"), 6).as("min_color"),
            rnd(max("color"), 6).as("max_color"))
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             |    -2.5 * log10(value) + 25.0 AS mag,
             |    event_id % 2 = 0 AS is_g
             |  FROM events WHERE value > 0.0),
             |g AS (SELECT * FROM m WHERE is_g),
             |r AS (SELECT * FROM m WHERE NOT is_g),
             |c AS (
             |  SELECT g.user_id, g.event_id, g.mag - r.mag AS color,
             |    row_number() OVER (PARTITION BY g.event_id
             |      ORDER BY abs(g.sec - r.sec) ASC, (r.sec <= g.sec) DESC,
             |        CASE WHEN r.sec <= g.sec THEN -r.event_id
             |             ELSE r.event_id END ASC) AS rn
             |  FROM g JOIN r ON g.user_id = r.user_id)
             |SELECT user_id, count(*) AS n_pairs,
             |  floor((avg(color)) * 1e6 + 0.5) / 1e6 AS mean_color,
             |  floor((min(color)) * 1e6 + 0.5) / 1e6 AS min_color,
             |  floor((max(color)) * 1e6 + 0.5) / 1e6 AS max_color
             |FROM c WHERE rn = 1 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Period finding [PK: the reference's core *variable-star* step that
    // lc_features stops short of]: phase-dispersion minimization over a
    // deterministic trial-period grid. Fold each object's series at 24 trial
    // periods (0.5 d … 6.25 d, step 0.25 d), bin the phase into 8 bins, and
    // pick the period minimizing the pooled within-bin variance (the PDM
    // statistic's numerator — the total-variance denominator is constant per
    // object, so it cannot change the argmin).
    //
    // Engine-parity: time is INTEGER epoch seconds (unix_timestamp ≡
    // floor(epoch(ts)) — micros never push floor over an integer boundary),
    // so phase-bin assignment ((t % P) * B) div P is exact integer arithmetic
    // in both engines; only the variance pool is floating point, and it is
    // rounded before the argmin comparison.
    //
    // Scale: the ×24 grid fan-out is map-side only — partial aggregation
    // collapses it to ≤ objects × 24 × 8 rows before the single shuffle on
    // (user_id, period, bin); the argmin is a second partial-agg'able pass
    // plus a per-object window over 24 rows. At 100 TB: one corpus shuffle,
    // state bounded by the grid, no per-observation data ever re-shuffled.
    QDef(
      "lc_periods",
      (s, dir) => bestPeriods(s, dir).orderBy("user_id"),
      Some(s"""$bestPeriodsSql
              |SELECT user_id, best_period_s, pdm_s2 FROM best
              |ORDER BY user_id""".stripMargin)),

    // Phase-folded light curve at the best period [PK — the plot-ready
    // product after period finding: every observation mapped to its phase
    // in [0, 1) at the object's detected period]. Phase is emitted as an
    // exact integer milli-phase ((t mod P)·1000 div P) — no double division
    // to diverge cross-engine. One broadcast-able join of the (tiny)
    // best-period table back onto the observation stream; at 100 TB the
    // curve store partition on user_id makes it co-located.
    QDef(
      "lc_fold",
      (s, dir) => {
        val t = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("t"), col("value"))
        t.join(broadcast(bestPeriods(s, dir)), "user_id")
          .select(col("user_id"), col("event_id"), col("best_period_s"),
            expr("((t % best_period_s) * 1000) div best_period_s").as("phase_milli"),
            rnd(col("value"), 6).as("value"))
          .orderBy("user_id", "event_id")
      },
      Some(s"""$bestPeriodsSql,
              |obs AS (
              |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
              |    floor((value) * 1e6 + 0.5) / 1e6 AS value
              |  FROM events WHERE value > 0.0)
              |SELECT o.user_id, o.event_id, b.best_period_s,
              |  ((o.t % b.best_period_s) * 1000) // b.best_period_s AS phase_milli,
              |  o.value
              |FROM obs o JOIN best b USING (user_id)
              |ORDER BY user_id, event_id""".stripMargin)),

    // Conditional entropy period search [PK — Graham et al. 2013, the
    // information-theoretic member of the period-finder family next to
    // PDM (lc_periods), Lomb–Scargle and BLS]: at the true period the
    // folded curve's magnitude distribution becomes strongly phase-
    // dependent, so the conditional entropy of magnitude given phase,
    //   CE = Σ_{i,j} (n_ij / N) · ln(n_i / n_ij)
    // over an 8-phase × 4-magnitude occupancy grid, is MINIMIZED.
    // Everything upstream of the final ln is integer: the phase bin is
    // the family's exact fold ((t mod P)·8 div P), the magnitude bin
    // normalizes by the per-object min/max (one tiny pre-aggregate,
    // broadcast back), and the grid cells are counts — so the only FP is
    // ln of integer ratios, summed and rounded to the 1e-6 grid, with the
    // argmin determinized by (rounded CE, period) as everywhere else in
    // the family. Scale shape is lc_periods': the ×24 trial fan-out
    // collapses map-side into per-(user, period, pbin, mbin) partials
    // before any shuffle; the phase-bin marginal n_i comes from a window
    // over the CELL table (aggregate-sized, never a second corpus pass).
    QDef(
      "lc_ce",
      (s, dir) => {
        val t = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            col("value"))
        val rng = t.groupBy("user_id")
          .agg(min("value").as("vmn"), max("value").as("vmx"))
        val cells = t.join(broadcast(rng), "user_id")
          .withColumn("k", explode(sequence(lit(0L), lit(23L))))
          .withColumn("period_s", lit(43200L) + lit(21600L) * col("k"))
          .withColumn("pbin", expr("((t % period_s) * 8) div period_s"))
          .withColumn("mbin", least(floor(
            (col("value") - col("vmn")) /
              (col("vmx") - col("vmn") + lit(1e-9)) * lit(4.0)), lit(3L)))
          .groupBy("user_id", "period_s", "pbin", "mbin")
          .agg(count(lit(1)).as("n_pm"))
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "period_s", "pbin")
        val ce = cells
          .withColumn("n_p", sum("n_pm").over(wp))
          .groupBy("user_id", "period_s")
          .agg(rnd(
            sum(col("n_pm").cast("double") *
              log(col("n_p").cast("double") / col("n_pm").cast("double"))) /
              sum("n_pm").cast("double"), 6).as("ce"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ce"), col("period_s"))
        ce.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("period_s").as("best_period_s"),
            col("ce"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
             |  FROM events WHERE value > 0.0),
             |rng AS (
             |  SELECT user_id, min(value) AS vmn, max(value) AS vmx
             |  FROM t GROUP BY user_id),
             |cells AS (
             |  SELECT t.user_id, 43200 + 21600 * g.k AS period_s,
             |    ((t % (43200 + 21600 * g.k)) * 8) // (43200 + 21600 * g.k) AS pbin,
             |    least(CAST(floor((value - vmn) / (vmx - vmn + 1e-9) * 4.0) AS BIGINT), 3) AS mbin,
             |    CAST(count(*) AS BIGINT) AS n_pm
             |  FROM t JOIN rng USING (user_id) CROSS JOIN generate_series(0, 23) g(k)
             |  GROUP BY 1, 2, 3, 4),
             |marg AS (
             |  SELECT user_id, period_s, pbin, mbin, n_pm,
             |    CAST(sum(n_pm) OVER (PARTITION BY user_id, period_s, pbin) AS BIGINT) AS n_p
             |  FROM cells),
             |ce AS (
             |  SELECT user_id, period_s,
             |    floor((sum(CAST(n_pm AS DOUBLE) *
             |      ln(CAST(n_p AS DOUBLE) / CAST(n_pm AS DOUBLE))) /
             |      CAST(sum(n_pm) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ce
             |  FROM marg GROUP BY user_id, period_s),
             |best AS (
             |  SELECT user_id, period_s AS best_period_s, ce,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ce, period_s) AS rn
             |  FROM ce)
             |SELECT user_id, best_period_s, ce FROM best
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // COARSE→ZOOM PDM (the two-stage search: see zoomSearch). Waveform: a
    // TRIANGLE wave |4 − bin| of the 8-bin fold phase at P_inj. At the
    // P_inj trial the fold reproduces the value exactly per bin ⇒ pooled
    // within-bin variance is EXACTLY 0, the argmin's floor. The triangle
    // is WRAP-CONTINUOUS: a sawtooth put v=7 next to v=0 at the phase
    // wrap, so one boundary epoch poisoned a bin's variance and aliased
    // the coarse argmin. Stage 1 = lc_periods' PDM over its 24-point
    // coarse grid. All bin assignments are integer; the only FP is
    // var_samp of small integers (exact partials).
    QDef(
      "lc_period_zoom",
      (s, dir) => zoomSearch(s, dir,
        expr("abs(4 - ((t % p_inj) * 8) div p_inj)"),
        pdmOver, col("pdm"), Seq("pdm" -> "pdm_s2")),
      Some(zoomSql("abs(4 - ((t % p_inj) * 8) // p_inj)", pdmSql,
        "pdm ASC", "pdm AS pdm_s2"))),

    // COARSE→ZOOM GLS (the two-stage search: see zoomSearch). Waveform: a
    // pure SINUSOID of the fold phase, sin(2π·(t mod P_inj)/P_inj) — the
    // GLS-native analogue of PDM's zero-variance floor: the model
    // a + b·cos + c·sin NESTS the signal exactly at the P_inj trial, so
    // power = 1 is the statistic's ceiling, attained ONLY there (a
    // triangle was tried first and failed honestly: its harmonics + the
    // 11.6-cycle non-integer window displace the leakage peak by one zoom
    // step — measured −180 s at class 0, +180 s at class 3). Every other
    // trial smears ≥0.04 cycles across the window, a ≳7e-3 power drop —
    // 10⁴ × the rounding grid. Scored UNWEIGHTED (w ≡ 1; the synthetic
    // series has no flux-error model) over lc_gls's 24-point coarse grid,
    // argmax per object. The sinusoid values are computed from exact
    // integers by the SAME expression text in both engines (the cs/sn
    // idiom lc_gls already hash-matches).
    QDef(
      "lc_gls_zoom",
      (s, dir) => zoomSearch(s, dir,
        sin(lit(Tau) *
          ((col("t") % col("p_inj")).cast("double") / col("p_inj"))),
        glsOver, col("power").desc, Seq("power" -> "gls_power")),
      Some(zoomSql(
        "sin(6.283185307179586 * (CAST(t % p_inj AS DOUBLE) / p_inj))",
        glsSql, "power DESC", "power AS gls_power"))),

    // COARSE→ZOOM BLS (the two-stage search: see zoomSearch). Waveform: a
    // two-level BOX — v = 1000 except 600 in phase bin 5 of 8 at P_inj —
    // the BLS-native exactness argument: at the P_inj trial the fold
    // reassembles the transit bin PURE AND COMPLETE, and the box contrast
    // A²·n_b/(N−n_b) is STRICTLY maximal there (a pure subset scores
    // lower — the statistic is increasing in n_b at fixed purity; a
    // diluted bin scores lower still), while every ±180 s zoom neighbor
    // flips ≥1 epoch's bin (the cadence calibration, stronger at 8 bins
    // than a wrap argument needs). Home coarse points 43200/64800 sit ON
    // lc_bls's 21600·(k+1) grid, so stage 1 is exactly lc_bls's scan
    // restricted to this series. ALL-INTEGER values and bin math; the
    // only FP is the final exact-integer division — lc_bls's discipline.
    QDef(
      "lc_bls_zoom",
      (s, dir) => zoomSearch(s, dir,
        when(expr("((t % p_inj) * 8) div p_inj") === 5L, 600L)
          .otherwise(1000L),
        blsOver, col("bls").desc,
        Seq("transit_bin" -> "transit_bin", "bls" -> "bls"),
        coarse = (11L, k => lit(21600L) * (k + 1L))),
      Some(zoomSql(
        "CASE WHEN ((t % p_inj) * 8) // p_inj = 5 THEN 600 ELSE 1000 END",
        blsSql, "bls DESC", "transit_bin, bls",
        coarse = (11, "21600 * (g.k + 1)")))),

    // COARSE→ZOOM CE (the two-stage search: see zoomSearch). Waveform: the
    // 4-level profile (0,1,2,3,0,2,1,3) of the 8-bin fold phase at P_inj
    // — the CE-native exactness argument: the profile maps ONE-TO-ONE
    // onto lc_ce's 4 magnitude bins, so at the P_inj trial every phase
    // bin holds exactly one magnitude bin and CE = Σ (n_ij/N)·ln(n_i/n_ij)
    // = 0, the statistic's floor. ADJACENT fold bins always differ in
    // magnitude bin (so any epoch's bin flip at a neighboring trial mixes
    // a cell — a plain sawtooth paired equal mbins across adjacent bins
    // and left zoom neighbors tied at 0), and the profile has NO
    // translational sub-period (v = bin mod 4 repeats at P_inj/2, handing
    // the argmin's (ce, trial) tie-break a smaller perfect period; this
    // profile's half-shift (0,2,1,3) ≠ (0,1,2,3)). Verified exhaustively
    // over all 8 injection classes: CE = 0 at P_inj ONLY, across the
    // coarse grid and the full zoom span. The magnitude bins normalize by
    // the per-object min/max exactly as lc_ce does ([[ceRange]]). Stage
    // 1 = CE over lc_ce's 24-point coarse grid. ALL bin math is integer;
    // the only FP is ln of integer ratios — lc_ce's discipline.
    QDef(
      "lc_ce_zoom",
      (s, dir) => zoomSearch(s, dir,
        expr("element_at(array(0L,1L,2L,3L,0L,2L,1L,3L), " +
          "cast(((t % p_inj) * 8) div p_inj as int) + 1)"),
        ceOver, col("ce").asc, Seq("ce" -> "ce_s2"), prep = ceRange),
      Some(zoomSql(
        """CASE ((t % p_inj) * 8) // p_inj
          |      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3
          |      WHEN 4 THEN 0 WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 3 END""".stripMargin,
        ceSql, "ce ASC", "ce AS ce_s2", pre = ceRangeSql))),

    // FOURIER DECOMPOSITION AT THE DETECTED PERIOD [PK — the classic
    // variable-star shape descriptors: fit v(t) ≈ a0 + Σ_k a_k·cos(kθ) +
    // b_k·sin(kθ) at the object's detected period and classify on the
    // amplitude ratio R21 = A2/A1 and phase difference φ21 = φ2 − 2φ1
    // (Simon & Teays 1982's Fourier-coefficient classification; RRab vs
    // RRc vs Cepheid separation runs on exactly these two numbers in
    // every modern variable-star catalog]. Coefficients are the direct
    // Fourier projections a_k = (2/n)·Σ v'·cos(kθ), b_k = (2/n)·Σ
    // v'·sin(kθ) over the mean-subtracted curve — the estimator every
    // survey pipeline uses at survey cadence, computed here from RAW
    // trig moments (the lc_gls cs/sn idiom: θ = τ·((t mod P)/P) with the
    // integer-exact fold, so both engines feed libm the IDENTICAL
    // double). TWO-STAGE ROUNDING DISCIPLINE (the lc_fap precedent —
    // transcendentals on rounded inputs): the four coefficients round at
    // 1e-6 FIRST — per-object sums are merge-stable at ~1e-10 so the
    // boundary bet is the family's usual — and sqrt/atan2/fmod then run
    // on IDENTICAL inputs in both engines (atan2 near the origin
    // amplifies ulp noise unboundedly; on rounded coefficients a
    // degenerate harmonic hits atan2(0, 0) = 0 identically instead of a
    // cross-engine coin flip). φ21 is normalized to [0, τ) by the same
    // ((x % τ) + τ) % τ text both sides; R21's divisor floors at 1e-9
    // (a flat curve has A1 = 0 after rounding). Min-history gate n ≥ 5
    // (five unknowns in the 2-harmonic model). Scale: ONE shuffle on the
    // object key; the trig moments are mergeable partials (standing
    // state at 100 TB, exactly agg_incremental's story), the best-period
    // table is aggregate-sized and broadcast.
    QDef(
      "lc_harmonics",
      (s, dir) => {
        val tau = 6.283185307179586
        val t = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            col("value").as("v"))
        val g = t
          .join(broadcast(bestPeriods(s, dir)), "user_id")
          .withColumn("ph",
            (col("t") % col("best_period_s")).cast("double") /
              col("best_period_s"))
          .withColumn("c1", cos(lit(tau) * col("ph")))
          .withColumn("s1", sin(lit(tau) * col("ph")))
          .withColumn("c2", cos(lit(2.0 * tau) * col("ph")))
          .withColumn("s2", sin(lit(2.0 * tau) * col("ph")))
          .groupBy("user_id")
          .agg(max("best_period_s").as("best_period_s"),
            count(lit(1)).as("n"), sum("v").as("sy"),
            sum(col("c1")).as("sc1"), sum(col("s1")).as("ss1"),
            sum(col("c2")).as("sc2"), sum(col("s2")).as("ss2"),
            sum(col("v") * col("c1")).as("syc1"),
            sum(col("v") * col("s1")).as("sys1"),
            sum(col("v") * col("c2")).as("syc2"),
            sum(col("v") * col("s2")).as("sys2"))
          .where(col("n") >= 5L)
        val nD = col("n").cast("double")
        def coef(syc: org.apache.spark.sql.Column,
            sc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          rnd(lit(2.0) / nD * (syc - col("sy") / nD * sc), 6)
        val cf = g.select(col("user_id"), col("best_period_s"), col("n"),
          coef(col("syc1"), col("sc1")).as("a1"),
          coef(col("sys1"), col("ss1")).as("b1"),
          coef(col("syc2"), col("sc2")).as("a2"),
          coef(col("sys2"), col("ss2")).as("b2"))
        val amp1 = sqrt(col("a1") * col("a1") + col("b1") * col("b1"))
        val amp2 = sqrt(col("a2") * col("a2") + col("b2") * col("b2"))
        val dphi = atan2(col("b2"), col("a2")) -
          lit(2.0) * atan2(col("b1"), col("a1"))
        cf.select(col("user_id"), col("best_period_s"), col("n"),
            col("a1"), col("b1"), col("a2"), col("b2"),
            rnd(amp1, 6).as("amp1"), rnd(amp2, 6).as("amp2"),
            rnd(amp2 / greatest(amp1, lit(1e-9)), 6).as("r21"),
            rnd(((dphi % lit(tau)) + lit(tau)) % lit(tau), 6).as("phi21"))
          .orderBy("user_id")
      },
      Some(s"""$bestPeriodsSql,
             |obs AS (
             |  SELECT t.user_id, b.best_period_s,
             |    CAST(t.t % b.best_period_s AS DOUBLE) / b.best_period_s AS ph,
             |    t.value AS v
             |  FROM t JOIN best b USING (user_id)),
             |tm AS (
             |  SELECT user_id, max(best_period_s) AS best_period_s,
             |    CAST(count(*) AS BIGINT) AS n, sum(v) AS sy,
             |    sum(cos(6.283185307179586 * ph)) AS sc1,
             |    sum(sin(6.283185307179586 * ph)) AS ss1,
             |    sum(cos(2 * 6.283185307179586 * ph)) AS sc2,
             |    sum(sin(2 * 6.283185307179586 * ph)) AS ss2,
             |    sum(v * cos(6.283185307179586 * ph)) AS syc1,
             |    sum(v * sin(6.283185307179586 * ph)) AS sys1,
             |    sum(v * cos(2 * 6.283185307179586 * ph)) AS syc2,
             |    sum(v * sin(2 * 6.283185307179586 * ph)) AS sys2
             |  FROM obs GROUP BY user_id
             |  HAVING count(*) >= 5),
             |cf AS (
             |  SELECT user_id, best_period_s, n,
             |    floor((2e0 / n * (syc1 - sy / n * sc1)) * 1e6 + 0.5) / 1e6 AS a1,
             |    floor((2e0 / n * (sys1 - sy / n * ss1)) * 1e6 + 0.5) / 1e6 AS b1,
             |    floor((2e0 / n * (syc2 - sy / n * sc2)) * 1e6 + 0.5) / 1e6 AS a2,
             |    floor((2e0 / n * (sys2 - sy / n * ss2)) * 1e6 + 0.5) / 1e6 AS b2
             |  FROM tm)
             |SELECT user_id, best_period_s, n, a1, b1, a2, b2,
             |  floor(sqrt(a1*a1 + b1*b1) * 1e6 + 0.5) / 1e6 AS amp1,
             |  floor(sqrt(a2*a2 + b2*b2) * 1e6 + 0.5) / 1e6 AS amp2,
             |  floor((sqrt(a2*a2 + b2*b2)
             |    / greatest(sqrt(a1*a1 + b1*b1), 1e-9)) * 1e6 + 0.5) / 1e6 AS r21,
             |  floor(((((atan2(b2, a2) - 2 * atan2(b1, a1))
             |      % 6.283185307179586) + 6.283185307179586)
             |      % 6.283185307179586) * 1e6 + 0.5) / 1e6 AS phi21
             |FROM cf ORDER BY user_id""".stripMargin)),

    // TRANSIT VETTING — the gate AFTER detection [PK — the Kepler/TESS
    // Robovetter's two workhorse tests, run on every BLS detection before
    // it becomes a planet candidate: (1) the ODD/EVEN depth test — an
    // eclipsing binary detected at HALF its true period alternates
    // primary and secondary eclipses in the same folded bin, so folding
    // at 2P separates odd from even transits and a depth mismatch
    // unmasks the EB; (2) the SECONDARY-ECLIPSE test — a significant dip
    // at opposite phase (bin b+8 of 16) is the direct EB signature].
    // Runs on lc_bls's own detection (the identical integer box chain —
    // period, transit bin, micro-unit flux sums), then ONE pass over the
    // series computes all five lanes as conditional integer sums: the
    // primary and secondary bins at the P fold, the odd and even transit
    // bins at the 2P fold (bin32 = bin16 + 16·[second period]), and the
    // series totals — out-of-transit means subtract the in-bin lanes
    // from the totals, so no second grouping is needed. Every depth is
    // exact-integer micro-sums divided once and rounded at 1e-6
    // (lc_bls's discipline); the verdict CASE compares only those
    // rounded doubles (products with the 0.5 thresholds are
    // deterministic IEEE on identical operands), so the classification
    // cannot float between engines. Lanes with empty bins emit NULL
    // depths and the verdict 'insufficient' — the min-coverage gate
    // every real vetter applies. Scale: the detection is lc_bls's
    // grid-bounded fan-out; the vet itself is ONE shuffle on the object
    // key with the per-object detection broadcast back — at 100 TB the
    // vet rides the same standing fold the search already paid for.
    QDef(
      "lc_transit_vet",
      (s, dir) => {
        val nBins = 16L
        val t = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vu"))
        // lc_bls's detection chain, verbatim: best (period, transit bin).
        val bins = t
          .withColumn("k", explode(sequence(lit(0L), lit(11L))))
          .withColumn("period_s", lit(21600L) * (col("k") + 1L))
          .withColumn("bin", expr(s"((t % period_s) * $nBins) div period_s"))
          .groupBy("user_id", "period_s", "bin")
          .agg(count(lit(1)).as("n_b"), sum("vu").as("su_b"))
        val tot = bins.groupBy("user_id", "period_s")
          .agg(sum("n_b").as("nn"), sum("su_b").as("su_tot"))
        val scored = bins.join(tot, Seq("user_id", "period_s"))
          .where(col("n_b") >= 2L && col("n_b") < col("nn"))
          .withColumn("a", col("su_b") * col("nn") - col("n_b") * col("su_tot"))
          .withColumn("score",
            rnd(col("a").cast("double") * col("a").cast("double") /
              (lit(1e12) * (col("n_b") * (col("nn") - col("n_b"))).cast("double")), 6))
        val perPeriod = scored.groupBy("user_id", "period_s")
          .agg(max(struct(col("score"), (-col("bin")).as("nb"))).as("m"))
          .select(col("user_id"), col("period_s"),
            col("m.score").as("bls"), (-col("m.nb")).as("tbin"))
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("bls").desc, col("period_s"))
        val det = perPeriod
          .withColumn("rn", row_number().over(wB))
          .where(col("rn") === 1)
          .select(col("user_id"), col("period_s").as("p"), col("tbin"))
        // The vet: one pass, five conditional-sum lanes + totals.
        val g = t.join(broadcast(det), "user_id")
          .withColumn("b16", expr(s"((t % p) * $nBins) div p"))
          .withColumn("b32", expr(s"((t % (2 * p)) * ${2 * nBins}) div (2 * p)"))
          .withColumn("sbin", (col("tbin") + lit(8L)) % lit(16L))
          .groupBy("user_id")
          .agg(max("p").as("best_period_s"), max("tbin").as("transit_bin"),
            count(lit(1)).as("nn"), sum("vu").as("su"),
            sum(when(col("b16") === col("tbin"), 1L).otherwise(0L)).as("n_pri"),
            sum(when(col("b16") === col("tbin"), col("vu")).otherwise(0L)).as("su_pri"),
            sum(when(col("b16") === col("sbin"), 1L).otherwise(0L)).as("n_sec"),
            sum(when(col("b16") === col("sbin"), col("vu")).otherwise(0L)).as("su_sec"),
            sum(when(col("b32") === col("tbin"), 1L).otherwise(0L)).as("n_odd"),
            sum(when(col("b32") === col("tbin"), col("vu")).otherwise(0L)).as("su_odd"),
            sum(when(col("b32") === col("tbin") + lit(16L), 1L).otherwise(0L)).as("n_evn"),
            sum(when(col("b32") === col("tbin") + lit(16L), col("vu")).otherwise(0L)).as("su_evn"))
        val nOut = col("nn") - col("n_pri") - col("n_sec")
        val suOut = col("su") - col("su_pri") - col("su_sec")
        val nOut2 = col("nn") - col("n_odd") - col("n_evn")
        val suOut2 = col("su") - col("su_odd") - col("su_evn")
        def mdiff(nO: org.apache.spark.sql.Column,
            sO: org.apache.spark.sql.Column, nI: org.apache.spark.sql.Column,
            sI: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(nO > 0L && nI > 0L,
            rnd((sO.cast("double") / nO.cast("double") -
              sI.cast("double") / nI.cast("double")) / lit(1e6), 6))
        val vet = g.select(col("user_id"), col("best_period_s"),
            col("transit_bin"), col("n_pri"), col("n_sec"),
            col("n_odd"), col("n_evn"),
            mdiff(nOut, suOut, col("n_pri"), col("su_pri")).as("depth"),
            mdiff(nOut, suOut, col("n_sec"), col("su_sec")).as("d_sec"),
            mdiff(nOut2, suOut2, col("n_odd"), col("su_odd")).as("d_odd"),
            mdiff(nOut2, suOut2, col("n_evn"), col("su_evn")).as("d_evn"))
          .withColumn("oe_diff", rnd(abs(col("d_odd") - col("d_evn")), 6))
        vet.select(col("user_id"), col("best_period_s"), col("transit_bin"),
            col("depth"), col("d_sec"), col("d_odd"), col("d_evn"),
            col("oe_diff"),
            when(col("n_pri") < 2L || col("n_sec") < 1L ||
                col("n_odd") < 1L || col("n_evn") < 1L ||
                col("depth").isNull || col("d_sec").isNull ||
                col("oe_diff").isNull, lit("insufficient"))
              .when(col("depth") > 0.0 &&
                col("d_sec") > lit(0.5) * col("depth"), lit("eb_secondary"))
              .when(col("oe_diff") >
                lit(0.5) * greatest(abs(col("d_odd")), abs(col("d_evn"))),
                lit("eb_odd_even"))
              .when(col("depth") > 0.0, lit("candidate"))
              .otherwise(lit("no_transit")).as("verdict"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
             |  FROM events WHERE value > 0.0),
             |bins AS (
             |  SELECT user_id, 21600 * (g.k + 1) AS period_s,
             |    ((t % (21600 * (g.k + 1))) * 16) // (21600 * (g.k + 1)) AS bin,
             |    count(*) AS n_b, CAST(sum(vu) AS BIGINT) AS su_b
             |  FROM t CROSS JOIN generate_series(0, 11) g(k)
             |  GROUP BY 1, 2, 3),
             |tot AS (
             |  SELECT user_id, period_s, CAST(sum(n_b) AS BIGINT) AS nn,
             |    CAST(sum(su_b) AS BIGINT) AS su_tot
             |  FROM bins GROUP BY 1, 2),
             |scored AS (
             |  SELECT user_id, period_s, bin,
             |    floor((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
             |      / (1e12 * CAST(n_b * (nn - n_b) AS DOUBLE))) * 1e6 + 0.5)
             |      / 1e6 AS score
             |  FROM (
             |    SELECT b.*, t.nn, t.su_tot,
             |      b.su_b * t.nn - b.n_b * t.su_tot AS a
             |    FROM bins b JOIN tot t USING (user_id, period_s)
             |    WHERE b.n_b >= 2 AND b.n_b < t.nn)),
             |per AS (
             |  SELECT user_id, period_s, score AS bls, bin AS tbin
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, period_s
             |          ORDER BY score DESC, bin ASC) AS rb FROM scored)
             |  WHERE rb = 1),
             |det AS (
             |  SELECT user_id, period_s AS p, tbin
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY bls DESC, period_s ASC) AS rn FROM per)
             |  WHERE rn = 1),
             |g AS (
             |  SELECT t.user_id, max(d.p) AS best_period_s,
             |    max(d.tbin) AS transit_bin,
             |    CAST(count(*) AS BIGINT) AS nn, CAST(sum(vu) AS BIGINT) AS su,
             |    CAST(sum(CASE WHEN ((t % p) * 16) // p = tbin THEN 1 ELSE 0 END) AS BIGINT) AS n_pri,
             |    CAST(sum(CASE WHEN ((t % p) * 16) // p = tbin THEN vu ELSE 0 END) AS BIGINT) AS su_pri,
             |    CAST(sum(CASE WHEN ((t % p) * 16) // p = (tbin + 8) % 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_sec,
             |    CAST(sum(CASE WHEN ((t % p) * 16) // p = (tbin + 8) % 16 THEN vu ELSE 0 END) AS BIGINT) AS su_sec,
             |    CAST(sum(CASE WHEN ((t % (2 * p)) * 32) // (2 * p) = tbin THEN 1 ELSE 0 END) AS BIGINT) AS n_odd,
             |    CAST(sum(CASE WHEN ((t % (2 * p)) * 32) // (2 * p) = tbin THEN vu ELSE 0 END) AS BIGINT) AS su_odd,
             |    CAST(sum(CASE WHEN ((t % (2 * p)) * 32) // (2 * p) = tbin + 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_evn,
             |    CAST(sum(CASE WHEN ((t % (2 * p)) * 32) // (2 * p) = tbin + 16 THEN vu ELSE 0 END) AS BIGINT) AS su_evn
             |  FROM t JOIN det d USING (user_id)
             |  GROUP BY t.user_id),
             |vet AS (
             |  SELECT user_id, best_period_s, transit_bin,
             |    n_pri, n_sec, n_odd, n_evn,
             |    CASE WHEN (nn - n_pri - n_sec) > 0 AND n_pri > 0 THEN
             |      floor(((CAST(su - su_pri - su_sec AS DOUBLE) / CAST(nn - n_pri - n_sec AS DOUBLE)
             |        - CAST(su_pri AS DOUBLE) / CAST(n_pri AS DOUBLE)) / 1e6) * 1e6 + 0.5) / 1e6
             |      ELSE NULL END AS depth,
             |    CASE WHEN (nn - n_pri - n_sec) > 0 AND n_sec > 0 THEN
             |      floor(((CAST(su - su_pri - su_sec AS DOUBLE) / CAST(nn - n_pri - n_sec AS DOUBLE)
             |        - CAST(su_sec AS DOUBLE) / CAST(n_sec AS DOUBLE)) / 1e6) * 1e6 + 0.5) / 1e6
             |      ELSE NULL END AS d_sec,
             |    CASE WHEN (nn - n_odd - n_evn) > 0 AND n_odd > 0 THEN
             |      floor(((CAST(su - su_odd - su_evn AS DOUBLE) / CAST(nn - n_odd - n_evn AS DOUBLE)
             |        - CAST(su_odd AS DOUBLE) / CAST(n_odd AS DOUBLE)) / 1e6) * 1e6 + 0.5) / 1e6
             |      ELSE NULL END AS d_odd,
             |    CASE WHEN (nn - n_odd - n_evn) > 0 AND n_evn > 0 THEN
             |      floor(((CAST(su - su_odd - su_evn AS DOUBLE) / CAST(nn - n_odd - n_evn AS DOUBLE)
             |        - CAST(su_evn AS DOUBLE) / CAST(n_evn AS DOUBLE)) / 1e6) * 1e6 + 0.5) / 1e6
             |      ELSE NULL END AS d_evn
             |  FROM g),
             |vet2 AS (
             |  SELECT *, floor((abs(d_odd - d_evn)) * 1e6 + 0.5) / 1e6 AS oe_diff
             |  FROM vet)
             |SELECT user_id, best_period_s, transit_bin, depth, d_sec,
             |  d_odd, d_evn, oe_diff,
             |  CASE WHEN n_pri < 2 OR n_sec < 1 OR n_odd < 1 OR n_evn < 1
             |         OR depth IS NULL OR d_sec IS NULL OR oe_diff IS NULL
             |       THEN 'insufficient'
             |       WHEN depth > 0e0 AND d_sec > 0.5 * depth THEN 'eb_secondary'
             |       WHEN oe_diff > 0.5 * greatest(abs(d_odd), abs(d_evn))
             |       THEN 'eb_odd_even'
             |       WHEN depth > 0e0 THEN 'candidate'
             |       ELSE 'no_transit' END AS verdict
             |FROM vet2 ORDER BY user_id""".stripMargin)),

    // ALERT STREAM [PK — the transient-detection step every survey broker
    // (ZTF/LSST shape) runs on each night's epochs]: an object ALERTS
    // when its LATEST epoch deviates more than 3σ from its own history's
    // baseline (over every EARLIER epoch — the current epoch must not
    // contaminate the baseline it is tested against), with a
    // minimum-history gate so young objects can't alert off noise.
    // ERROR-WEIGHTED (round 17, the [[fluxErr]] proxy threaded through):
    // the baseline mean is the inverse-variance-weighted mean with Poisson
    // weights w = 1/σ_v² = 2500/v — the constant cancels, so
    // μ_w = n/Σ(1/v), the harmonic mean — and the z denominator adds the
    // latest point's OWN measurement error in quadrature:
    // z = (v_last − μ_w)/√(σ_hist² + σ_last²), the broker form (a bright
    // noisy point must clear a higher bar than a faint precise one). The
    // latest epoch is the determinized argmax (t, event_id) — the
    // family's tie discipline; σ_hist uses the same stddev_samp parity as
    // agg_stats; z and the 3σ compare happen on the 1e-6 grid so the
    // boolean is engine-stable. Scale shape: ONE shuffle on the object
    // key serves both the argmax and the history moments (grouping key ⊇
    // window partition key — no second exchange); Σ(1/v) is as mergeable
    // as Σv, so at 100 TB the baseline still comes from standing
    // per-object STATE (agg_incremental's mergeable moments) and a
    // night's alerting cost is O(night), not O(history) — this query is
    // the recompute-from-scratch form the incremental path must equal.
    QDef(
      "lc_alerts",
      (s, dir) => {
        val t = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("t"), col("value"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("t").desc, col("event_id").desc)
        val marked = t.withColumn("rn", row_number().over(w))
        val latest = marked.where(col("rn") === 1)
          .select(col("user_id"), col("value").as("last_value"))
        val base = marked.where(col("rn") > 1)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_hist"),
            (count(lit(1)).cast("double") / sum(lit(1.0) / col("value")))
              .as("mu"),
            stddev_samp(col("value")).as("sigma"))
        latest.join(base, "user_id")
          .withColumn("last_err", fluxErr(col("last_value")))
          .withColumn("z", rnd((col("last_value") - col("mu")) /
            sqrt(col("sigma") * col("sigma") +
              col("last_err") * col("last_err")), 6))
          .select(col("user_id"), col("n_hist"),
            rnd(col("last_value"), 6).as("last_value"),
            rnd(col("mu"), 6).as("mu"),
            rnd(col("last_err"), 6).as("last_err"), col("z"),
            (col("n_hist") >= 20L && abs(col("z")) > lit(3.0)).as("alert"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (
             |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    value
             |  FROM events WHERE value > 0.0),
             |marked AS (
             |  SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY t DESC, event_id DESC) AS rn
             |  FROM t),
             |latest AS (
             |  SELECT user_id, value AS last_value FROM marked WHERE rn = 1),
             |base AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_hist,
             |    CAST(count(*) AS DOUBLE) / sum(1.0 / value) AS mu,
             |    stddev_samp(value) AS sigma
             |  FROM marked WHERE rn > 1 GROUP BY user_id)
             |SELECT user_id, n_hist,
             |  floor((last_value) * 1e6 + 0.5) / 1e6 AS last_value,
             |  floor((mu) * 1e6 + 0.5) / 1e6 AS mu,
             |  floor((0.02 * sqrt(last_value)) * 1e6 + 0.5) / 1e6 AS last_err,
             |  z,
             |  (n_hist >= 20 AND abs(z) > 3.0) AS alert
             |FROM (
             |  SELECT l.user_id, n_hist, last_value, mu,
             |    floor(((last_value - mu) / sqrt(sigma * sigma +
             |      (0.02 * sqrt(last_value)) * (0.02 * sqrt(last_value))))
             |      * 1e6 + 0.5) / 1e6 AS z
             |  FROM latest l JOIN base USING (user_id))
             |ORDER BY user_id""".stripMargin)),

    // Flare detection [PK — stellar-flare / transient-brightening search:
    // an astronomer's flare is not ONE bright point (lc_alerts' shape) but
    // a RUN of consecutive elevated observations]. Per object: flag
    // observations elevated beyond 1.5σ of the object's own mean/stddev,
    // then group consecutive flagged observations with the
    // win_gaps_islands key (global row_number minus flagged row_number —
    // constant within a run, shifted by any gap) and keep runs of length
    // ≥ 2. THE FLAG IS INTEGER-EXACT (lc_hampel's discipline): values
    // round once onto the micro-unit grid, and z > 1.5 is evaluated as
    // the cross-multiplied inequality 4·(n−1)·(n·v − S)² > 9·n·(n·Q − S²)
    // with n·v > S, where S = Σv and Q = Σv² are exact decimal sums — no
    // avg/stddev float ever reaches a comparison, so a low-bit FP
    // difference between engines cannot flip a flag and restructure the
    // whole gaps-and-islands census (the compounding an FP boundary would
    // invite). The reported peak z is display-only, derived from the same
    // integer sums and rounded once. Ordering ties break on (t, event_id)
    // — total order, engine-identical. Output: per-object flare census
    // (count, longest run, peak z, total flared points). Scale: ONE
    // object-key shuffle carries the stats join, both windows, and the
    // census rollup (grouping keys ⊇ partition key); per-object state is
    // the series length — the lc-family premise. Decimal(38) headroom:
    // the widest term 4(n−1)·dd² with dd = n·v − S ≤ 2n·vmax needs
    // 16·n³·vmax² < 1e38 — safe for n·vmax ≲ 1e17 (e.g. n=1e6 points at
    // micro-unit values < ~2.5e11), NOT for arbitrary 1e12-unit values.
    // Past that, Spark's non-ANSI decimal multiply NULLs and the WHERE
    // would silently unflag rows (DuckDB HUGEINT would error instead) — so
    // a row-level assert_true guard (double-precision magnitude check with
    // a 10% margin, fused into the filter so column pruning cannot drop
    // it) makes overflow fail LOUDLY instead of diverging cross-engine.
    QDef(
      "lc_flares",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val obs = T.events(s, dir)
          .where(col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("t"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vu"))
        val stats = obs.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(col("vu").cast("decimal(38,0)")).as("sv"),
            sum(col("vu").cast("decimal(38,0)") * col("vu")).as("qv"))
        val z = obs.join(stats, "user_id")
          .withColumn("dd",
            col("n").cast("decimal(38,0)") * col("vu") - col("sv"))
          .withColumn("varnum", col("n") * col("qv") - col("sv") * col("sv"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id").orderBy("t", "event_id")))
        // Overflow guard: the exact-integer flag is only trustworthy while
        // every decimal(38) term stays in range — checked here in DOUBLE
        // (magnitudes only, 10% margin) so an out-of-premise series raises
        // instead of silently unflagging via non-ANSI decimal NULLs. The
        // double-side varnum is recomputed from raw sums because the
        // decimal varnum itself may already be NULL on overflow; a NULL
        // condition also raises (assert_true throws on null or false).
        // Nullness of dd/varnum is asserted EXPLICITLY: greatest() skips
        // NULL operands, so a NULLed decimal term alone would not trip the
        // double-side magnitude check — the exact silent-unflag mode this
        // guard exists to prevent.
        val nD = col("n").cast("double")
        val inRange = assert_true(
          col("dd").isNotNull && col("varnum").isNotNull &&
          greatest(
            lit(4.0) * (nD - 1.0) * pow(col("dd").cast("double"), 2),
            lit(9.0) * nD *
              (nD * col("qv").cast("double") -
                pow(col("sv").cast("double"), 2))) < lit(9e37),
          lit("lc_flares: decimal(38) overflow risk (series length × value" +
            " magnitude exceeds the exact-flag premise n·vmax ≲ 1e17)"))
        val flagged = z
          .where(inRange.isNull &&
            col("dd") > 0 &&
            col("dd") * col("dd") * (lit(4L) * (col("n") - 1L)) >
              col("varnum") * (lit(9L) * col("n")))
          .withColumn("zf", rnd(
            col("dd").cast("double") / col("n").cast("double") /
              sqrt(col("varnum").cast("double") /
                (col("n") * (col("n") - 1L)).cast("double")), 6))
          .withColumn("rno", row_number().over(
            Window.partitionBy("user_id").orderBy("t", "event_id")))
          .withColumn("island", col("rn") - col("rno"))
        flagged.groupBy("user_id", "island")
          .agg(count(lit(1)).as("len"), max("zf").as("zpk"))
          .where(col("len") >= 2L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_flares"), max("len").as("longest"),
            rnd(max(col("zpk")), 6).as("peak_z"),
            sum("len").cast("long").as("n_flare_points"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT)
             |    AS t, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
             |  FROM events WHERE value IS NOT NULL),
             |stats AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(vu AS HUGEINT)) AS HUGEINT) AS sv,
             |    CAST(sum(CAST(vu AS HUGEINT) * vu) AS HUGEINT) AS qv
             |  FROM obs GROUP BY 1),
             |z AS (
             |  SELECT o.user_id, o.event_id, o.t,
             |    CAST(n AS HUGEINT) * vu - sv AS dd,
             |    n * qv - sv * sv AS varnum, n,
             |    row_number() OVER (PARTITION BY o.user_id
             |      ORDER BY o.t, o.event_id) AS rn
             |  FROM obs o JOIN stats USING (user_id)),
             |flagged AS (
             |  SELECT user_id,
             |    floor((CAST(dd AS DOUBLE) / n
             |      / sqrt(CAST(varnum AS DOUBLE) / (n * (n - 1))))
             |      * 1e6 + 0.5) / 1e6 AS zf,
             |    rn - row_number() OVER (
             |      PARTITION BY user_id ORDER BY t, event_id) AS island
             |  FROM z WHERE dd > 0
             |    AND dd * dd * (4 * (n - 1)) > varnum * (9 * n)),
             |runs AS (
             |  SELECT user_id, island, count(*) AS len, max(zf) AS zpk
             |  FROM flagged GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT user_id, count(*) AS n_flares,
             |  CAST(max(len) AS BIGINT) AS longest,
             |  floor((max(zpk)) * 1e6 + 0.5) / 1e6 AS peak_z,
             |  CAST(sum(len) AS BIGINT) AS n_flare_points
             |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Hampel filter [PK — the rolling-median robust outlier detector, the
    // standard alternative to z-scores when the series itself drifts: a
    // point is an outlier against its LOCAL window median, not the global
    // mean, so trends and level shifts don't mask (or fake) outliers].
    // Per object, time-ordered: a ±3-row window collects values (micro-
    // unit integers after ONE 1e-6 rounding), the window median is the
    // sorted-list LOWER median — exact integer, defined identically at
    // series edges where the frame shrinks — and MAD = median(|v − med|)
    // from the SAME collected list; flag dev > 3·MAD. Every comparison is
    // integer, so the flag cannot float between engines. Scale: ONE
    // object-key shuffle carries the window and the census (grouping key
    // ⊇ partition key); per-row state is the BOUNDED ±3 frame — constant
    // memory at any series length, unlike a global-stats pass.
    QDef(
      "lc_hampel",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
          .rowsBetween(-3, 3)
        T.events(s, dir)
          .where(col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("t"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vu"))
          .withColumn("lst", collect_list("vu").over(w))
          .withColumn("med",
            expr("element_at(array_sort(lst), cast((size(lst) + 1) div 2 as int))"))
          .withColumn("mad",
            expr("element_at(array_sort(transform(lst, x -> abs(x - med)))," +
              " cast((size(lst) + 1) div 2 as int))"))
          .withColumn("dev", abs(col("vu") - col("med")))
          .withColumn("flagged", col("dev") > col("mad") * 3L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
            max(when(col("flagged"), col("dev"))).as("max_dev"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT)
             |    AS t, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
             |  FROM events WHERE value IS NOT NULL),
             |win AS (
             |  SELECT user_id, vu, list(vu) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id
             |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS lst
             |  FROM obs),
             |med AS (
             |  SELECT user_id, vu,
             |    list_sort(lst)[(len(lst) + 1) // 2] AS med, lst
             |  FROM win),
             |dev AS (
             |  SELECT user_id, abs(vu - med) AS dev,
             |    abs(vu - med) > 3 * list_sort(
             |      list_transform(lst, x -> abs(x - med)))[(len(lst) + 1) // 2]
             |      AS flagged
             |  FROM med)
             |SELECT user_id, count(*) AS n_obs,
             |  CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_flagged,
             |  CAST(max(CASE WHEN flagged THEN dev END) AS BIGINT) AS max_dev
             |FROM dev GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Box least squares transit search [PK — Kovács, Zucker & Mazeh 2002,
    // the standard detached-eclipse/transit period finder; completes the
    // period trio next to lc_periods (PDM) and lc_lombscargle]: for each
    // trial period the curve folds into 16 phase bins and each bin is
    // tested as the in-transit BOX — signal residue
    // score = d² / (r(1−r)) with r = n_in/N and d the mean-subtracted
    // in-box flux sum; the deepest box per period and the best period per
    // object win (ties → smallest bin/period on the 1e-6-rounded grid,
    // the family's determinized-argmax discipline). Scale shape is
    // lc_periods': the ×12 trial-period fan-out collapses map-side into
    // per-(user, period, bin) partials BEFORE the shuffle; per-period
    // totals re-aggregate from the BIN table (aggregate-sized — never a
    // second corpus pass) and join back; both argmaxes are max(struct)
    // aggregates / one reused-partitioning window, no corpus sort.
    // Integer phase fold ((t mod P)·B div P) — no double division to
    // diverge cross-engine.
    QDef(
      "lc_bls",
      (s, dir) => {
        val nBins = 16L
        // Flux sums are EXACT integers (micro-units): value rounds once to
        // the 1e-6 grid per observation, and every aggregate from there is
        // integer arithmetic — so both engines divide bit-identical
        // operands and NO merge order can flip the rounded score (a
        // double-sum formulation flipped last-digit at sf0.1: scores reach
        // ~1e6, where even a 1e-3 grid straddles sum noise). Algebra:
        // d = s_b − r·stot = A/(N·1e6) with A = sµ_b·N − n_b·Sµ, giving
        // score = d²/(r(1−r)) = A² / (1e12·n_b·(N−n_b)). A stays well
        // inside Long at fixture scale (~1e13); curves long enough to
        // overflow it switch the micro-sums to DECIMAL — a type change,
        // not a shape change.
        val t = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vu"))
        val bins = t
          .withColumn("k", explode(sequence(lit(0L), lit(11L))))
          .withColumn("period_s", lit(21600L) * (col("k") + 1L))
          .withColumn("bin", expr(s"((t % period_s) * $nBins) div period_s"))
          .groupBy("user_id", "period_s", "bin")
          .agg(count(lit(1)).as("n_b"), sum("vu").as("su_b"))
        val tot = bins.groupBy("user_id", "period_s")
          .agg(sum("n_b").as("nn"), sum("su_b").as("su_tot"))
        val scored = bins.join(tot, Seq("user_id", "period_s"))
          .where(col("n_b") >= 2L && col("n_b") < col("nn"))
          .withColumn("a", col("su_b") * col("nn") - col("n_b") * col("su_tot"))
          .withColumn("score",
            rnd(col("a").cast("double") * col("a").cast("double") /
              (lit(1e12) * (col("n_b") * (col("nn") - col("n_b"))).cast("double")), 6))
          .withColumn("dp",
            rnd((col("su_tot").cast("double") / col("nn").cast("double") -
              col("su_b").cast("double") / col("n_b").cast("double")) / lit(1e6), 6))
        val perPeriod = scored.groupBy("user_id", "period_s")
          .agg(max(struct(col("score"), (-col("bin")).as("nb"), col("dp")))
            .as("m"))
          .select(col("user_id"), col("period_s"),
            col("m.score").as("bls"), (-col("m.nb")).as("transit_bin"),
            col("m.dp").as("depth"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("bls").desc, col("period_s"))
        perPeriod
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("period_s").as("best_period_s"),
            col("transit_bin"), col("bls"), col("depth"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
             |  FROM events WHERE value > 0.0),
             |bins AS (
             |  SELECT user_id, 21600 * (g.k + 1) AS period_s,
             |    ((t % (21600 * (g.k + 1))) * 16) // (21600 * (g.k + 1)) AS bin,
             |    count(*) AS n_b, CAST(sum(vu) AS BIGINT) AS su_b
             |  FROM t CROSS JOIN generate_series(0, 11) g(k)
             |  GROUP BY 1, 2, 3),
             |tot AS (
             |  SELECT user_id, period_s, CAST(sum(n_b) AS BIGINT) AS nn,
             |    CAST(sum(su_b) AS BIGINT) AS su_tot
             |  FROM bins GROUP BY 1, 2),
             |scored AS (
             |  SELECT user_id, period_s, bin,
             |    floor((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
             |      / (1e12 * CAST(n_b * (nn - n_b) AS DOUBLE))) * 1e6 + 0.5) / 1e6
             |      AS score,
             |    floor(((CAST(su_tot AS DOUBLE) / CAST(nn AS DOUBLE)
             |      - CAST(su_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 1e6) * 1e6 + 0.5) / 1e6
             |      AS dp
             |  FROM (
             |    SELECT b.*, t.nn, t.su_tot,
             |      b.su_b * t.nn - b.n_b * t.su_tot AS a
             |    FROM bins b JOIN tot t USING (user_id, period_s)
             |    WHERE b.n_b >= 2 AND b.n_b < t.nn)),
             |per AS (
             |  SELECT user_id, period_s, score AS bls, bin AS transit_bin, dp AS depth
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, period_s
             |          ORDER BY score DESC, bin ASC) AS rb
             |        FROM scored)
             |  WHERE rb = 1)
             |SELECT user_id, period_s AS best_period_s, transit_bin, bls, depth
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY bls DESC, period_s ASC) AS rn
             |      FROM per)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Fixed-width histogram: bucket id = floor(value / width) — no global
    // min/max pass, so the whole query is ONE partial-aggregating groupBy
    // (shuffle volume = bucket count × partitions, constant at any data
    // scale). IEEE double division + floor are exact cross-engine.
    QDef(
      "agg_hist",
      (s, dir) =>
        T.events(s, dir)
          .withColumn("bucket", floor(col("value") / 25.0).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), rnd(avg(col("value")), 6).as("avg_v"))
          .withColumn("lo", (col("bucket") * 25.0))
          .select("bucket", "lo", "n", "avg_v")
          .orderBy("bucket"),
      Some("""SELECT bucket, bucket * 25.0 AS lo, count(*) AS n,
             |  floor((avg(value)) * 1e6 + 0.5) / 1e6 AS avg_v
             |FROM (SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, value
             |      FROM events)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Per-group mode (most frequent value) with a deterministic lexicographic
    // tiebreak: counted groupBy then a 1-row-per-group window filter. Both
    // stages cluster on user_id, so the window reuses the groupBy shuffle.
    QDef(
      "agg_mode",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("cnt").desc, col("event_type").asc)
        T.events(s, dir)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"), col("cnt"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_type AS mode_type, cnt
             |FROM (SELECT user_id, event_type, count(*) AS cnt,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY count(*) DESC, event_type ASC) AS rn
             |      FROM events GROUP BY user_id, event_type)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Sigma-clipping outlier detection [PK — the light-curve cleaning step
    // before any feature/period extraction]: per-object mean and stddev via
    // window (no self-join), flag |z| > 2 on the ROUNDED z-score so the
    // boundary compare is engine-stable. One shuffle on user_id.
    QDef(
      "lc_outliers",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        T.events(s, dir)
          .withColumn("mu", avg(col("value")).over(w))
          .withColumn("sd", stddev_samp(col("value")).over(w))
          .where(col("sd") > 0.0)
          .withColumn("z", rnd((col("value") - col("mu")) / col("sd"), 6))
          .where(abs(col("z")) > 2.0)
          .select(col("user_id"), col("event_id"),
            rnd(col("value"), 6).as("value"), col("z"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  floor((value) * 1e6 + 0.5) / 1e6 AS value, z
             |FROM (SELECT user_id, event_id, value,
             |        floor(((value - avg(value) OVER (PARTITION BY user_id)) /
             |          stddev_samp(value) OVER (PARTITION BY user_id)) * 1e6 + 0.5) / 1e6 AS z,
             |        stddev_samp(value) OVER (PARTITION BY user_id) AS sd
             |      FROM events)
             |WHERE sd > 0.0 AND abs(z) > 2.0
             |ORDER BY user_id, event_id""".stripMargin)),

    // Time-binned light curve [PK — epoch re-binning to a uniform daily
    // cadence]: bin key is exact integer division of epoch seconds, one
    // partial-aggregating groupBy on (user_id, day).
    QDef(
      "lc_binning",
      (s, dir) =>
        T.events(s, dir)
          .select(col("user_id"),
            expr("unix_timestamp(ts) div 86400").as("day"), col("value"))
          .groupBy("user_id", "day")
          .agg(count(lit(1)).as("n"),
            rnd(avg(col("value")), 6).as("avg_v"),
            rnd(min(col("value")), 6).as("min_v"),
            rnd(max(col("value")), 6).as("max_v"))
          .orderBy("user_id", "day"),
      Some("""SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |  count(*) AS n,
             |  floor((avg(value)) * 1e6 + 0.5) / 1e6 AS avg_v,
             |  floor((min(value)) * 1e6 + 0.5) / 1e6 AS min_v,
             |  floor((max(value)) * 1e6 + 0.5) / 1e6 AS max_v
             |FROM events GROUP BY user_id, day ORDER BY user_id, day""".stripMargin)),

    // Linear detrend [PK — secular-drift removal before period analysis]:
    // least-squares slope/intercept per object in CENTERED form
    // (Σ dx·dy / Σ dx² with dx = x − x̄): the raw-moment form n·Σxy − Σx·Σy
    // cancels catastrophically for near-flat series and amplifies
    // merge-order noise past the rounding grid. Means via window, sums via
    // groupBy — both cluster on user_id, one shuffle total.
    QDef(
      "lc_detrend",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        T.events(s, dir)
          .select(col("user_id"),
            unix_timestamp(col("ts")).cast("double").as("x"), col("value").as("y"))
          .withColumn("xb", avg(col("x")).over(w))
          .withColumn("yb", avg(col("y")).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum((col("x") - col("xb")) * (col("y") - col("yb"))).as("sxy"),
            sum((col("x") - col("xb")) * (col("x") - col("xb"))).as("sxx"),
            max(col("xb")).as("xbar"), max(col("yb")).as("ybar"))
          .select(col("user_id"), col("n"),
            rnd(col("sxy") / col("sxx") * 86400.0, 6).as("slope_per_day"),
            rnd(col("ybar") - col("sxy") / col("sxx") * col("xbar"), 6)
              .as("intercept"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS x,
             |    value AS y FROM events),
             |cent AS (
             |  SELECT user_id, x, y,
             |    avg(x) OVER (PARTITION BY user_id) AS xb,
             |    avg(y) OVER (PARTITION BY user_id) AS yb
             |  FROM obs),
             |fit AS (
             |  SELECT user_id, count(*) AS n,
             |    sum((x - xb) * (y - yb)) AS sxy,
             |    sum((x - xb) * (x - xb)) AS sxx,
             |    max(xb) AS xbar, max(yb) AS ybar
             |  FROM cent GROUP BY user_id)
             |SELECT user_id, n,
             |  floor((sxy / sxx * 86400.0) * 1e6 + 0.5) / 1e6 AS slope_per_day,
             |  floor((ybar - sxy / sxx * xbar) * 1e6 + 0.5) / 1e6 AS intercept
             |FROM fit ORDER BY user_id""".stripMargin)),

    // CHANGE-POINT DETECTION [PK — burst/flare/state-transition localization
    // in a light curve]: the CUSUM statistic (Page 1954), per object over
    // the time-ordered flux — cp = argmax_k |k·S_n − n·S_k| … written
    // multiplied through by n so the centered cumsum |S_k − (k/n)·S_n|
    // needs NO division: BIGINT cents in, BIGINT statistic out, zero FP
    // anywhere (the ts_ewma lesson — integer exactness beats float parity
    // every time). Output per object: the split index, the statistic, and
    // the two segments' EXACT flux sums (means would divide; sums carry
    // the same information hash-checkably). Objects with one observation
    // have no interior split and drop out. Scale: one user-key shuffle for
    // the ordered cumsum window, then the argmax collapses MAP-SIDE as a
    // max-of-struct partial agg (stat, −k, S_k) — no second window, no
    // join, no per-candidate passes; the full CUSUM scan of a 100 TB
    // survey is one shuffle + one partial agg.
    QDef(
      "lc_changepoint",
      (s, dir) => {
        val byU = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("sec"), col("event_id"))
        val all = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        T.events(s, dir)
          .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"),
            expr("cast(floor(value * 1e2 + 0.5) as bigint)").as("cents"))
          .withColumn("k", row_number().over(byU).cast("long"))
          .withColumn("sk", sum("cents").over(byU.rowsBetween(Long.MinValue, 0L)))
          .withColumn("n", count(lit(1)).over(all))
          .withColumn("sn", sum("cents").over(all))
          .where(col("k") < col("n"))
          .withColumn("stat", abs(col("n") * col("sk") - col("k") * col("sn")))
          .groupBy("user_id")
          .agg(max(struct(col("stat"), (-col("k")).as("nk"), col("sk"))).as("m"),
            max("n").as("n"), max("sn").as("sn"))
          .select(col("user_id"), col("n"), (-col("m.nk")).as("cp_idx"),
            col("m.stat").as("cusum_stat"),
            col("m.sk").as("pre_sum_cents"),
            (col("sn") - col("m.sk")).as("post_sum_cents"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
             |    CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |r AS (
             |  SELECT user_id,
             |    CAST(row_number() OVER w AS BIGINT) AS k,
             |    CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY sec, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sk,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             |    CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS sn
             |  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
             |c AS (
             |  SELECT user_id, n, k, abs(n * sk - k * sn) AS stat, sk, sn
             |  FROM r WHERE k < n),
             |best AS (
             |  SELECT user_id, n, k AS cp_idx, stat AS cusum_stat, sk, sn,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY stat DESC, k ASC) AS rn
             |  FROM c)
             |SELECT user_id, n, cp_idx, cusum_stat, sk AS pre_sum_cents,
             |  sn - sk AS post_sum_cents
             |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // EXACT WEIGHTED MEDIAN — the weighted-quantile operator warehouses
    // ship (median revenue per unit SOLD, not per line): the smallest
    // value whose cumulative weight reaches half the total (the lower
    // weighted median, deterministic by definition). The tie handling IS
    // the implementation: a RANGE frame makes the running weight
    // per-VALUE cumulative (all peers of the current value included
    // regardless of their order), so no pre-grouping pass is needed and
    // the whole operator is ONE flag-key shuffle — cumulative window +
    // threshold pick, with the final groupBy satisfied by the window's
    // partitioning. Integer weights (quantities), integer threshold
    // comparison (2·cum ≥ tot) — no FP boundary; the median VALUE itself
    // is an untouched parquet double, bit-identical on both engines.
    QDef(
      "agg_weighted_median",
      (s, dir) => {
        val byFlag = org.apache.spark.sql.expressions.Window
          .partitionBy("flag").orderBy("v")
        val cumFrame = byFlag.rangeBetween(Long.MinValue, 0L)
        val all = org.apache.spark.sql.expressions.Window.partitionBy("flag")
        T.lineitem(s, dir)
          .select(col("l_returnflag").as("flag"),
            col("l_extendedprice").as("v"),
            col("l_quantity").cast("long").as("w"))
          .withColumn("cum", sum("w").over(cumFrame))
          .withColumn("tot", sum("w").over(all))
          .groupBy("flag")
          .agg(min(when(lit(2L) * col("cum") >= col("tot"), col("v")))
              .as("wmedian"),
            max("tot").as("total_weight"),
            count(lit(1)).as("n_lines"))
          .orderBy("flag")
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag AS flag, l_extendedprice AS v,
             |    CAST(l_quantity AS BIGINT) AS w
             |  FROM lineitem),
             |c AS (
             |  SELECT flag, v, w,
             |    CAST(sum(w) OVER (PARTITION BY flag ORDER BY v
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum,
             |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
             |  FROM b)
             |SELECT flag, min(CASE WHEN 2 * cum >= tot THEN v END) AS wmedian,
             |  CAST(max(tot) AS BIGINT) AS total_weight, count(*) AS n_lines
             |FROM c GROUP BY flag ORDER BY flag""".stripMargin)),

    // MOMENT-SKETCH RE-AGGREGATION — exact higher-moment statistics
    // (variance, skewness, kurtosis) from MERGEABLE power sums: the
    // per-shard cube stores (n, Σx, Σx², Σx³, Σx⁴) and any rollup of
    // shards re-aggregates those five numbers exactly — the same
    // pre-aggregation contract agg_sketch_reagg demonstrates for distinct
    // counts and agg_pctile_reagg for percentiles, here with NO
    // approximation (power sums are closed under addition; the moments
    // derive at read time). Central-moment identities: μ₃ = E[x³] −
    // 3μE[x²] + 2μ³, μ₄ = E[x⁴] − 4μE[x³] + 6μ²E[x²] − 3μ⁴ — written
    // identically on both engines (x*x, never pow; sqrt is correctly
    // rounded IEEE on both), outputs grid-rounded. At 100 TB the shard
    // table is the stored artifact: a full-corpus skew/kurtosis profile
    // costs one O(shards) metadata scan, never a corpus re-read — and
    // shards merge across days/sources with plain addition.
    QDef(
      "agg_moments_reagg",
      (s, dir) => {
        val x = col("x")
        val shard = T.events(s, dir)
          .select(col("event_type"), (col("user_id") % 8L).as("shard"),
            col("value").as("x"))
          .groupBy("event_type", "shard")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(x).as("s1"), sum(x * x).as("s2"),
            sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
        shard.groupBy("event_type")
          .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
            sum("s3").as("s3"), sum("s4").as("s4"))
          .withColumn("mean", col("s1") / col("n"))
          .withColumn("m2",
            col("s2") / col("n") - col("mean") * col("mean"))
          .select(col("event_type"), col("n").cast("long").as("n_rows"),
            rnd(col("mean"), 6).as("mean"),
            rnd(col("m2"), 6).as("variance"),
            rnd((col("s3") / col("n") - lit(3.0) * col("mean") * (col("s2") / col("n"))
              + lit(2.0) * col("mean") * col("mean") * col("mean"))
              / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
            rnd((col("s4") / col("n") - lit(4.0) * col("mean") * (col("s3") / col("n"))
              + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
              - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
              / (col("m2") * col("m2")), 6).as("kurtosis"))
          .orderBy("event_type")
      },
      Some("""WITH shard AS (
             |  SELECT event_type, user_id % 8 AS shard,
             |    CAST(count(*) AS DOUBLE) AS n,
             |    sum(value) AS s1, sum(value * value) AS s2,
             |    sum(value * value * value) AS s3,
             |    sum(value * value * value * value) AS s4
             |  FROM events GROUP BY 1, 2),
             |agg AS (
             |  SELECT event_type, sum(n) AS n, sum(s1) AS s1, sum(s2) AS s2,
             |    sum(s3) AS s3, sum(s4) AS s4
             |  FROM shard GROUP BY 1),
             |m AS (
             |  SELECT event_type, n, s1 / n AS mean,
             |    s2 / n - (s1 / n) * (s1 / n) AS m2, s2, s3, s4
             |  FROM agg)
             |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
             |  floor(mean * 1e6 + 0.5) / 1e6 AS mean,
             |  floor(m2 * 1e6 + 0.5) / 1e6 AS variance,
             |  floor(((s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean)
             |    / (m2 * sqrt(m2))) * 1e6 + 0.5) / 1e6 AS skewness,
             |  floor(((s4 / n - 4.0 * mean * (s3 / n) + 6.0 * mean * mean * (s2 / n)
             |    - 3.0 * mean * mean * mean * mean) / (m2 * m2)) * 1e6 + 0.5) / 1e6
             |    AS kurtosis
             |FROM m ORDER BY event_type""".stripMargin)),

    // Periodogram peak [PK — the frequency-domain complement to lc_periods'
    // phase-dispersion method]: classical (Schuster) power
    // P(ω) = [(Σ y'·cos ωt)² + (Σ y'·sin ωt)²] / n over the same 24-period
    // trial grid, y' mean-centered per object. Engine-parity: the trig
    // argument is reduced BEFORE cos/sin with exact integer `t mod P` (both
    // engines then evaluate cos/sin on [0, 2π), where they agree bitwise —
    // never hand libm a 1e3-radian argument and hope the two argument
    // reductions match). Power is rounded before the argmax. Scale: the ×24
    // fan-out collapses map-side (partial agg on (user_id, p)) — one
    // shuffle, grid-bounded state, then a 24-row-per-object window.
    QDef(
      "lc_lombscargle",
      (s, dir) => {
        val wu = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("power").desc, col("p").asc)
        val tau = 6.283185307179586
        T.events(s, dir)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("value").as("y"))
          .withColumn("yb", avg(col("y")).over(wu))
          .withColumn("k", explode(sequence(lit(0L), lit(23L))))
          .withColumn("p", lit(43200L) + col("k") * 21600L)
          .withColumn("ang",
            lit(tau) * ((col("t") % col("p")).cast("double") / col("p")))
          .groupBy("user_id", "p")
          .agg(
            sum((col("y") - col("yb")) * cos(col("ang"))).as("sc"),
            sum((col("y") - col("yb")) * sin(col("ang"))).as("ss"),
            count(lit(1)).as("n"))
          .withColumn("power",
            rnd((col("sc") * col("sc") + col("ss") * col("ss")) / col("n"), 6))
          .withColumn("rn", row_number().over(wr))
          .where(col("rn") === 1)
          .select(col("user_id"), col("p").as("ls_period_s"), col("power").as("ls_power"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value AS y,
             |    avg(value) OVER (PARTITION BY user_id) AS yb
             |  FROM events),
             |grid AS (
             |  SELECT o.*, 43200 + k * 21600 AS p,
             |    6.283185307179586 * (CAST(t % (43200 + k * 21600) AS DOUBLE)
             |      / (43200 + k * 21600)) AS ang
             |  FROM obs o, (SELECT unnest(range(0, 24)) AS k)),
             |pw AS (
             |  SELECT user_id, p,
             |    floor(((sum((y - yb) * cos(ang)) * sum((y - yb) * cos(ang))
             |      + sum((y - yb) * sin(ang)) * sum((y - yb) * sin(ang)))
             |      / count(*)) * 1e6 + 0.5) / 1e6 AS power
             |  FROM grid GROUP BY user_id, p),
             |best AS (
             |  SELECT user_id, p, power,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY power DESC, p ASC) AS rn
             |  FROM pw)
             |SELECT user_id, p AS ls_period_s, power AS ls_power
             |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ERROR-WEIGHTED (generalized) Lomb-Scargle [PK: Zechmeister & Kürster
    // 2009, A&A 496, 577 — the floating-mean, inverse-variance-weighted
    // periodogram]. Survey photometry carries per-point uncertainties; the
    // classic Schuster form (`lc_lombscargle` above) weights every epoch
    // equally and pins the mean to the unweighted average. GLS instead
    // solves the weighted least-squares fit y ~ a·cos ωt + b·sin ωt + c per
    // trial frequency; with normalized weights the power is
    //   P = (SS·YC² + CC·YS² − 2·CS·YC·YS) / (YY·(CC·SS − CS²))
    // where every term is a CENTERED weighted second moment (YY = Σwy²−Y²,
    // etc.) — all derivable from ONE pass of weighted power sums, exactly
    // the mergeable-moments discipline of agg_moments_reagg. The per-point
    // weight is the lc family's unified [[fluxErr]] proxy (round 17 —
    // previously a separate 1/(1+|y|)² brightness proxy): w = 1/σ_v² with
    // σ_v = 0.02·√v, requiring the same v > 0 filter the magnitude family
    // applies (sqrt/mul/div are IEEE-exact, identical op order both
    // engines; the power is invariant to any constant scaling of w, so
    // the proxy's coefficient cannot tilt the argmax); normalization by
    // Σw happens INSIDE the formula (each moment divides by W after
    // aggregation), so no pre-pass window is needed. The trial
    // grid, integer phase fold (t mod P before cos/sin — see the argument-
    // reduction note on lc_lombscargle), 1e-6 rounding, and deterministic
    // argmax tie-break all mirror lc_lombscargle. Scale shape: the ×24
    // fan-out collapses map-side (partial agg on (user_id, p)) — one
    // shuffle of grid-bounded state, then a 24-row-per-object window.
    QDef(
      "lc_gls",
      (s, dir) => {
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("power").desc, col("p").asc)
        val tau = 6.283185307179586
        val m = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            col("value").as("y"))
          .withColumn("w",
            lit(1.0) / (fluxErr(col("y")) * fluxErr(col("y"))))
          .withColumn("k", explode(sequence(lit(0L), lit(23L))))
          .withColumn("p", lit(43200L) + col("k") * 21600L)
          .withColumn("cs",
            cos(lit(tau) * ((col("t") % col("p")).cast("double") / col("p"))))
          .withColumn("sn",
            sin(lit(tau) * ((col("t") % col("p")).cast("double") / col("p"))))
          .groupBy("user_id", "p")
          .agg(
            sum(col("w")).as("sw"),
            sum(col("w") * col("y")).as("swy"),
            sum(col("w") * col("cs")).as("swc"),
            sum(col("w") * col("sn")).as("sws"),
            sum(col("w") * col("y") * col("y")).as("swyy"),
            sum(col("w") * col("y") * col("cs")).as("swyc"),
            sum(col("w") * col("y") * col("sn")).as("swys"),
            sum(col("w") * col("cs") * col("cs")).as("swcc"),
            sum(col("w") * col("sn") * col("sn")).as("swss"),
            sum(col("w") * col("cs") * col("sn")).as("swcs"))
        val yM = col("swy") / col("sw")
        val cM = col("swc") / col("sw")
        val sM = col("sws") / col("sw")
        val yy = col("swyy") / col("sw") - yM * yM
        val yc = col("swyc") / col("sw") - yM * cM
        val ys = col("swys") / col("sw") - yM * sM
        val cc = col("swcc") / col("sw") - cM * cM
        val ss = col("swss") / col("sw") - sM * sM
        val cx = col("swcs") / col("sw") - cM * sM
        m.withColumn("power",
            rnd((ss * yc * yc + cc * ys * ys - lit(2.0) * cx * yc * ys)
              / (yy * (cc * ss - cx * cx)), 6))
          .withColumn("rn", row_number().over(wr))
          .where(col("rn") === 1)
          .select(col("user_id"), col("p").as("gls_period_s"),
            col("power").as("gls_power"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    value AS y,
             |    1e0 / ((0.02 * sqrt(value)) * (0.02 * sqrt(value))) AS w
             |  FROM events WHERE value > 0.0),
             |grid AS (
             |  SELECT o.*, 43200 + k * 21600 AS p,
             |    cos(6.283185307179586 * (CAST(t % (43200 + k * 21600) AS DOUBLE)
             |      / (43200 + k * 21600))) AS cs,
             |    sin(6.283185307179586 * (CAST(t % (43200 + k * 21600) AS DOUBLE)
             |      / (43200 + k * 21600))) AS sn
             |  FROM obs o, (SELECT unnest(range(0, 24)) AS k)),
             |ms AS (
             |  SELECT user_id, p,
             |    sum(w) AS sw, sum(w * y) AS swy, sum(w * cs) AS swc,
             |    sum(w * sn) AS sws, sum(w * y * y) AS swyy,
             |    sum(w * y * cs) AS swyc, sum(w * y * sn) AS swys,
             |    sum(w * cs * cs) AS swcc, sum(w * sn * sn) AS swss,
             |    sum(w * cs * sn) AS swcs
             |  FROM grid GROUP BY user_id, p),
             |pw AS (
             |  SELECT user_id, p,
             |    floor((((swss / sw - (sws / sw) * (sws / sw))
             |        * (swyc / sw - (swy / sw) * (swc / sw))
             |        * (swyc / sw - (swy / sw) * (swc / sw))
             |      + (swcc / sw - (swc / sw) * (swc / sw))
             |        * (swys / sw - (swy / sw) * (sws / sw))
             |        * (swys / sw - (swy / sw) * (sws / sw))
             |      - 2e0 * (swcs / sw - (swc / sw) * (sws / sw))
             |        * (swyc / sw - (swy / sw) * (swc / sw))
             |        * (swys / sw - (swy / sw) * (sws / sw)))
             |      / ((swyy / sw - (swy / sw) * (swy / sw))
             |        * ((swcc / sw - (swc / sw) * (swc / sw))
             |          * (swss / sw - (sws / sw) * (sws / sw))
             |          - (swcs / sw - (swc / sw) * (sws / sw))
             |          * (swcs / sw - (swc / sw) * (sws / sw)))))
             |      * 1e6 + 0.5) / 1e6 AS power
             |  FROM ms),
             |best AS (
             |  SELECT user_id, p, power,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY power DESC, p ASC) AS rn
             |  FROM pw)
             |SELECT user_id, p AS gls_period_s, power AS gls_power
             |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // PERIODOGRAM SIGNIFICANCE [PK — astropy's LombScargle ships
    // `false_alarm_probability`; every real variable-star pipeline gates
    // on a FAP before believing a detection]: the Baluev-style analytic
    // false-alarm probability of lc_gls's best peak, the deterministic
    // closed form of (power z, series length n, effective frequency
    // count) [PK — Baluev 2008, MNRAS 385: for the standard-normalized
    // periodogram, P_single(z) = (1−z)^((n−3)/2), the Davies bound
    // τ(z) = W·(1−z)^((n−4)/2)·√z with W = f_max·T_eff and
    // T_eff = √(4π·Var(t)), and FAP ≈ 1 − (1 − P_single)·e^(−τ)].
    // f_max = 1/43200 s⁻¹ — the top of the SAME 24-point grid lc_gls
    // scans, so the FAP prices exactly the search that was run. All
    // inputs to the transcendental chain are ENGINE-IDENTICAL: z is the
    // 1e-6-rounded GLS power, n is an exact count, and Var(t) is computed
    // in EXACT integer arithmetic — (n·Σt² − (Σt)²) in decimal(38)/
    // HUGEINT, divided once as double — because the raw-moment form over
    // unix-second times (t² ≈ 3e18) cancels catastrophically in doubles.
    // Σt² headroom: n·(Σt)²-type terms stay under 1e38 up to n ≈ 1e9
    // points per object at t ≈ 1.75e9 — far past any survey's per-object
    // epoch count. (1−z) is floored at 1e-12 in both engines (z = 1 is
    // reachable on a perfect fit; DuckDB ln(0) raises). The min-history
    // gate n ≥ 5 keeps (n−3)/2 ≥ 1. `significant` compares the ROUNDED
    // fap so the boolean is engine-stable. Scale shape: lc_gls's one
    // grid-bounded shuffle + a per-object moment aggregate on the SAME
    // key (no second exchange class), then O(objects) scalar math.
    QDef(
      "lc_fap",
      (s, dir) => {
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("power").desc, col("p").asc)
        val tau = 6.283185307179586
        val obs = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            col("value").as("y"))
          .withColumn("w",
            lit(1.0) / (fluxErr(col("y")) * fluxErr(col("y"))))
        val tst = obs.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(col("t").cast("decimal(38,0)")).as("st"),
            sum(col("t").cast("decimal(38,0)") * col("t")).as("stt"))
        val m = obs
          .withColumn("k", explode(sequence(lit(0L), lit(23L))))
          .withColumn("p", lit(43200L) + col("k") * 21600L)
          .withColumn("cs",
            cos(lit(tau) * ((col("t") % col("p")).cast("double") / col("p"))))
          .withColumn("sn",
            sin(lit(tau) * ((col("t") % col("p")).cast("double") / col("p"))))
          .groupBy("user_id", "p")
          .agg(
            sum(col("w")).as("sw"),
            sum(col("w") * col("y")).as("swy"),
            sum(col("w") * col("cs")).as("swc"),
            sum(col("w") * col("sn")).as("sws"),
            sum(col("w") * col("y") * col("y")).as("swyy"),
            sum(col("w") * col("y") * col("cs")).as("swyc"),
            sum(col("w") * col("y") * col("sn")).as("swys"),
            sum(col("w") * col("cs") * col("cs")).as("swcc"),
            sum(col("w") * col("sn") * col("sn")).as("swss"),
            sum(col("w") * col("cs") * col("sn")).as("swcs"))
        val yM = col("swy") / col("sw")
        val cM = col("swc") / col("sw")
        val sM = col("sws") / col("sw")
        val yy = col("swyy") / col("sw") - yM * yM
        val yc = col("swyc") / col("sw") - yM * cM
        val ys = col("swys") / col("sw") - yM * sM
        val cc = col("swcc") / col("sw") - cM * cM
        val ss = col("swss") / col("sw") - sM * sM
        val cx = col("swcs") / col("sw") - cM * sM
        val best = m.withColumn("power",
            rnd((ss * yc * yc + cc * ys * ys - lit(2.0) * cx * yc * ys)
              / (yy * (cc * ss - cx * cx)), 6))
          .withColumn("rn", row_number().over(wr))
          .where(col("rn") === 1)
          .select(col("user_id"), col("p"), col("power"))
        val nD = col("n").cast("double")
        val oneMz = greatest(lit(1.0) - col("power"), lit(1e-12))
        val fs = exp((nD - lit(3.0)) / lit(2.0) * log(oneMz))
        val vart = (col("n").cast("decimal(38,0)") * col("stt") -
            col("st") * col("st")).cast("double") /
          (col("n") * col("n")).cast("double")
        val tauB = sqrt(lit(12.566370614359172) * vart) / lit(43200.0) *
          exp((nD - lit(4.0)) / lit(2.0) * log(oneMz)) *
          sqrt(greatest(col("power"), lit(0.0)))
        best.join(tst, "user_id")
          .where(col("n") >= 5L)
          .withColumn("fap_single", rnd(fs, 6))
          .withColumn("fap",
            rnd(lit(1.0) - (lit(1.0) - fs) * exp(-tauB), 6))
          .select(col("user_id"), col("n").as("n_obs"),
            col("p").as("gls_period_s"), col("power").as("gls_power"),
            col("fap_single"), col("fap"),
            (col("fap") < 0.01).as("significant"))
          .orderBy("user_id")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    value AS y,
             |    1e0 / ((0.02 * sqrt(value)) * (0.02 * sqrt(value))) AS w
             |  FROM events WHERE value > 0.0),
             |tst AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |    sum(t) AS st, sum(t * t) AS stt
             |  FROM obs GROUP BY 1),
             |grid AS (
             |  SELECT o.*, 43200 + k * 21600 AS p,
             |    cos(6.283185307179586 * (CAST(t % (43200 + k * 21600) AS DOUBLE)
             |      / (43200 + k * 21600))) AS cs,
             |    sin(6.283185307179586 * (CAST(t % (43200 + k * 21600) AS DOUBLE)
             |      / (43200 + k * 21600))) AS sn
             |  FROM obs o, (SELECT unnest(range(0, 24)) AS k)),
             |ms AS (
             |  SELECT user_id, p,
             |    sum(w) AS sw, sum(w * y) AS swy, sum(w * cs) AS swc,
             |    sum(w * sn) AS sws, sum(w * y * y) AS swyy,
             |    sum(w * y * cs) AS swyc, sum(w * y * sn) AS swys,
             |    sum(w * cs * cs) AS swcc, sum(w * sn * sn) AS swss,
             |    sum(w * cs * sn) AS swcs
             |  FROM grid GROUP BY user_id, p),
             |pw AS (
             |  SELECT user_id, p,
             |    floor((((swss / sw - (sws / sw) * (sws / sw))
             |        * (swyc / sw - (swy / sw) * (swc / sw))
             |        * (swyc / sw - (swy / sw) * (swc / sw))
             |      + (swcc / sw - (swc / sw) * (swc / sw))
             |        * (swys / sw - (swy / sw) * (sws / sw))
             |        * (swys / sw - (swy / sw) * (sws / sw))
             |      - 2e0 * (swcs / sw - (swc / sw) * (sws / sw))
             |        * (swyc / sw - (swy / sw) * (swc / sw))
             |        * (swys / sw - (swy / sw) * (sws / sw)))
             |      / ((swyy / sw - (swy / sw) * (swy / sw))
             |        * ((swcc / sw - (swc / sw) * (swc / sw))
             |          * (swss / sw - (sws / sw) * (sws / sw))
             |          - (swcs / sw - (swc / sw) * (sws / sw))
             |          * (swcs / sw - (swc / sw) * (sws / sw)))))
             |      * 1e6 + 0.5) / 1e6 AS power
             |  FROM ms),
             |best AS (
             |  SELECT user_id, p, power,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY power DESC, p ASC) AS rn
             |  FROM pw),
             |fq AS (
             |  SELECT b.user_id, t.n, b.p, b.power,
             |    exp((t.n - 3e0) / 2e0
             |      * ln(greatest(1e0 - b.power, 1e-12))) AS fs,
             |    sqrt(12.566370614359172
             |        * (CAST(t.n * t.stt - t.st * t.st AS DOUBLE)
             |          / CAST(t.n * t.n AS DOUBLE))) / 43200e0
             |      * exp((t.n - 4e0) / 2e0
             |        * ln(greatest(1e0 - b.power, 1e-12)))
             |      * sqrt(greatest(b.power, 0e0)) AS taub
             |  FROM best b JOIN tst t USING (user_id)
             |  WHERE b.rn = 1 AND t.n >= 5),
             |fr AS (
             |  SELECT user_id, n AS n_obs, p AS gls_period_s,
             |    power AS gls_power,
             |    floor(fs * 1e6 + 0.5) / 1e6 AS fap_single,
             |    floor((1e0 - (1e0 - fs) * exp(-taub)) * 1e6 + 0.5) / 1e6
             |      AS fap
             |  FROM fq)
             |SELECT user_id, n_obs, gls_period_s, gls_power, fap_single,
             |  fap, fap < 0.01 AS significant
             |FROM fr ORDER BY user_id""".stripMargin)),

    // Pearson correlation per group in CENTERED form (same rationale as
    // lc_detrend: the raw-moment form n·Σxy − Σx·Σy cancels catastrophically
    // for weakly-correlated data and amplifies merge-order noise past the
    // rounding grid; built-in `corr` uses engine-specific update formulas
    // that differ in low bits). Means via window, sums via groupBy — both
    // cluster on event_type, one shuffle. y is the JSON prop `k`.
    QDef(
      "agg_corr",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
        T.events(s, dir)
          .select(col("event_type"), col("value").as("x"),
            get_json_object(col("props"), "$.k").cast("int").cast("double").as("y"))
          .withColumn("xb", avg(col("x")).over(w))
          .withColumn("yb", avg(col("y")).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum((col("x") - col("xb")) * (col("y") - col("yb"))).as("sxy"),
            sum((col("x") - col("xb")) * (col("x") - col("xb"))).as("sxx"),
            sum((col("y") - col("yb")) * (col("y") - col("yb"))).as("syy"))
          .select(col("event_type"), col("n"),
            rnd(col("sxy") / sqrt(col("sxx") * col("syy")), 6).as("pearson_r"))
          .orderBy("event_type")
      },
      Some("""WITH obs AS (
             |  SELECT event_type, value AS x,
             |    CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DOUBLE) AS y
             |  FROM events),
             |cent AS (
             |  SELECT event_type, x, y,
             |    avg(x) OVER (PARTITION BY event_type) AS xb,
             |    avg(y) OVER (PARTITION BY event_type) AS yb
             |  FROM obs)
             |SELECT event_type, count(*) AS n,
             |  floor((sum((x - xb) * (y - yb)) /
             |    sqrt(sum((x - xb) * (x - xb)) * sum((y - yb) * (y - yb))))
             |    * 1e6 + 0.5) / 1e6 AS pearson_r
             |FROM cent GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Filtered aggregates (SQL FILTER clause): several differently-predicated
    // aggregates in ONE pass over the fact — the alternative (N filtered
    // subqueries self-joined) scans the corpus N times. Spark expresses the
    // FILTER clause as `agg(when(pred, x))`; count counts non-nulls.
    QDef(
      "agg_filtered",
      (s, dir) =>
        T.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
            rnd(sum(when(col("o_totalprice") > 100000.0, col("o_totalprice"))), 2)
              .as("big_total"),
            rnd(avg(when(col("o_orderstatus") === "O", col("o_totalprice"))), 2)
              .as("avg_open"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |  floor((sum(o_totalprice) FILTER (WHERE o_totalprice > 100000.0)) * 1e2 + 0.5) / 1e2 AS big_total,
             |  floor((avg(o_totalprice) FILTER (WHERE o_orderstatus = 'O')) * 1e2 + 0.5) / 1e2 AS avg_open
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Ensemble (differential) photometry [PK — the calibration step before
    // any feature/period extraction: per-epoch zero-point offsets estimated
    // from the ensemble of stars on the frame, then subtracted]. Epoch ≈
    // integer day bucket; per-object baseline = exact median magnitude;
    // per-day zero-point = mean residual against baselines across ALL
    // objects observed that day; calibrated mag = mag − zero-point.
    // Scale: two partial-aggregating groupBys (object key, day key) + one
    // co-located join back on user_id + one BROADCAST join of the tiny
    // per-day table (#days rows, constant in corpus width). At 100 TB with
    // the curve store partitioned by object, only the day-keyed aggregate
    // shuffles corpus-wide — and it carries one row per (object, day).
    QDef(
      "lc_ensemble",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val m = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), col("event_id"),
            expr("unix_timestamp(ts) div 86400").as("day"),
            expr("graft_mag(value)").as("mag"))
        val med = m.groupBy("user_id").agg(expr("percentile(mag, 0.5)").as("med"))
        val resid = m.join(med, "user_id")
          .withColumn("resid", col("mag") - col("med"))
        val zp = resid.groupBy("day").agg(avg(col("resid")).as("zp"))
        resid.join(broadcast(zp), "day")
          .select(col("user_id"), col("event_id"),
            rnd(col("mag") - col("zp"), 6).as("cal_mag"),
            rnd(col("zp"), 6).as("day_zp"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |    -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0),
             |med AS (
             |  SELECT user_id, quantile_cont(mag, 0.5) AS med FROM m GROUP BY user_id),
             |r AS (
             |  SELECT m.user_id, m.event_id, m.day, m.mag, m.mag - med.med AS resid
             |  FROM m JOIN med USING (user_id)),
             |zp AS (SELECT day, avg(resid) AS zp FROM r GROUP BY day)
             |SELECT r.user_id, r.event_id,
             |  floor((r.mag - zp.zp) * 1e6 + 0.5) / 1e6 AS cal_mag,
             |  floor((zp.zp) * 1e6 + 0.5) / 1e6 AS day_zp
             |FROM r JOIN zp USING (day)
             |ORDER BY user_id, event_id""".stripMargin)),

    // Variability index [PK — von Neumann eta: mean squared successive
    // difference over variance. eta ≈ 2 for pure noise; eta ≪ 2 flags
    // correlated (real) variability — the screening statistic between
    // feature extraction and period search]. One lag window + one groupBy,
    // both keyed on user_id — single shuffle, the same clustering the rest
    // of the curve pipeline reuses.
    QDef(
      "lc_variability",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        T.events(s, dir)
          .where(col("value") > 0.0)
          .withColumn("mag", expr("graft_mag(value)"))
          .withColumn("d", col("mag") - lag(col("mag"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            rnd(var_samp(col("mag")), 6).as("var_mag"),
            rnd((sum(col("d") * col("d")) / count(col("d"))) / var_samp(col("mag")), 6)
              .as("eta"))
          // Guard the eta denominator on BOTH sides: for a constant-mag
          // user (variance 0) Spark's Divide yields NULL while DuckDB with
          // ieee_floating_point_ops yields inf — filter the degenerate
          // groups instead of betting on engine division semantics. Both
          // sides compare the ROUNDED variance, so the boundary is
          // grid-exact and cannot straddle the engines.
          .where(col("n_obs") >= 2L && col("var_mag") > 0.0)
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id, ts, -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0),
             |d AS (
             |  SELECT user_id, mag,
             |    mag - lag(mag) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
             |  FROM m)
             |SELECT user_id, count(*) AS n_obs,
             |  floor((var_samp(mag)) * 1e6 + 0.5) / 1e6 AS var_mag,
             |  floor(((sum(d * d) / count(d)) / var_samp(mag)) * 1e6 + 0.5) / 1e6 AS eta
             |FROM d GROUP BY user_id
             |HAVING count(*) >= 2 AND floor((var_samp(mag)) * 1e6 + 0.5) / 1e6 > 0.0
             |ORDER BY user_id""".stripMargin)),

    // STETSON VARIABILITY INDICES [PK — Stetson 1996, THE standard
    // survey-curation statistics alongside lc_variability's von-Neumann
    // eta]: J measures CORRELATED deviation between time-adjacent
    // observations (true variables deviate in runs, noise alternates) and
    // K is a robust kurtosis proxy (Σ|δ|/n) / √(Σδ²/n) that separates
    // smooth variation (K→0.9) from outlier-driven scatter (K→small).
    // ERROR-WEIGHTED (round 17 — Stetson 1996's ACTUAL form, the
    // [[fluxErr]]/[[magErr]] proxy threaded through): per-point magnitude
    // error σ_i = (2.5/ln 10)·σ_v/v; the reference magnitude is the
    // inverse-variance-weighted mean m̄_w = Σ(m_i/σ_i²)/Σ(1/σ_i²) (the
    // non-iterated weighted form), and each residual normalizes by its
    // OWN error: δ_i = √(n/(n−1))·(m_i − m̄_w)/σ_i — a deviation in a
    // precise bright point now outweighs the same deviation in a noisy
    // faint one, which is the entire point of the statistic. Consecutive
    // pairing via ONE lag window, P = δ_i·δ_{i−1}, J = mean(sgn(P)·√|P|).
    // Two window passes (weighted moments, then δ + lag) share the single
    // object-key shuffle, the rollup reuses the same partitioning —
    // identical scale shape to every lc_* op; Σ(m/σ²) and Σ(1/σ²) are as
    // mergeable as plain sums. √ is IEEE-exact; the degenerate-series
    // guard compares the ROUNDED unweighted scatter on both sides (the
    // lc_variability lesson) — σ_i itself is never 0 (v > 0).
    QDef(
      "lc_stetson",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val W = org.apache.spark.sql.expressions.Window
        val byU = W.partitionBy("user_id")
        val ord = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        T.events(s, dir)
          .where(col("value") > 0.0)
          .withColumn("mag", expr("graft_mag(value)"))
          .withColumn("sigi", magErr(col("value")))
          .withColumn("wi", lit(1.0) / (col("sigi") * col("sigi")))
          .withColumn("n", count(lit(1)).over(byU))
          .withColumn("mbar",
            sum(col("wi") * col("mag")).over(byU) / sum(col("wi")).over(byU))
          .withColumn("sd", stddev_samp(col("mag")).over(byU))
          .where(col("n") >= 3L)
          .withColumn("delta",
            sqrt(col("n").cast("double") / (col("n") - 1L))
              * (col("mag") - col("mbar")) / col("sigi"))
          .withColumn("p", col("delta") * lag(col("delta"), 1).over(ord))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            count(col("p")).as("n_pairs"),
            rnd(avg(signum(col("p")) * sqrt(abs(col("p")))), 6).as("stetson_j"),
            rnd((sum(abs(col("delta"))) / count(lit(1)))
              / sqrt(sum(col("delta") * col("delta")) / count(lit(1))), 6)
              .as("stetson_k"),
            rnd(max(col("sd")), 6).as("sd"))
          .where(col("sd") > 0.0)
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id, ts, -2.5 * log10(value) + 25.0 AS mag,
             |    (2.5 / ln(10)) * (0.02 * sqrt(value)) / value AS sigi
             |  FROM events WHERE value > 0.0),
             |st AS (
             |  SELECT user_id, event_id, ts, mag, sigi,
             |    count(*) OVER u AS n,
             |    sum((1.0 / (sigi * sigi)) * mag) OVER u
             |      / sum(1.0 / (sigi * sigi)) OVER u AS mbar,
             |    stddev_samp(mag) OVER u AS sd
             |  FROM m WINDOW u AS (PARTITION BY user_id)),
             |d AS (
             |  SELECT user_id, event_id, ts, n, sd,
             |    sqrt(CAST(n AS DOUBLE) / (n - 1)) * (mag - mbar) / sigi AS delta
             |  FROM st WHERE n >= 3),
             |p AS (
             |  SELECT user_id, n, sd, delta,
             |    delta * lag(delta) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS p
             |  FROM d)
             |SELECT user_id, count(*) AS n_obs, count(p) AS n_pairs,
             |  floor((avg(sign(p) * sqrt(abs(p)))) * 1e6 + 0.5) / 1e6 AS stetson_j,
             |  floor(((sum(abs(delta)) / count(*))
             |    / sqrt(sum(delta * delta) / count(*))) * 1e6 + 0.5) / 1e6 AS stetson_k,
             |  floor((max(sd)) * 1e6 + 0.5) / 1e6 AS sd
             |FROM p GROUP BY user_id
             |HAVING floor((max(sd)) * 1e6 + 0.5) / 1e6 > 0.0
             |ORDER BY user_id""".stripMargin)),

    // SECULAR TREND [PK — the drift gate: a light curve whose magnitude
    // trends monotonically over the campaign usually means drifting
    // calibration or a slow transient, either way a curation flag]:
    // per-object least-squares fit of mag against elapsed DAYS via the
    // ANSI regr_* aggregate family — regr_slope/intercept/r2 are exact
    // moment-sum arithmetic (Σt, Σm, Σtm, Σt², n), fully partial-agg'able
    // and identical in DuckDB. Time is re-based per object (days since
    // its own first observation, a window min over the SAME key shuffle
    // the fit uses) so the slope is O(mag/day), not O(mag/epoch-second) —
    // a 1e-12 raw-seconds slope would vanish under the 1e-6 parity grid.
    // Degenerate objects (single epoch: zero time variance) drop on the
    // ROUNDED variance guard, both engines.
    QDef(
      "lc_trend",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val W = org.apache.spark.sql.expressions.Window
        val byU = W.partitionBy("user_id")
        T.events(s, dir)
          .where(col("value") > 0.0)
          .withColumn("mag", expr("graft_mag(value)"))
          .withColumn("sec", unix_timestamp(col("ts")))
          .withColumn("t",
            (col("sec") - min(col("sec")).over(byU)).cast("double") / 86400.0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            rnd(expr("regr_slope(mag, t)"), 6).as("slope_per_day"),
            rnd(expr("regr_intercept(mag, t)"), 6).as("intercept"),
            rnd(expr("regr_r2(mag, t)"), 6).as("r2"),
            rnd(var_samp(col("t")), 6).as("t_var"))
          .where(col("n_obs") >= 3L && col("t_var") > 0.0)
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, -2.5 * log10(value) + 25.0 AS mag,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
             |  FROM events WHERE value > 0.0),
             |t AS (
             |  SELECT user_id, mag,
             |    CAST(sec - min(sec) OVER (PARTITION BY user_id) AS DOUBLE)
             |      / 86400.0 AS t
             |  FROM m)
             |SELECT user_id, count(*) AS n_obs,
             |  floor((regr_slope(mag, t)) * 1e6 + 0.5) / 1e6 AS slope_per_day,
             |  floor((regr_intercept(mag, t)) * 1e6 + 0.5) / 1e6 AS intercept,
             |  floor((regr_r2(mag, t)) * 1e6 + 0.5) / 1e6 AS r2,
             |  floor((var_samp(t)) * 1e6 + 0.5) / 1e6 AS t_var
             |FROM t GROUP BY user_id
             |HAVING count(*) >= 3
             |   AND floor((var_samp(t)) * 1e6 + 0.5) / 1e6 > 0.0
             |ORDER BY user_id""".stripMargin)),

    // Exact distinct counting via bitmap aggregation: each 64-id block of the
    // key space becomes one bit_or'd word — the EXACT, MERGEABLE distinct
    // the roaring-bitmap family gives OLAP engines. Unlike count(DISTINCT),
    // whose per-group state grows with distinct values and resists partial
    // aggregation, the bitmap partial-aggregates map-side (bit_or is
    // associative+commutative) and two groups' states merge by OR — the
    // pre-aggregate rollup shape; HLL (agg_sketch_reagg) is the lossy
    // counterpart when the id space outgrows bits-on-disk. Shuffle volume:
    // one word per (group, occupied 64-block), independent of row count.
    QDef(
      "agg_bitmap_distinct",
      (s, dir) =>
        T.events(s, dir)
          .select(col("event_type"),
            expr("user_id div 64").as("w"), expr("user_id % 64").as("b"))
          .groupBy("event_type", "w")
          .agg(expr("bit_or(shiftleft(1L, cast(b as int)))").as("bits"))
          .groupBy("event_type")
          .agg(sum(bit_count(col("bits")).cast("long")).as("n_users"),
            count(lit(1)).as("n_words"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS n_users,
             |  count(DISTINCT user_id // 64) AS n_words
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // First-order structure function [PK — the standard variability-vs-
    // timescale statistic for irregularly-sampled light curves]: for every
    // same-object observation pair within the lag horizon, |Δmag| and
    // Δmag² averaged per integer lag-day bin. The naive form is a per-object
    // self-join — quadratic in series length. Here the pair generation is
    // TIME-BUCKETED: both sides bucket epoch seconds by the max lag
    // (SfLagBins × SfLagBinSec), the later side explodes into its own and
    // the previous bucket, and the join keys on (user_id, bucket) — every
    // qualifying pair (Δt < horizon) lands in exactly one bucket pairing,
    // and per-pair cost is bounded by observations-per-horizon-window, not
    // series length. At 100 TB (decade-long surveys) that bound is the
    // cadence × horizon, a constant; the shuffle keys on (user_id, bucket)
    // so long series also split across reducers instead of hot-spotting
    // one key. Engine-parity: epoch seconds and lag bins are exact integer
    // arithmetic; mags use the same log10 mapping as lc_features; the pair
    // averages are rounded on the shared 1e-6 grid.
    QDef(
      "lc_structfunc",
      (s, dir) => {
        val binS = graft.GraftConfig.SfLagBinSec
        val winS = binS * graft.GraftConfig.SfLagBins
        val obs = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            (lit(-2.5) * log10(col("value")) + 25.0).as("mag"))
        val e1 = obs.select(col("user_id"), col("t").as("t1"), col("mag").as("m1"))
          .withColumn("jb", expr(s"t1 div $winS"))
        val e2 = obs.select(col("user_id"), col("t").as("t2"), col("mag").as("m2"))
          .withColumn("jb",
            explode(array(expr(s"t2 div $winS"), expr(s"t2 div $winS - 1"))))
        e1.join(e2, Seq("user_id", "jb"))
          .where(col("t2") > col("t1") && col("t2") - col("t1") < winS)
          .withColumn("lag_days", expr(s"(t2 - t1) div $binS"))
          .withColumn("dm", col("m2") - col("m1"))
          .groupBy("user_id", "lag_days")
          .agg(count(lit(1)).as("n_pairs"),
            rnd(avg(abs(col("dm"))), 6).as("sf_abs"),
            rnd(avg(col("dm") * col("dm")), 6).as("sf_sq"))
          .orderBy("user_id", "lag_days")
      },
      Some(s"""WITH m AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0),
             |p AS (
             |  SELECT a.user_id, (b.t - a.t) // ${graft.GraftConfig.SfLagBinSec} AS lag_days,
             |    b.mag - a.mag AS dm
             |  FROM m a JOIN m b ON a.user_id = b.user_id
             |    AND b.t > a.t
             |    AND b.t - a.t < ${graft.GraftConfig.SfLagBinSec * graft.GraftConfig.SfLagBins})
             |SELECT user_id, lag_days, count(*) AS n_pairs,
             |  floor((avg(abs(dm))) * 1e6 + 0.5) / 1e6 AS sf_abs,
             |  floor((avg(dm * dm)) * 1e6 + 0.5) / 1e6 AS sf_sq
             |FROM p GROUP BY user_id, lag_days
             |ORDER BY user_id, lag_days""".stripMargin)),

    // dm–dt fingerprint [PK — Mahabal et al. 2017's light-curve
    // representation for ML classifiers: every same-object observation
    // pair within the lag horizon drops into a 2-D (Δt, Δmag) histogram,
    // and the normalized grid IS the feature vector]. Pair generation is
    // lc_structfunc's TIME-BUCKETED self-join (both sides bucket epoch
    // seconds by the horizon, the later side explodes into its own and
    // the previous bucket, join keys on (user_id, bucket)) — per-pair
    // cost is bounded by observations-per-horizon, never series length²,
    // and long series split across reducers instead of hot-spotting.
    // Binning is ALL-INTEGER: Δt against fixed second edges, Δm against
    // fixed micro-unit edges after each value rounds ONCE onto the 1e-6
    // grid — so no boundary can float between engines and the histogram
    // is hash-exact. The fingerprint collapses map-side into
    // (user, dtb, dmb) partials; only bin counts shuffle.
    QDef(
      "lc_dmdt",
      (s, dir) => {
        val winS = 86400L
        val obs = T.events(s, dir)
          .where(col("value").isNotNull)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vu"))
        val e1 = obs.select(col("user_id"), col("t").as("t1"), col("vu").as("v1"))
          .withColumn("jb", expr(s"t1 div $winS"))
        val e2 = obs.select(col("user_id"), col("t").as("t2"), col("vu").as("v2"))
          .withColumn("jb",
            explode(array(expr(s"t2 div $winS"), expr(s"t2 div $winS - 1"))))
        val dtb = when(col("dt") <= 60L, 0L)
          .when(col("dt") <= 300L, 1L).when(col("dt") <= 1800L, 2L)
          .when(col("dt") <= 7200L, 3L).when(col("dt") <= 21600L, 4L)
          .otherwise(5L)
        val dmb = when(col("dm") <= -100000000L, 0L)
          .when(col("dm") <= -10000000L, 1L).when(col("dm") <= -1000000L, 2L)
          .when(col("dm") <= 0L, 3L).when(col("dm") <= 1000000L, 4L)
          .when(col("dm") <= 10000000L, 5L).when(col("dm") <= 100000000L, 6L)
          .otherwise(7L)
        e1.join(e2, Seq("user_id", "jb"))
          .where(col("t2") > col("t1") && col("t2") - col("t1") <= winS)
          .withColumn("dt", col("t2") - col("t1"))
          .withColumn("dm", col("v2") - col("v1"))
          .select(col("user_id"), dtb.as("dtb"), dmb.as("dmb"))
          .groupBy("user_id", "dtb", "dmb")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id", "dtb", "dmb")
      },
      Some("""WITH m AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
             |  FROM events WHERE value IS NOT NULL),
             |p AS (
             |  SELECT a.user_id, b.t - a.t AS dt, b.vu - a.vu AS dm
             |  FROM m a JOIN m b ON a.user_id = b.user_id
             |    AND b.t > a.t AND b.t - a.t <= 86400)
             |SELECT user_id,
             |  CAST(CASE WHEN dt <= 60 THEN 0 WHEN dt <= 300 THEN 1
             |       WHEN dt <= 1800 THEN 2 WHEN dt <= 7200 THEN 3
             |       WHEN dt <= 21600 THEN 4 ELSE 5 END AS BIGINT) AS dtb,
             |  CAST(CASE WHEN dm <= -100000000 THEN 0 WHEN dm <= -10000000 THEN 1
             |       WHEN dm <= -1000000 THEN 2 WHEN dm <= 0 THEN 3
             |       WHEN dm <= 1000000 THEN 4 WHEN dm <= 10000000 THEN 5
             |       WHEN dm <= 100000000 THEN 6 ELSE 7 END AS BIGINT) AS dmb,
             |  count(*) AS n_pairs
             |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Sequential EWMA smoothing [PK — exponential smoothing is the
    // standard online detrender/denoiser for irregular light curves; an
    // inherently ORDER-DEPENDENT fold, the semantics windows and
    // groupBy-aggregates cannot express]. Per object: time-ordered mags
    // fold through s_t = round((m_t + s_{t-1}) / 2) — α = 1/2 because
    // division by two is EXACT in binary, and every step re-rounds onto
    // the 1e-6 grid, so the two engines walk bit-identical state
    // sequences and the fold result needs no tolerance. Spark folds via
    // the `aggregate` HOF seeded with the head element; DuckDB's
    // list_reduce seeds the same way by definition. Scale: per-group
    // state is one collected series — bounded by per-object observation
    // count (the lc-family premise); the fold itself is narrow per-group
    // work after ONE shuffle on the object key. Unboundedly long series
    // would segment the fold by epoch range and stitch (documented, not
    // needed at survey cadences).
    QDef(
      "lc_smooth",
      (s, dir) => {
        T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), col("ts"), col("event_id"),
            rnd(lit(-2.5) * log10(col("value")) + 25.0, 6).as("mag"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            transform(
              sort_array(collect_list(struct(col("ts"), col("event_id"), col("mag")))),
              x => x.getField("mag")).as("ms"))
          // Project the fold ONCE, then derive lag_resid from the ewma
          // column in an outer select (mirror of the oracle's f CTE) — the
          // interpreted HOF is the expensive part, and CollapseProject will
          // not re-inline a non-cheap expression referenced twice.
          .select(col("user_id"), col("n_obs"), col("ms"),
            expr("""aggregate(slice(ms, 2, greatest(size(ms) - 1, 0)),
                   |  element_at(ms, 1),
                   |  (acc, x) -> floor((acc + x) / 2 * 1e6 + 0.5) / 1e6)""".stripMargin)
              .as("ewma"))
          .select(col("user_id"), col("n_obs"), col("ewma"),
            expr("floor((element_at(ms, size(ms)) - ewma) * 1e6 + 0.5) / 1e6")
              .as("lag_resid"))
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, ts, event_id,
             |    floor((-2.5 * log10(value) + 25.0) * 1e6 + 0.5) / 1e6 AS mag
             |  FROM events WHERE value > 0.0),
             |g AS (
             |  SELECT user_id, count(*) AS n_obs,
             |    list(mag ORDER BY ts, event_id) AS ms
             |  FROM m GROUP BY user_id),
             |f AS (
             |  SELECT user_id, n_obs, ms,
             |    list_reduce(ms, (acc, x) -> floor((acc + x) / 2 * 1e6 + 0.5) / 1e6) AS ewma
             |  FROM g)
             |SELECT user_id, n_obs, ewma,
             |  floor((ms[len(ms)] - ewma) * 1e6 + 0.5) / 1e6 AS lag_resid
             |FROM f ORDER BY user_id""".stripMargin)),

    // Flagship astronomy composition — the lightcurve science pipeline a
    // curation run chains from this library's pieces [PK — the standard
    // survey reduction: ensemble zero-point calibration → outlier clip →
    // variability screening]: lc_ensemble's per-day zero-points calibrate
    // every observation, a grid-exact residual clip (|cal − median| on the
    // rounded grid) rejects outliers, and the surviving curve yields the
    // von-Neumann eta + amplitude classification of lc_variability. One
    // QDef so the COMPOSITION itself is oracle-checked end to end (the
    // astronomy counterpart of pipeline_curate). Scale shape: every
    // shuffle keys on the object id except the tiny per-day zero-point
    // table, which BROADCASTS back; the clip is a narrow filter; the lag
    // window rides the same object partitioning — corpus-sized rows cross
    // the wire exactly twice (median groupBy, feature groupBy).
    QDef(
      "pipeline_lightcurve",
      (s, dir) => {
        graft.functions.Magnitude.register(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("t", "event_id")
        val m = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("t"),
            expr("unix_timestamp(ts) div 86400").as("day"),
            expr("graft_mag(value)").as("mag"))
        val med = m.groupBy("user_id").agg(expr("percentile(mag, 0.5)").as("med"))
        val resid = m.join(med, "user_id")
          .withColumn("resid", col("mag") - col("med"))
        val zp = resid.groupBy("day").agg(avg(col("resid")).as("zp"))
        val cal = resid.join(broadcast(zp), "day")
          .withColumn("cmag", rnd(col("mag") - col("zp"), 6))
          .withColumn("kept", abs(rnd(col("cmag") - col("med"), 6)) <= 1.0)
        val totals = cal.groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("n_clipped"))
        val feats = cal.where(col("kept"))
          .withColumn("d", col("cmag") - lag(col("cmag"), 1).over(w))
          .groupBy("user_id")
          .agg(rnd(avg(col("cmag")), 6).as("mean_cal"),
            rnd(max(col("cmag")) - min(col("cmag")), 6).as("amplitude"),
            rnd(var_samp(col("cmag")), 6).as("var_cal"),
            (sum(col("d") * col("d")) / count(col("d"))).as("mssd"),
            count(col("d")).as("nd"))
          .select(col("user_id"), col("mean_cal"), col("amplitude"),
            when(col("nd") >= 1L && col("var_cal") > 0.0,
              rnd(col("mssd") / col("var_cal"), 6)).as("eta"))
        totals.join(feats, Seq("user_id"), "left")
          .withColumn("is_variable",
            coalesce(col("eta") < 1.5 && col("amplitude") > 0.2, lit(false)))
          .select(col("user_id"), col("n_obs"), col("n_clipped"),
            col("mean_cal"), col("amplitude"), col("eta"), col("is_variable"))
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_id,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |    -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0),
             |med AS (
             |  SELECT user_id, quantile_cont(mag, 0.5) AS med FROM m GROUP BY user_id),
             |r AS (
             |  SELECT m.*, m.mag - med.med AS resid, med.med
             |  FROM m JOIN med USING (user_id)),
             |zp AS (SELECT day, avg(resid) AS zp FROM r GROUP BY day),
             |cal AS (
             |  SELECT r.user_id, r.event_id, r.t,
             |    floor((r.mag - zp.zp) * 1e6 + 0.5) / 1e6 AS cmag, r.med,
             |    abs(floor((floor((r.mag - zp.zp) * 1e6 + 0.5) / 1e6 - r.med) * 1e6 + 0.5) / 1e6) <= 1.0 AS kept
             |  FROM r JOIN zp USING (day)),
             |tot AS (
             |  SELECT user_id, count(*) AS n_obs,
             |    CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_clipped
             |  FROM cal GROUP BY user_id),
             |k AS (
             |  SELECT user_id, cmag,
             |    cmag - lag(cmag) OVER (PARTITION BY user_id ORDER BY t, event_id) AS d
             |  FROM cal WHERE kept),
             |f AS (
             |  SELECT user_id,
             |    floor((avg(cmag)) * 1e6 + 0.5) / 1e6 AS mean_cal,
             |    floor((max(cmag) - min(cmag)) * 1e6 + 0.5) / 1e6 AS amplitude,
             |    floor((var_samp(cmag)) * 1e6 + 0.5) / 1e6 AS var_cal,
             |    sum(d * d) / count(d) AS mssd, count(d) AS nd
             |  FROM k GROUP BY user_id)
             |SELECT tot.user_id, tot.n_obs, tot.n_clipped, f.mean_cal, f.amplitude,
             |  CASE WHEN f.nd >= 1 AND f.var_cal > 0.0
             |       THEN floor((f.mssd / f.var_cal) * 1e6 + 0.5) / 1e6 END AS eta,
             |  coalesce(CASE WHEN f.nd >= 1 AND f.var_cal > 0.0
             |       THEN floor((f.mssd / f.var_cal) * 1e6 + 0.5) / 1e6 END < 1.5
             |    AND f.amplitude > 0.2, false) AS is_variable
             |FROM tot LEFT JOIN f USING (user_id)
             |ORDER BY tot.user_id""".stripMargin)),

    // THE NIGHTLY PIPELINE [PK — SURVEY §3.1 steps 1–3 as ONE composition]:
    // lightcurator's end-to-end unified with the lakehouse family the way
    // sim_index_log unified ANN with it. A night of new detections
    // arrives (events as photometry, the lc_ family's model; scan_fits
    // covers the upstream file format) and flows through: (1) ENSEMBLE
    // CALIBRATION — the night's zero-point from residuals against the
    // STANDING object catalog's mergeable per-object states (n, Σmag),
    // lc_ensemble's machinery pointed at the standing table instead of a
    // self-join; (2) SKY CROSS-MATCH — night detections carry only a
    // (dithered) position, identity is RECOVERED by join_sky_nn's
    // zone-join nearest-neighbour against the catalog (zone join + ±1
    // zone explode: candidates linear in detections, never all-pairs);
    // (3) CONFLICT-CHECKED APPEND — calibrated rows land in the standing
    // light-curve table through CommitLog.commitCheckedNonConsuming
    // reading the v1 files, so a concurrent recalibration that retired
    // them aborts this append instead of mixing zero-point regimes
    // (CommitLogSpec pins both race orders); (4) INCREMENTAL FEATURE
    // REFRESH — per-object states absorb ONLY the change feed's added
    // files (changesAt v2), never re-scanning history, and the IVM law
    // (refreshed ≡ full recompute over the v2 snapshot) is require'd.
    // Unmatched detections are quarantined (counted, not appended) — the
    // new-source-candidate queue. Every stage is reconstructed by the
    // DuckDB oracle, cross-match arithmetic included. At 100 TB: the
    // nightly cost is O(night + objects-touched) — one zone-join of the
    // night against the catalog, one state merge — while history stays
    // unread on disk; that is the entire point of the standing table.
    QDef(
      "pipeline_nightly",
      (s, dir) => {
        import graft.sources.CommitLog
        graft.functions.Magnitude.register(s)
        val root = Scans.freshRunTmpPath(s, "graft_nightly_")
        val det = T.events(s, dir)
          .where(col("value") > 0.0)
          .select(col("user_id").as("u"), col("event_id").as("eid"),
            expr("unix_timestamp(ts) div 86400").as("day"),
            expr("graft_mag(value)").as("mag"))
        val nightDay = det.agg(max("day")).head.getLong(0) // the new epoch
        // v1 — the standing light-curve table: all pre-night epochs.
        det.where(col("day") < nightDay)
          .coalesce(2).write.mode("overwrite").parquet(s"$root/h1")
        CommitLog.commit(root, 1L, "h1")
        // Standing object catalog: mergeable per-object state + position.
        val objState = CommitLog.readAsOf(s, root, 1L).groupBy("u")
          .agg(count(lit(1)).as("n_h"), sum("mag").as("sum_h"))
        val obj = objState
          .withColumn("ra", (col("u") * 7919L % 36000L).cast("double") / 100.0)
          .withColumn("dec",
            (col("u") * 104729L % 18001L).cast("double") / 100.0 - 90.0)
          .withColumn("zone", floor((col("dec") + 90.0) / 5.0).cast("long"))
        // The night's detections: position only (dithered ≤ 4e-5 deg) —
        // identity must be recovered by the cross-match.
        val night = det.where(col("day") === nightDay)
          .withColumn("ra_d", (col("u") * 7919L % 36000L).cast("double") / 100.0
            + (col("eid") % 7L - 3L).cast("double") / 100000.0)
          .withColumn("dec_d",
            (col("u") * 104729L % 18001L).cast("double") / 100.0 - 90.0
            + (col("eid") % 5L - 2L).cast("double") / 100000.0)
          .drop("u")
        val nightN = night.count()
        val cand = night
          .withColumn("z0", floor((col("dec_d") + 90.0) / 5.0).cast("long"))
          .withColumn("zone",
            explode(array(col("z0") - 1L, col("z0"), col("z0") + 1L)))
          .join(obj, Seq("zone"))
          .where(abs(col("dec_d") - col("dec")) <= 5.0)
        val sd = sin(radians(col("dec_d") - col("dec")) / 2)
        val sr = sin(radians(col("ra_d") - col("ra")) / 2)
        val hav = degrees(lit(2.0) * asin(sqrt(sd * sd +
          cos(radians(col("dec_d"))) * cos(radians(col("dec"))) * (sr * sr))))
        val wnn = org.apache.spark.sql.expressions.Window
          .partitionBy("eid").orderBy(col("dist").asc, col("u").asc)
        val matched = cand
          .withColumn("dist", rnd(hav, 6))
          .withColumn("rn", row_number().over(wnn))
          .where(col("rn") === 1 && col("dist") <= 0.01)
          .select(col("eid"), col("u"), col("day"), col("mag"),
            col("n_h"), col("sum_h"))
          .localCheckpoint() // small (≤ night size); reused 3× below
        val matchedN = matched.count()
        // Ensemble zero-point of the night vs the standing means.
        val zpDf = broadcast(matched
          .agg(avg(col("mag") - col("sum_h") / col("n_h")).as("zp")))
        val zpNight = {
          val z = zpDf.head.getDouble(0)
          math.floor(z * 1e6 + 0.5) / 1e6
        }
        matched.crossJoin(zpDf)
          .select(col("u"), col("eid"), col("day"),
            rnd(col("mag") - col("zp"), 6).as("mag"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/n2")
        // Conflict-checked, NON-consuming append: a recalibration that
        // retired the files this night was calibrated against must abort
        // this commit (both orders pinned in CommitLogSpec).
        val v2 = CommitLog.commitCheckedNonConsuming(root, "n2", 1L,
          reads = CommitLog.filesAsOf(root, 1L))
        require(v2 == 2L, s"nightly append landed at $v2, expected 2")
        // Change-feed incremental refresh: delta states from ONLY the
        // night's added files — history stays unread.
        val (adds, removes) = CommitLog.changesAt(root, v2)
        require(removes.isEmpty && adds.nonEmpty,
          "the nightly append must be add-only in the change feed")
        val delta = s.read.parquet(adds.map(f => s"$root/$f"): _*)
          .groupBy("u").agg(count(lit(1)).as("dn"), sum("mag").as("dsum"))
        val refreshed = objState.join(delta, Seq("u"), "full_outer")
          .na.fill(0L, Seq("n_h", "dn")).na.fill(0.0, Seq("sum_h", "dsum"))
          .select(col("u").as("object_id"), col("n_h").as("n_before"),
            col("dn").as("n_added"),
            (col("n_h") + col("dn")).as("n_after"),
            (col("sum_h") + col("dsum")).as("sum_after"))
        // The IVM law: state-merge ≡ full recompute over the v2 snapshot.
        val full = CommitLog.readAsOf(s, root, v2).groupBy("u")
          .agg(count(lit(1)).as("n"), sum("mag").as("sm"))
        def asMap(df: org.apache.spark.sql.DataFrame, k: String, n: String,
            sm: String) =
          df.select(col(k), col(n), rnd(col(sm), 6)).collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
        require(asMap(refreshed, "object_id", "n_after", "sum_after")
            == asMap(full, "u", "n", "sm"),
          "incremental feature refresh diverged from full recomputation")
        refreshed
          .select(col("object_id"), col("n_before"), col("n_added"),
            col("n_after"),
            rnd(col("sum_after") / col("n_after"), 6).as("mean_after"))
          .withColumn("night_day", lit(nightDay))
          .withColumn("n_night", lit(nightN))
          .withColumn("n_matched", lit(matchedN))
          .withColumn("n_unmatched", lit(nightN - matchedN))
          .withColumn("zp_night", lit(zpNight))
          .orderBy("object_id")
      },
      Some("""WITH det AS (
             |  SELECT user_id AS u, event_id AS eid,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |    -2.5 * log10(value) + 25.0 AS mag
             |  FROM events WHERE value > 0.0),
             |nd AS (SELECT max(day) AS nightday FROM det),
             |objstate AS (
             |  SELECT u, count(*) AS n_h, sum(mag) AS sum_h
             |  FROM det, nd WHERE day < nightday GROUP BY u),
             |obj AS (
             |  SELECT u, n_h, sum_h,
             |    CAST((u * 7919) % 36000 AS DOUBLE) / 100.0 AS ra,
             |    CAST((u * 104729) % 18001 AS DOUBLE) / 100.0 - 90.0 AS dec
             |  FROM objstate),
             |night AS (
             |  SELECT d.*,
             |    CAST((u * 7919) % 36000 AS DOUBLE) / 100.0
             |      + CAST(eid % 7 - 3 AS DOUBLE) / 100000.0 AS ra_d,
             |    CAST((u * 104729) % 18001 AS DOUBLE) / 100.0 - 90.0
             |      + CAST(eid % 5 - 2 AS DOUBLE) / 100000.0 AS dec_d
             |  FROM det d, nd WHERE day = nightday),
             |cand AS (
             |  SELECT n.eid, n.day, n.mag, o.u, o.n_h, o.sum_h,
             |    floor((degrees(2.0 * asin(sqrt(
             |      sin(radians(n.dec_d - o.dec) / 2) * sin(radians(n.dec_d - o.dec) / 2) +
             |      cos(radians(n.dec_d)) * cos(radians(o.dec)) *
             |      (sin(radians(n.ra_d - o.ra) / 2) * sin(radians(n.ra_d - o.ra) / 2))
             |    )))) * 1e6 + 0.5) / 1e6 AS dist
             |  FROM night n JOIN obj o
             |    ON CAST(floor((o.dec + 90.0) / 5.0) AS BIGINT)
             |       BETWEEN CAST(floor((n.dec_d + 90.0) / 5.0) AS BIGINT) - 1
             |           AND CAST(floor((n.dec_d + 90.0) / 5.0) AS BIGINT) + 1
             |   AND abs(n.dec_d - o.dec) <= 5.0),
             |mt AS (
             |  SELECT * FROM (
             |    SELECT c.*, row_number() OVER (PARTITION BY eid
             |      ORDER BY dist ASC, u ASC) AS rn
             |    FROM cand c)
             |  WHERE rn = 1 AND dist <= 0.01),
             |zp AS (SELECT avg(mag - sum_h / n_h) AS zp FROM mt),
             |cal AS (
             |  SELECT u, floor((mag - zp) * 1e6 + 0.5) / 1e6 AS mag
             |  FROM mt, zp),
             |delta AS (SELECT u, count(*) AS dn, sum(mag) AS dsum FROM cal GROUP BY u),
             |ref AS (
             |  SELECT coalesce(o.u, d.u) AS object_id,
             |    coalesce(o.n_h, 0) AS n_before, coalesce(d.dn, 0) AS n_added,
             |    coalesce(o.n_h, 0) + coalesce(d.dn, 0) AS n_after,
             |    (coalesce(o.sum_h, 0) + coalesce(d.dsum, 0))
             |      / (coalesce(o.n_h, 0) + coalesce(d.dn, 0)) AS mean_after
             |  FROM objstate o FULL OUTER JOIN delta d ON o.u = d.u)
             |SELECT object_id,
             |  CAST(n_before AS BIGINT) AS n_before,
             |  CAST(n_added AS BIGINT) AS n_added,
             |  CAST(n_after AS BIGINT) AS n_after,
             |  floor(mean_after * 1e6 + 0.5) / 1e6 AS mean_after,
             |  (SELECT nightday FROM nd) AS night_day,
             |  (SELECT count(*) FROM night) AS n_night,
             |  (SELECT count(*) FROM mt) AS n_matched,
             |  (SELECT count(*) FROM night) - (SELECT count(*) FROM mt) AS n_unmatched,
             |  (SELECT floor(zp * 1e6 + 0.5) / 1e6 FROM zp) AS zp_night
             |FROM ref ORDER BY object_id""".stripMargin)),

    // Distribution-drift monitor (PSI): compare the value distribution of
    // each event type across the two halves of the observed time range —
    // the data-quality gate a training pipeline runs between snapshot N and
    // N+1 before re-training (population stability index, the standard
    // score: <0.1 stable, >0.25 action). Buckets are the agg_hist fixed
    // width (no min/max pass), the split point is the (min+max)/2 epoch
    // midpoint — one broadcast scalar, integer arithmetic. Laplace-smoothed
    // shares ((n+1)/(N+B)) keep ln() finite on one-sided buckets. Scale
    // shape: the corpus crosses the wire ONCE as a (type, bucket) count
    // pass with map-side partials (constant result size); the PSI fold then
    // runs on ≤ types × buckets rows — per-bucket arithmetic is fixed-order
    // IEEE, the ~17-term sum is rnd()-guarded like every FP aggregate here.
    QDef(
      "agg_drift",
      (s, dir) => {
        val obs = T.events(s, dir)
          .select(col("event_type"), col("value"),
            unix_timestamp(col("ts")).as("t"))
        val mid = obs.agg(min("t").as("mn"), max("t").as("mx"))
          .select(expr("(mn + mx) div 2").as("mid"))
        // localCheckpoint: the (type, bucket) count table feeds BOTH the
        // totals and the join back — without it each branch re-scans the
        // corpus (the dedup_cluster idiom; the checkpointed frame is
        // ≤ types × buckets rows).
        val c = obs.crossJoin(broadcast(mid))
          .withColumn("bucket", floor(col("value") / 25.0).cast("long"))
          .groupBy("event_type", "bucket")
          .agg(count(when(col("t") < col("mid"), 1)).as("nr"),
            count(when(col("t") >= col("mid"), 1)).as("nc"))
          .localCheckpoint()
        val tot = c.groupBy("event_type")
          .agg(sum("nr").as("n_ref"), sum("nc").as("n_cur"),
            count(lit(1)).as("n_buckets"))
        c.join(broadcast(tot), "event_type")
          .withColumn("p", (col("nr") + lit(1L)).cast("double") /
            (col("n_ref") + col("n_buckets")).cast("double"))
          .withColumn("q", (col("nc") + lit(1L)).cast("double") /
            (col("n_cur") + col("n_buckets")).cast("double"))
          .groupBy("event_type")
          .agg(max("n_ref").as("n_ref"), max("n_cur").as("n_cur"),
            max("n_buckets").as("n_buckets"),
            rnd(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
              .as("psi"))
          .withColumn("drifted", col("psi") >= graft.GraftConfig.DriftPsiAlert)
          .orderBy("event_type")
      },
      Some(s"""WITH obs AS (
              |  SELECT event_type, value,
              |    CAST(floor(epoch(ts)) AS BIGINT) AS t
              |  FROM events),
              |m AS (SELECT (min(t) + max(t)) // 2 AS mid FROM obs),
              |c AS (
              |  SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket,
              |    count(*) FILTER (WHERE t < mid) AS nr,
              |    count(*) FILTER (WHERE t >= mid) AS nc
              |  FROM obs CROSS JOIN m GROUP BY event_type, bucket),
              |tot AS (
              |  SELECT event_type, CAST(sum(nr) AS BIGINT) AS n_ref,
              |    CAST(sum(nc) AS BIGINT) AS n_cur, count(*) AS n_buckets
              |  FROM c GROUP BY event_type),
              |term AS (
              |  SELECT c.event_type, tot.n_ref, tot.n_cur, tot.n_buckets,
              |    CAST(c.nr + 1 AS DOUBLE) / CAST(tot.n_ref + tot.n_buckets AS DOUBLE) AS p,
              |    CAST(c.nc + 1 AS DOUBLE) / CAST(tot.n_cur + tot.n_buckets AS DOUBLE) AS q
              |  FROM c JOIN tot USING (event_type))
              |SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
              |  max(n_buckets) AS n_buckets,
              |  floor((sum((p - q) * ln(p / q))) * 1e6 + 0.5) / 1e6 AS psi,
              |  floor((sum((p - q) * ln(p / q))) * 1e6 + 0.5) / 1e6
              |    >= ${graft.GraftConfig.DriftPsiAlert} AS drifted
              |FROM term GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov drift test — the NONPARAMETRIC
    // companion to agg_drift's binned PSI: where PSI needs a bucket width
    // (and misses shape changes inside a bucket), KS compares the two
    // empirical CDFs at EVERY observed value: D = sup_x |F_ref(x) −
    // F_cur(x)|, here over the same before/after-midpoint split of the
    // event stream. The statistic stays INTEGER until the final division:
    // per (type, value) sample counts, running cumulatives over the value
    // order, and the sup as max |cum_ref·n_cur − cum_cur·n_ref| — one
    // exact BIGINT per type — divided once by n_ref·n_cur (long products
    // fit comfortably at per-type counts; at 1e9+-row types a production
    // run divides per-row first, noted here because the integer form is
    // what makes the oracle hash-exact). The α=0.05 rejection bound
    // c·√((n1+n2)/(n1·n2)) with c = 1.358 is IEEE-exact (sqrt, one
    // division). Scale shape: the (type, value) pre-aggregate collapses
    // the corpus map-side; the window runs inside each type partition
    // over VALUE-DISTINCT rows (bounded by value cardinality, not rows);
    // totals attach via broadcast.
    QDef(
      "agg_ks_test",
      (s, dir) => {
        val obs = T.events(s, dir)
          .where(col("value").isNotNull && !isnan(col("value")))
          .select(col("event_type"), col("value"),
            unix_timestamp(col("ts")).as("t"))
        val mid = obs.agg(expr("(min(t) + max(t)) div 2").as("mid"))
        val g = obs.crossJoin(broadcast(mid))
          .groupBy("event_type", "value")
          .agg(count(when(col("t") < col("mid"), 1)).as("nr"),
            count(when(col("t") >= col("mid"), 1)).as("nc"))
        val tot = g.groupBy("event_type")
          .agg(sum("nr").as("n_ref"), sum("nc").as("n_cur"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("value")
        g.withColumn("cr", sum("nr").over(w))
          .withColumn("cc", sum("nc").over(w))
          .join(broadcast(tot), "event_type")
          .withColumn("dn", abs(col("cr") * col("n_cur") - col("cc") * col("n_ref")))
          .groupBy("event_type")
          .agg(max("n_ref").as("n_ref"), max("n_cur").as("n_cur"),
            max("dn").as("d_num"))
          .withColumn("ks", rnd(col("d_num").cast("double") /
            (col("n_ref") * col("n_cur")).cast("double"), 6))
          .withColumn("crit", rnd(lit(1.358) *
            sqrt((col("n_ref") + col("n_cur")).cast("double") /
              (col("n_ref") * col("n_cur")).cast("double")), 6))
          .withColumn("drifted", col("ks") > col("crit"))
          .select("event_type", "n_ref", "n_cur", "d_num", "ks", "crit",
            "drifted")
          .orderBy("event_type")
      },
      Some("""WITH obs AS (
             |  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS t
             |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
             |m AS (SELECT (min(t) + max(t)) // 2 AS mid FROM obs),
             |g AS (
             |  SELECT event_type, value,
             |    CAST(count(*) FILTER (WHERE t < mid) AS BIGINT) AS nr,
             |    CAST(count(*) FILTER (WHERE t >= mid) AS BIGINT) AS nc
             |  FROM obs CROSS JOIN m GROUP BY event_type, value),
             |tot AS (
             |  SELECT event_type, CAST(sum(nr) AS BIGINT) AS n_ref,
             |    CAST(sum(nc) AS BIGINT) AS n_cur
             |  FROM g GROUP BY event_type),
             |cum AS (
             |  SELECT event_type, value, nr, nc,
             |    CAST(sum(nr) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cr,
             |    CAST(sum(nc) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cc
             |  FROM g),
             |d AS (
             |  SELECT c.event_type, tot.n_ref, tot.n_cur,
             |    abs(c.cr * tot.n_cur - c.cc * tot.n_ref) AS dn
             |  FROM cum c JOIN tot USING (event_type)),
             |agg AS (
             |  SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
             |    max(dn) AS d_num
             |  FROM d GROUP BY event_type)
             |SELECT event_type, n_ref, n_cur, d_num,
             |  floor((CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ks,
             |  floor((1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS crit,
             |  floor((CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE)) * 1e6 + 0.5) / 1e6
             |    > floor((1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS drifted
             |FROM agg ORDER BY event_type""".stripMargin)),

    // Welch's two-sample t-test — the MEAN-shift member of the drift
    // battery (PSI = binned shape, KS = full-CDF sup, t = location):
    // t = (m̄₁ − m̄₂) / √(s₁²/n₁ + s₂²/n₂) with Welch–Satterthwaite
    // degrees of freedom, over the same before/after-midpoint split.
    // Means and variances come from the mergeable (n, Σx, Σx²) moment
    // sums — the agg_moments_reagg state, so at 100 TB this test runs on
    // STANDING per-window moments without a corpus re-scan; the identical
    // x·x (never pow) arithmetic on both engines keeps the 1e-6-rounded
    // statistic and the |t| > 1.96 flag engine-stable. One corpus pass
    // with map-side partials into #types rows.
    QDef(
      "agg_ttest",
      (s, dir) => {
        val obs = T.events(s, dir)
          .where(col("value").isNotNull && !isnan(col("value")))
          .select(col("event_type"), col("value"),
            unix_timestamp(col("ts")).as("t"))
        val mid = obs.agg(expr("(min(t) + max(t)) div 2").as("mid"))
        obs.crossJoin(broadcast(mid))
          .groupBy("event_type")
          .agg(count(when(col("t") < col("mid"), 1)).as("n1"),
            sum(when(col("t") < col("mid"), col("value"))).as("s1"),
            sum(when(col("t") < col("mid"), col("value") * col("value")))
              .as("q1"),
            count(when(col("t") >= col("mid"), 1)).as("n2"),
            sum(when(col("t") >= col("mid"), col("value"))).as("s2"),
            sum(when(col("t") >= col("mid"), col("value") * col("value")))
              .as("q2"))
          .withColumn("m1", col("s1") / col("n1").cast("double"))
          .withColumn("m2", col("s2") / col("n2").cast("double"))
          .withColumn("v1", (col("q1") - col("s1") * col("s1") /
            col("n1").cast("double")) / (col("n1") - 1L).cast("double"))
          .withColumn("v2", (col("q2") - col("s2") * col("s2") /
            col("n2").cast("double")) / (col("n2") - 1L).cast("double"))
          .withColumn("se2", col("v1") / col("n1").cast("double") +
            col("v2") / col("n2").cast("double"))
          .withColumn("tstat", rnd((col("m1") - col("m2")) / sqrt(col("se2")), 6))
          .withColumn("df", rnd(col("se2") * col("se2") /
            (col("v1") * col("v1") /
              (col("n1").cast("double") * col("n1").cast("double") *
                (col("n1") - 1L).cast("double")) +
              col("v2") * col("v2") /
                (col("n2").cast("double") * col("n2").cast("double") *
                  (col("n2") - 1L).cast("double"))), 6))
          .withColumn("shifted", abs(col("tstat")) > lit(1.96))
          .select(col("event_type"), col("n1"), col("n2"),
            rnd(col("m1"), 6).as("m1"), rnd(col("m2"), 6).as("m2"),
            col("tstat"), col("df"), col("shifted"))
          .orderBy("event_type")
      },
      Some("""WITH obs AS (
             |  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS t
             |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
             |m AS (SELECT (min(t) + max(t)) // 2 AS mid FROM obs),
             |g AS (
             |  SELECT event_type,
             |    CAST(count(*) FILTER (WHERE t < mid) AS BIGINT) AS n1,
             |    sum(value) FILTER (WHERE t < mid) AS s1,
             |    sum(value * value) FILTER (WHERE t < mid) AS q1,
             |    CAST(count(*) FILTER (WHERE t >= mid) AS BIGINT) AS n2,
             |    sum(value) FILTER (WHERE t >= mid) AS s2,
             |    sum(value * value) FILTER (WHERE t >= mid) AS q2
             |  FROM obs CROSS JOIN m GROUP BY event_type),
             |d AS (
             |  SELECT event_type, n1, n2,
             |    s1 / CAST(n1 AS DOUBLE) AS m1, s2 / CAST(n2 AS DOUBLE) AS m2,
             |    (q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS v1,
             |    (q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS v2
             |  FROM g),
             |e AS (
             |  SELECT *, v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
             |  FROM d)
             |SELECT event_type, n1, n2,
             |  floor((m1) * 1e6 + 0.5) / 1e6 AS m1,
             |  floor((m2) * 1e6 + 0.5) / 1e6 AS m2,
             |  floor(((m1 - m2) / sqrt(se2)) * 1e6 + 0.5) / 1e6 AS tstat,
             |  floor((se2 * se2 /
             |    (v1 * v1 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) +
             |     v2 * v2 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))) * 1e6 + 0.5) / 1e6 AS df,
             |  abs(floor(((m1 - m2) / sqrt(se2)) * 1e6 + 0.5) / 1e6) > 1.96 AS shifted
             |FROM e ORDER BY event_type""".stripMargin)),

    // Cohort retention — the product-analytics matrix (users cohorted by
    // first conversion day × day offsets of continued activity). Cohort
    // anchor = each user's first PURCHASE day (first-touch collapses on
    // the fixture: every user is active from day one, the always-on
    // shape); activity = subsequent purchase days, as (cohort, offset)
    // distinct-user counts with the cohort's size and retention rate.
    // Scale shape: everything keys on user_id until the final rollup —
    // the first-purchase anchor is a partial-agg min, the join back is
    // co-keyed on the groupBy's own partitioning (no extra corpus
    // shuffle), the (user, cohort, offset) distinct collapses map-side on
    // the same key prefix, and the cohort matrix is O(days²) rows at any
    // corpus size; cohort sizes attach via broadcast. All-integer day
    // arithmetic; the single division crosses the 1e-6 grid.
    QDef(
      "agg_cohort",
      (s, dir) => {
        val e = T.events(s, dir)
          .where(col("event_type") === "purchase")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
        val first = e.groupBy("user_id").agg(min("day").as("cohort"))
        val sizes = first.groupBy("cohort")
          .agg(count(lit(1)).as("cohort_users"))
        e.join(first, "user_id")
          .select(col("user_id"), col("cohort"),
            (col("day") - col("cohort")).as("off"))
          .distinct()
          .groupBy("cohort", "off")
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cohort")
          .select(col("cohort"), col("off"), col("n_active"),
            col("cohort_users"),
            rnd(col("n_active").cast("double") / col("cohort_users"), 6)
              .as("retention"))
          .orderBy("cohort", "off")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
             |  FROM events WHERE event_type = 'purchase'),
             |f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id),
             |cs AS (SELECT cohort, count(*) AS cohort_users FROM f GROUP BY cohort),
             |r AS (
             |  SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS off
             |  FROM e JOIN f USING (user_id)),
             |m AS (SELECT cohort, off, count(*) AS n_active FROM r GROUP BY cohort, off)
             |SELECT m.cohort, m.off, m.n_active, cs.cohort_users,
             |  floor((CAST(m.n_active AS DOUBLE) / cs.cohort_users) * 1e6 + 0.5) / 1e6 AS retention
             |FROM m JOIN cs USING (cohort)
             |ORDER BY cohort, off""".stripMargin))
  )
}
