package graft.queries

import graft.Tables
import graft.queries.QueryScope.HoldOps
import graft.io.SurvivalClean
import graft.surv.{CIndex, Clinical}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** DataFrame-level exposure of the survival operators so the DuckDB gate
  * covers them too: the concordance index as a typed `Aggregator` (the
  * optional surface SURVEY §2.5 sketches) and the cleaning pipeline as a
  * distributed relational op.
  */
object Survival {

  case class SurvRow(event: Boolean, time: Double, risk: Double)

  /** Harrell's C as a typed Aggregator — the DataFrame-level metric
    * surface SURVEY §2.5 sketches. The buffer collects the group's
    * (event, time, risk) triples (a group = one cohort, the
    * fitness-kernel scale of hundreds of samples); the all-pairs count
    * runs once in `finish`.
    */
  case class CIdxResult(n: Int, cindex: Double)

  /** Counted cohort buffer — the count makes the cap check O(1). */
  case class CBuf(n: Long, rows: List[SurvRow])

  object CIndexAggregator extends Aggregator[SurvRow, CBuf, CIdxResult] {
    /** Hard cohort cap. The exact C-index is a PAIRWISE statistic, so
      * every triple of the group must meet in one buffer; `finish` runs
      * the O(n log n) Fenwick-tree twin of the pairwise loop
      * ([[CIndex.concordanceLogN]] — bit-identical credits), which makes
      * 10⁶-row cohorts compute exactly in seconds. The cap is therefore
      * a MEMORY bound (one serialized buffer per group), not a compute
      * bound; beyond it this aggregator REFUSES loudly instead of
      * OOMing a task — at that scale compute the C-index per stratum
      * (smaller cohorts) or over an upstream sample.
      */
    val MaxCohortRows = 2000000
    private def guard(n: Long): Unit =
      if (n > MaxCohortRows) throw new IllegalStateException(
        s"CIndexAggregator cohort exceeds $MaxCohortRows rows; the exact " +
          "C-index is pairwise — the whole cohort colocates in one " +
          "buffer. Stratify into smaller cohorts or subsample upstream.")
    def zero: CBuf = CBuf(0, Nil)
    def reduce(b: CBuf, a: SurvRow): CBuf = {
      guard(b.n + 1)
      CBuf(b.n + 1, a :: b.rows)
    }
    def merge(a: CBuf, b: CBuf): CBuf = {
      guard(a.n + b.n)
      CBuf(a.n + b.n, a.rows ++ b.rows)
    }
    def finish(b: CBuf): CIdxResult = {
      val arr = b.rows.toArray
      CIdxResult(arr.length, CIndex.concordanceLogN(
        arr.map(r => Clinical(r.event, r.time)), arr.map(_.risk)))
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[CBuf] =
      org.apache.spark.sql.Encoders.kryo[CBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[CIdxResult] =
      org.apache.spark.sql.Encoders.product[CIdxResult]
  }

  /** Per-segment C-index of "account balance as risk" against a synthetic
    * survival target over the first 2000 customers — exercises the
    * concordance Aggregator end-to-end against a pure-SQL pairwise
    * oracle (which stays cheap at this sample size).
    */
  def v1CIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("double").as("time"),
        col("c_acctbal").as("risk"))
      .as[(String, Boolean, Double, Double)]
    c.groupByKey(_._1)
      .mapValues(r => SurvRow(r._2, r._3, r._4))
      .agg(CIndexAggregator.toColumn.name("res"))
      .toDF("seg", "res")
      .select(col("seg"), col("res.n").as("n"),
        round(col("res.cindex"), 6).as("cindex"))
      .orderBy(col("seg"))
  }

  /** The reference's cleaning pipeline as a distributed op over a wide
    * numeric matrix synthesized from lineitem: inject NaN into one
    * column (→ column dropped) and Inf into some rows (→ rows dropped),
    * then run SurvivalClean.cleanDistributed. The oracle hardcodes the
    * same deterministic injection.
    */
  def v2CleanMatrix(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 4000)
      .select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("row_id"),
        col("l_quantity").as("f_qty"),
        // f_price catches Inf for one partkey residue class → rows drop
        when(col("l_partkey") % 1000 === 7, lit(Double.PositiveInfinity))
          .otherwise(col("l_extendedprice")).as("f_price"),
        // f_disc catches NaN for one suppkey residue → whole column drops
        when(col("l_suppkey") % 500 === 3, lit(Double.NaN))
          .otherwise(col("l_discount")).as("f_disc"),
        col("l_tax").as("f_tax"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    // order by every output column for a deterministic limit
    SurvivalClean.cleanDistributed(m, Seq("row_id"))
      .orderBy(col("row_id"), col("f_price"), col("f_qty"), col("f_tax"))
      .limit(3000)
  }

  /** Distributed Nelson–Aalen cumulative hazard (v3): the survival-curve
    * estimator as a relational plan — per segment cohort (v1's synthetic
    * survival frame), at each distinct event time t: d (events at t),
    * n (subjects still at risk), the hazard increment d/n, and the
    * running cumulative hazard H(t) = Σ d_i/n_i. The risk set comes from
    * a running count over the time-ordered window — one shuffle on the
    * segment key — and every hazard increment is snapped to integer
    * micro-units with half-up integral division BEFORE accumulation, so
    * the curve is bit-identical at any partitioning and in both engines
    * (a float Σ d/n would drift with addition order). This extends the
    * reference's survival family (which computes per-task curves inside
    * fitness kernels) to the lake-scale cohort the engine's SQL surface
    * serves.
    */
  /** The synthetic survival cohort shared by v3/v4/v5: per (segment,
    * time) the event count d, the subjects-at-time m, and the risk set
    * n_risk = subjects with time ≥ t, computed by one prefix-sum window
    * per segment — one shuffle on the segment key, never a global sort.
    */
  private[graft] def atRiskFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("m"))
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
    val totals = byTime.groupBy(col("seg")).agg(sum(col("m")).as("n_seg"))
    byTime.join(totals, Seq("seg"))
      .withColumn("n_risk", col("n_seg") - coalesce(
        sum(col("m")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
  }

  def v3CumHazard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
    atRiskFrame(spark, dir)
      // half-up integral division in micro-units: exact, associative
      .withColumn("h_micro",
        intDiv(col("d") * 1000000L + intDiv(col("n_risk"), lit(2L)),
          col("n_risk")))
      .withColumn("cum_h_micro",
        sum(col("h_micro")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        col("h_micro"), col("cum_h_micro"),
        round(col("cum_h_micro").cast("double") / 1e6, 6).as("cum_hazard"))
      .orderBy(col("seg"), col("time"))
  }

  /** Distributed Kaplan–Meier estimator (v4): per segment, the product-
    * limit survival curve S(t) = Π_{t_i ≤ t} (1 − d_i/n_i), evaluated at
    * event times. The product is carried in LOG space as integer
    * micro-nats — each factor's ln((n−d)/n) is snapped to a long ONCE
    * (the t12 discipline), the running sum is exact integer arithmetic,
    * and only the final presentation exponentiates — so the curve is
    * bit-identical at any partitioning and across engines, where a
    * floating product would drift with multiplication order. A time
    * where the whole risk set dies (d = n) sends the curve to exactly 0
    * from that point on (ln is undefined there — handled by a sticky
    * flag, not a sentinel value). Same single-shuffle shape as v3.
    */
  def v4KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    atRiskFrame(spark, dir)
      .withColumn("lnf_micro", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e6).cast("long")).otherwise(0L))
      .withColumn("dead", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("cum_ln_micro", sum(col("lnf_micro")).over(w))
      .withColumn("extinct", max(col("dead")).over(w))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        col("cum_ln_micro"),
        when(col("extinct") === 1L, 0.0)
          .otherwise(round(exp(col("cum_ln_micro").cast("double") / 1e6), 6))
          .as("survival"))
      .orderBy(col("seg"), col("time"))
  }

  /** Distributed log-rank test (v5): the standard two-sample comparison
    * of survival curves — arms split by nation-key parity WITHIN each
    * segment, observed-minus-expected events and hypergeometric variance
    * accumulated over the pooled event times:
    *   E1(t) = d·n1/n,   V(t) = d·(n1/n)·(n2/n)·(n−d)/(n−1)
    * and χ² = (Σ(d1−E1))²/ΣV. Each per-time term is snapped to integer
    * micro-units once and summed exactly (t12 discipline), so the
    * statistic cannot drift with aggregation order. The per-arm risk
    * sets ride the same prefix-sum window as v3/v4 — still one shuffle
    * on the segment key; the output is one row per segment.
    */
  def v5LogRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_nationkey") % 2).cast("long").as("arm"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("event") && col("arm") === 0L, 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("event") && col("arm") === 1L, 1L).otherwise(0L))
          .as("d2"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("m1"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("m2"))
    val totals = byTime.groupBy(col("seg"))
      .agg(sum(col("m1")).as("tot1"), sum(col("m2")).as("tot2"))
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = byTime.join(totals, Seq("seg"))
      .withColumn("n1", col("tot1") - coalesce(sum(col("m1")).over(w), lit(0L)))
      .withColumn("n2", col("tot2") - coalesce(sum(col("m2")).over(w), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("d") > 0)
      .withColumn("e1_micro", round(col("d").cast("double") *
        col("n1").cast("double") / col("n").cast("double") * 1e6)
        .cast("long"))
      .withColumn("v_micro", when(col("n") > 1,
        round(col("d").cast("double") * col("n1").cast("double") *
          col("n2").cast("double") * (col("n") - col("d")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1).cast("double")) * 1e6).cast("long"))
        .otherwise(0L))
    terms.groupBy(col("seg"))
      .agg(sum(col("d1")).as("events_arm1"),
        sum(col("d2")).as("events_arm2"),
        sum(col("d1") * 1000000L - col("e1_micro")).as("ome_micro"),
        sum(col("v_micro")).as("var_micro"))
      .select(col("seg"), col("events_arm1"), col("events_arm2"),
        col("ome_micro"), col("var_micro"),
        when(col("var_micro") > 0,
          round((col("ome_micro").cast("double") / 1e6) *
            (col("ome_micro").cast("double") / 1e6) /
            (col("var_micro").cast("double") / 1e6), 6)).as("chi2"))
      .orderBy(col("seg"))
  }

  /** Two-group Cox proportional-hazards fit (v12): the effect-size
    * companion to v5's log-rank test — the hazard ratio e^β between the
    * nation-parity arms within each segment, fit by THREE unrolled
    * Newton steps on the Breslow partial likelihood. With one binary
    * covariate the score and information collapse to closed forms over
    * the same per-time arm risk sets v5 builds:
    *   p(t) = n₁e^β / (n₀ + n₁e^β),  U = Σ d₁(t) − d(t)·p(t),
    *   I = Σ d(t)·p(t)(1−p(t)),      β ← β + U/I.
    * Each per-time U/I term snaps to integer micro-units (the v5
    * discipline) so the sums are exact under any partitioning; β rounds
    * at 6 decimals between steps so both engines iterate from identical
    * inputs; β₀ = 0 makes step one deterministic. se = 1/√I at the last
    * Newton evaluation; the Wald CI exponentiates β ± 1.96·se using the
    * ROUNDED se. The greedy-unroll price (the s23 lesson): fixed Newton
    * depth is what makes the estimator SQL-expressible — three steps
    * from 0 reach |U/I| < 1e-4 on any non-degenerate two-group split.
    *
    * Scale: one shuffle on the segment key (shared with v3–v5), the
    * per-step β table is |segments| rows broadcast back, and each
    * Newton step is one partial-agg pass over the persisted event-time
    * terms — never the raw rows.
    */
  def v12CoxHazardRatio(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_nationkey") % 2).cast("long").as("arm"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("event") && col("arm") === 1L, 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("m0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("m1"))
    val totals = byTime.groupBy(col("seg"))
      .agg(sum(col("m0")).as("tot0"), sum(col("m1")).as("tot1"))
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = byTime.join(totals, Seq("seg"))
      .withColumn("n0", col("tot0") - coalesce(sum(col("m0")).over(w), lit(0L)))
      .withColumn("n1", col("tot1") - coalesce(sum(col("m1")).over(w), lit(0L)))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d"), col("d1"),
        col("n0"), col("n1"))
      .held()
    terms.count() // three Newton passes + the final read share one build
    var beta = terms.select(col("seg")).distinct()
      .select(col("seg"), lit(0.0).as("beta"))
    var last: DataFrame = beta
    for (_ <- 1 to 3) {
      val p = (col("n1").cast("double") * exp(col("beta"))) /
        (col("n0").cast("double") + col("n1").cast("double") * exp(col("beta")))
      last = terms.join(broadcast(beta), Seq("seg"))
        .withColumn("p", p)
        .withColumn("u_micro", round((col("d1").cast("double") -
          col("d").cast("double") * col("p")) * 1e6).cast("long"))
        .withColumn("i_micro", round(col("d").cast("double") * col("p") *
          (lit(1.0) - col("p")) * 1e6).cast("long"))
        .groupBy(col("seg"))
        .agg(max(col("beta")).as("beta"), // constant within the segment
          sum(col("u_micro")).as("u_sum"),
          sum(col("i_micro")).as("i_sum"),
          sum(col("d")).as("n_events"),
          sum(col("d1")).as("events_arm1"))
        .localCheckpoint(true) // |segments| rows; cut the step lineage
      beta = last.select(col("seg"),
        when(col("i_sum") > 0, round(col("beta") +
          col("u_sum").cast("double") / col("i_sum").cast("double"), 6))
          .otherwise(col("beta")).as("beta"))
    }
    val se = when(col("i_sum") > 0,
      round(lit(1.0) / sqrt(col("i_sum").cast("double") / 1e6), 6))
    beta.join(last.select(col("seg"), col("u_sum"), col("i_sum"),
        col("n_events"), col("events_arm1")), Seq("seg"))
      .select(col("seg"), col("n_events"), col("events_arm1"), col("beta"),
        round(exp(col("beta")), 6).as("hazard_ratio"), se.as("se"))
      .select(col("seg"), col("n_events"), col("events_arm1"), col("beta"),
        col("hazard_ratio"), col("se"),
        round(exp(col("beta") - lit(1.96) * col("se")), 6).as("ci_lo"),
        round(exp(col("beta") + lit(1.96) * col("se")), 6).as("ci_hi"))
      .orderBy(col("seg"))
  }

  /** Restricted mean survival time (v6): the area under the v4 curve up
    * to the horizon τ — the clinically reportable "expected survival
    * within τ" summary. The KM curve is a step function, so the integral
    * is EXACT: Σ S(t_i)·(t_{i+1}−t_i) plus the unit-survival head
    * [0, t_1), evaluated in integer micro-day-units (S is already
    * snapped to micro-units by v4's 6-decimal presentation; the gaps are
    * integer days), accumulated with one lead() over the same
    * seg-keyed window — no new shuffle beyond v4's. One row per segment.
    */
  def v6Rmst(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizon = 97L
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
    v4KaplanMeier(spark, dir)
      .withColumn("surv_micro", round(col("survival") * 1e6).cast("long"))
      .withColumn("next_time",
        coalesce(lead(col("time"), 1).over(w), lit(horizon)))
      .groupBy(col("seg"))
      .agg(min(col("time")).as("first_event_time"),
        count(lit(1)).as("n_event_times"),
        sum(col("surv_micro") * (col("next_time") - col("time")))
          .as("auc_micro"))
      .select(col("seg"), col("first_event_time"), col("n_event_times"),
        lit(horizon).as("horizon"),
        round((col("first_event_time") * 1000000L + col("auc_micro"))
          .cast("double") / 1e6, 6).as("rmst"))
      .orderBy(col("seg"))
  }

  /** Greenwood confidence band (v7): the KM curve with its standard
    * error — Var(S) = S²·Σ d/(n(n−d)) — and the plain 95% band clamped
    * to [0,1]; what lifelines/sksurv print next to every survival
    * curve. The Greenwood accumulator gets the same integer treatment
    * as the curve itself: each per-time term d/(n(n−d)) is snapped ONCE
    * to NANO-units (micro is too coarse for 1/(n(n−d)) at cohort n) by
    * half-up integral division, the running sum is exact, and only the
    * final se/band multiply through doubles. Extinction rows (S = 0)
    * carry a zero-width band. Same single seg-keyed shuffle as v3–v6.
    */
  def v7GreenwoodCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    atRiskFrame(spark, dir)
      .withColumn("lnf_micro", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e6).cast("long")).otherwise(0L))
      .withColumn("dead", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("gw_nano", when(col("d") < col("n_risk"),
        intDiv(col("d") * 1000000000L +
            intDiv(col("n_risk") * (col("n_risk") - col("d")), lit(2L)),
          col("n_risk") * (col("n_risk") - col("d")))).otherwise(0L))
      .withColumn("cum_ln_micro", sum(col("lnf_micro")).over(w))
      .withColumn("extinct", max(col("dead")).over(w))
      .withColumn("cum_gw_nano", sum(col("gw_nano")).over(w))
      .filter(col("d") > 0)
      .withColumn("s", when(col("extinct") === 1L, 0.0)
        .otherwise(round(exp(col("cum_ln_micro").cast("double") / 1e6), 6)))
      .withColumn("se", when(col("extinct") === 1L, 0.0)
        .otherwise(round(col("s") *
          sqrt(col("cum_gw_nano").cast("double") / 1e9), 6)))
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        col("s").as("survival"), col("se"),
        round(greatest(col("s") - lit(1.96) * col("se"), lit(0.0)), 6)
          .as("ci_lo"),
        round(least(col("s") + lit(1.96) * col("se"), lit(1.0)), 6)
          .as("ci_hi"))
      .orderBy(col("seg"), col("time"))
  }

  /** Actuarial life table (v8): the interval-binned survival summary —
    * the epidemiology-standard presentation the reference's per-cohort
    * curves feed into (lifelines `survival_table_from_events` has the
    * same columns). Time is binned into width-10 intervals; per
    * (segment, interval): entrants, deaths d, censored w, the actuarial
    * effective at-risk n_eff = n_enter − w/2 (half-censor convention),
    * the conditional death probability q = d/n_eff and the cumulative
    * survival to the interval's END. Exactness discipline: n_eff is
    * carried DOUBLED (2·n_enter − w — an integer, so the w/2 convention
    * never touches a float), q is one half-up micro-unit integral
    * division, and the survival product runs in log space as integer
    * micro-nats with v4's sticky-extinction flag. Same single shuffle
    * on the segment key as v3–v7; the interval grid collapses the
    * per-time rows ~10×, so the life table is CHEAPER than the curve
    * it summarizes.
    */
  def v8LifeTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val binW = 10L
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byBin = s.withColumn("bin", intDiv(col("time"), lit(binW)))
      .groupBy(col("seg"), col("bin"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("event"), 1L).otherwise(0L)).as("w"),
        count(lit(1)).as("m"))
    val totals = byBin.groupBy(col("seg")).agg(sum(col("m")).as("n_seg"))
    val wPrev = Window.partitionBy(col("seg")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("seg")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byBin.join(totals, Seq("seg"))
      .withColumn("n_enter",
        col("n_seg") - coalesce(sum(col("m")).over(wPrev), lit(0L)))
      // doubled fixed-point: n_eff = n_enter − w/2  ⇒  2·n_eff is integer
      .withColumn("n_eff_x2", col("n_enter") * 2L - col("w"))
      .withColumn("q_micro",
        intDiv(col("d") * 2000000L + intDiv(col("n_eff_x2"), lit(2L)),
          col("n_eff_x2")))
      .withColumn("p_micro", lit(1000000L) - col("q_micro"))
      .withColumn("lnp_micro", when(col("p_micro") > 0L,
        round(log(col("p_micro").cast("double") / 1e6) * 1e6).cast("long"))
        .otherwise(0L))
      .withColumn("dead", when(col("p_micro") === 0L, 1L).otherwise(0L))
      .withColumn("cum_ln_micro", sum(col("lnp_micro")).over(wCum))
      .withColumn("extinct", max(col("dead")).over(wCum))
      .select(col("seg"), col("bin"),
        (col("bin") * binW).as("t_start"),
        (col("bin") * binW + binW).as("t_end"),
        col("n_enter"), col("d"), col("w"),
        round(col("q_micro").cast("double") / 1e6, 6).as("q"),
        when(col("extinct") === 1L, 0.0)
          .otherwise(round(exp(col("cum_ln_micro").cast("double") / 1e6), 6))
          .as("survival"))
      .orderBy(col("seg"), col("bin"))
  }

  /** Aalen–Johansen cumulative incidence (v9): survival's answer to
    * "which FAILURE MODE claims the cohort" — two competing causes
    * (custkey residues; odd keys censor), where the naive per-cause KM
    * is biased because a cause-1 event removes the subject from cause
    * 2's risk set. The estimator weights each cause's hazard increment
    * by overall survival just BEFORE the event time:
    *   ΔF_k(t) = S(t−)·d_k/n,   F_k(t) = Σ_{t_i ≤ t} ΔF_k(t_i).
    * S(t−) rides v4's log-micro machinery over an EXCLUSIVE window
    * (rows to −1, so the factor at t itself is not yet applied); each
    * ΔF_k is snapped to micro-units once (v5's e1_micro discipline) and
    * the running F_k is an exact integer sum — the two curves cannot
    * drift apart with aggregation order. Same single seg-keyed shuffle
    * as the rest of the v-family.
    */
  def v9CompetingRisks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        when(col("c_custkey") % 4 === 0, 1L)
          .when(col("c_custkey") % 4 === 2, 2L)
          .otherwise(0L).as("cause"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("cause") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(col("cause") === 2L, 1L).otherwise(0L)).as("d2"),
        count(lit(1)).as("m"))
    val totals = byTime.groupBy(col("seg")).agg(sum(col("m")).as("n_seg"))
    val wPrev = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byTime.join(totals, Seq("seg"))
      .withColumn("n_risk",
        col("n_seg") - coalesce(sum(col("m")).over(wPrev), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("lnf_micro", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e6).cast("long")).otherwise(0L))
      .withColumn("dead", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      // S(t−): exclusive accumulation — survival before this time's factor
      .withColumn("s_prev", when(
        coalesce(max(col("dead")).over(wPrev), lit(0L)) === 1L, 0.0)
        .otherwise(exp(
          coalesce(sum(col("lnf_micro")).over(wPrev), lit(0L))
            .cast("double") / 1e6)))
      .withColumn("inc1_micro", round(col("s_prev") *
        col("d1").cast("double") / col("n_risk").cast("double") * 1e6)
        .cast("long"))
      .withColumn("inc2_micro", round(col("s_prev") *
        col("d2").cast("double") / col("n_risk").cast("double") * 1e6)
        .cast("long"))
      .withColumn("cif1_micro", sum(col("inc1_micro")).over(wCum))
      .withColumn("cif2_micro", sum(col("inc2_micro")).over(wCum))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d1"), col("d2"), col("n_risk"),
        round(col("cif1_micro").cast("double") / 1e6, 6).as("cif_cause1"),
        round(col("cif2_micro").cast("double") / 1e6, 6).as("cif_cause2"))
      .orderBy(col("seg"), col("time"))
  }

  /** Survival at fixed horizons (v10): the KM curve read at the
    * reporting times a clinical summary quotes ("30/60/90-day
    * survival") — for each (segment, horizon), the curve value at the
    * last event time ≤ the horizon, exactly 1.0 when no event precedes
    * it (the step function's left limit, read with `max_by` so the
    * probe never re-sorts the curve). Pure composition over the gated
    * v4 output: the horizon probe is a 3-row broadcast, the per-cell
    * collapse keys on (seg, horizon), and segments without early events
    * re-enter via the left join — the v4 curve is computed once.
    */
  def v10SurvivalAtTimes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val km = v4KaplanMeier(spark, dir)
      .select(col("seg"), col("time"), col("survival"))
    val horizons = Seq(30L, 60L, 90L).toDF("horizon")
    val grid = km.select(col("seg")).distinct()
      .crossJoin(broadcast(horizons))
    val best = km.join(broadcast(horizons), col("time") <= col("horizon"))
      .groupBy(col("seg"), col("horizon"))
      .agg(max(col("time")).as("last_event_time"),
        max_by(col("survival"), col("time")).as("s"))
    grid.join(best, Seq("seg", "horizon"), "left")
      .select(col("seg"), col("horizon"),
        coalesce(col("last_event_time"), lit(-1L)).as("last_event_time"),
        coalesce(col("s"), lit(1.0)).as("survival"))
      .orderBy(col("seg"), col("horizon"))
  }

  /** Median and quartile survival times (v11): the smallest event time
    * where the KM curve first reaches S(t) ≤ q for q ∈ {0.75, 0.5,
    * 0.25} — the "median survival 14 months (IQR 9–21)" headline every
    * clinical abstract quotes, read off the gated v4 curve. v10 probes
    * the curve at fixed TIMES; v11 inverts it at fixed LEVELS. Pure
    * composition: the quantile probe is a 3-row broadcast, the
    * first-crossing collapse keys on (seg, q) with `min_by` (never a
    * re-sort of the curve), and never-crossing (seg, q) cells re-enter
    * via the left join with the −1 sentinel. The v4 survival values are
    * bit-stable across engines (log-micro product, gated), so comparing
    * them to exactly-representable quantile literals is deterministic.
    */
  def v11MedianSurvival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val km = v4KaplanMeier(spark, dir)
      .select(col("seg"), col("time"), col("survival"))
    val qs = Seq(0.75, 0.50, 0.25).toDF("q")
    val grid = km.select(col("seg")).distinct().crossJoin(broadcast(qs))
    val crossed = km.join(broadcast(qs), col("survival") <= col("q"))
      .groupBy(col("seg"), col("q"))
      .agg(min(col("time")).as("t_cross"),
        min_by(col("survival"), col("time")).as("s_at"))
    grid.join(crossed, Seq("seg", "q"), "left")
      .select(col("seg"), col("q"),
        coalesce(col("t_cross"), lit(-1L)).as("cross_time"),
        coalesce(col("s_at"), lit(-1.0)).as("survival_at"))
      .orderBy(col("seg"), col("q").desc)
  }

  /** Nelson–Aalen variance + 95 % confidence band (v13): the Klein
    * variance estimator σ²(t) = Σ_{tᵢ≤t} dᵢ(nᵢ−dᵢ)/nᵢ³ over v3's risk
    * frame, with the linear CI band H(t) ± 1.96·σ(t) — the uncertainty
    * companion v3's point estimate lacks, what v7's Greenwood band is
    * to v4's Kaplan–Meier. All cross-row state is exact integers: the
    * per-time variance increment snaps to pico units by one half-up
    * integral division (d(n−d)·10¹² ≤ 10¹⁸ keeps Long headroom at the
    * 2000-row frame; a lake-scale caller promotes to DECIMAL(38,0) the
    * s25 way), the running sums are Long additions, and the only
    * floats are the presentation divisions plus ONE IEEE-exact sqrt of
    * the same integer on both engines, in one shared expression order.
    * Single shuffle on seg like v3; the band is a window cumsum, not a
    * second pass.
    */
  def v13NelsonAalenCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val n3 = col("n_risk") * col("n_risk") * col("n_risk")
    atRiskFrame(spark, dir)
      .withColumn("h_micro",
        intDiv(col("d") * 1000000L + intDiv(col("n_risk"), lit(2L)),
          col("n_risk")))
      .withColumn("v_pico",
        intDiv(col("d") * (col("n_risk") - col("d")) * 1000000000000L
          + intDiv(n3, lit(2L)), n3))
      .withColumn("cum_h_micro", sum(col("h_micro")).over(w))
      .withColumn("cum_v_pico", sum(col("v_pico")).over(w))
      .filter(col("d") > 0)
      .withColumn("se", sqrt(col("cum_v_pico").cast("double")) / 1e6)
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        round(col("cum_h_micro").cast("double") / 1e6, 6).as("cum_hazard"),
        round(col("cum_v_pico").cast("double") / 1e12, 6).as("var_hazard"),
        round(col("cum_h_micro").cast("double") / 1e6
          - lit(1.96) * col("se"), 6).as("ci_lo"),
        round(col("cum_h_micro").cast("double") / 1e6
          + lit(1.96) * col("se"), 6).as("ci_hi"))
      .orderBy(col("seg"), col("time"))
  }

  /** Weibull fit of the cumulative hazard (v14): per segment, the OLS
    * fit of ln H(t) over ln t across v3's Nelson–Aalen curve — under a
    * Weibull lifetime H(t) = (t/λ)^α the plot is a line with slope α
    * (the shape: α < 1 infant-mortality, α ≈ 1 memoryless, α > 1
    * wear-out) and intercept −α·ln λ, so the fit IS the parametric
    * survival model every reliability pipeline reads next after the
    * nonparametric curve. Composition discipline: the input is the
    * GATED v3 frame (cum_h_micro — exact integers on both engines);
    * both ln snaps are one shared expression per point, the five OLS
    * moments ride the t24 DECIMAL(38,0)/HUGEINT machinery, and shape /
    * intercept come out of the same closed-form half-up divisions.
    * Emitted in the (α, −α·ln λ) parameterization — deriving λ itself
    * would cross exp, which stays out of the gate.
    */
  def v14WeibullFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val xy = v3CumHazard(spark, dir)
      .filter(col("time") > 0)
      .select(col("seg"),
        round(log(col("time").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cum_h_micro").cast("double") / 1e6) * 1e6)
          .cast("long").as("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = xy.groupBy(col("seg")).agg(
      count(lit(1)).cast("long").as("n_fit"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    val den = col("n_fit") * col("sxx") - col("sx") * col("sx")
    val slopeNum =
      (col("n_fit") * col("sxy") - col("sx") * col("sy")) * 1000000L
    val interNum = col("sxx") * col("sy") - col("sx") * col("sxy")
    m.select(col("seg"), col("n_fit"),
        (intDiv(slopeNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("shape"),
        (intDiv(interNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("ln_h_intercept"))
      .orderBy(col("seg"))
  }

  /** The UNSCOPED registry — plan-inspection specs read this so
    * building a frame never executes it; every external surface goes
    * through [[graft.SparkEntry.queries]], whose entries run under
    * [[QueryScope.scoped]] (held intermediates park at scope exit and
    * die at the next gated call or [[QueryScope.releaseAll]] — r15 cache
    * hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v14_weibull_fit" -> (v14WeibullFit _),
    "v13_nelson_aalen_ci" -> (v13NelsonAalenCi _),
    "v1_cindex" -> (v1CIndex _),
    "v10_survival_at_times" -> (v10SurvivalAtTimes _),
    "v11_median_survival" -> (v11MedianSurvival _),
    "v2_clean_matrix" -> (v2CleanMatrix _),
    "v3_cum_hazard" -> (v3CumHazard _),
    "v4_kaplan_meier" -> (v4KaplanMeier _),
    "v5_logrank" -> (v5LogRank _),
    "v6_rmst" -> (v6Rmst _),
    "v7_greenwood_ci" -> (v7GreenwoodCi _),
    "v8_life_table" -> (v8LifeTable _),
    "v9_competing_risks" -> (v9CompetingRisks _),
    "v12_cox_hr" -> (v12CoxHazardRatio _),
  )
}
