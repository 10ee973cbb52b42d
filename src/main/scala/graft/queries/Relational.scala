package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standard relational operator battery over the harness star schema.
  *
  * The reference pipeline (see SURVEY.md §2.8) expresses only a thin
  * relational surface (projection, NaN filtering, column-mask select); the
  * full set of relational categories — joins, grouped aggregation, windows,
  * top-k, set ops — is provided here Spark-natively so a reference user has
  * the complete query surface at 100 TB scale.
  *
  * Scale notes baked into each query:
  *  - dimension joins (`region`, `nation`, `supplier`, `customer`, `part`)
  *    are explicitly `broadcast(...)` — at 100 TB the fact tables shuffle
  *    but dimensions never do;
  *  - aggregates are declared via `functions._` so Catalyst plans
  *    partial (map-side) aggregation before the exchange;
  *  - every money aggregate is rounded at the final step only, keeping the
  *    hot path in whole-stage codegen over raw doubles.
  *
  * Oracle parity: every computed column is aliased identically here and in
  * [[graft.Oracles]]; every query ends in a deterministic ORDER BY.
  */
object Relational {

  private def money(c: Column): Column = round(c, 2)

  /** Order-insensitive sum of a fixed-decimal expression.
    *
    * A plain `sum(double)` depends on addition order (partition order is
    * nondeterministic), and rounding can't fix it when the true total sits
    * exactly on a rounding boundary — e.g. `price * (1 - discount)` lives
    * on a 4-decimal grid, so `round(sum, 2)` flips on half-cent totals.
    * Summing per-row integer units (exact in Long) is associative and
    * therefore identical regardless of partitioning — at 32 cores or 1000
    * executors.
    */
  private def gridSum(c: Column, decimals: Int): Column =
    GridMath.gridSum(c, decimals)

  /** `round(avg, outDec)` as one half-up integral division over grid units
    * (see [[GridMath.gridAvgRound]]) — the round-after-float-divide this
    * replaces was the round-1 q12 hash flake.
    */
  private def gridAvgRound(c: Column, decimals: Int, outDec: Int): Column =
    GridMath.gridAvgRound(c, decimals, outDec)

  /** TPC-H Q1-style pricing summary: scan + filter + groupBy agg + sort.
    * Mirrors the canonical pricing-summary shape over `lineitem`.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        gridSum(col("l_extendedprice"), 2).as("sum_base_price"),
        gridSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        gridSum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        gridAvgRound(col("l_quantity"), 2, 2).as("avg_qty"),
        gridAvgRound(col("l_extendedprice"), 2, 6).as("avg_price"),
        gridAvgRound(col("l_discount"), 2, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Broadcast-join chain fact→dims: lineitem ⋈ supplier ⋈ nation ⋈ region,
    * revenue per nation. Dimensions are broadcast — no shuffle of the fact
    * side beyond the final group-by.
    */
  def q2JoinRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        gridSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Shuffle join of two fact tables (orders ⋈ lineitem) with group-by on
    * the join key side: order totals vs lineitem recomputation. Both sides
    * are large at scale → sort-merge/shuffled-hash join on l_orderkey is
    * the right plan; AQE coalesces post-shuffle partitions.
    */
  def q3OrderLineitemJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_orderkey"))
      .agg(gridSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("line_revenue"),
        count(lit(1)).as("n_items"))
      .join(o, col("l_orderkey") === o("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"), col("line_revenue"),
        col("n_items"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
      .limit(500)
  }

  /** Left semi join — EXISTS: customers that have at least one open order. */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
      .limit(1000)
  }

  /** Left anti join — NOT EXISTS: customers with no orders at all. */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), money(col("c_acctbal")).as("acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Window functions: rank order values within customer + running sum.
    * Partition by o_custkey → single shuffle shared by both window specs.
    */
  def q6Window(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_spend",
        money(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        money(col("o_totalprice")).as("totalprice"), col("running_spend"))
      .orderBy(col("o_custkey"), col("rn"))
      .limit(2000)
  }

  /** Top-k per group via window: 2 most expensive parts per brand. */
  def q7TopKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .select(col("p_brand"), col("rk"), col("p_partkey"), col("p_name"),
        money(col("p_retailprice")).as("retailprice"))
      .orderBy(col("p_brand"), col("rk"))
  }

  /** Global top-k: 100 highest-value orders — orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-k, then k-merge on driver;
    * no full sort, no full shuffle — the plan that survives 100×).
    */
  def q8GlobalTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        money(col("o_totalprice")).as("totalprice"))
      .limit(100)

  /** Set operations: union / intersect / except over nation-key domains. */
  def q9SetOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("int").as("nationkey")).distinct()
    val suppNations = Tables.supplier(spark, dir)
      .select(col("s_nationkey").cast("int").as("nationkey")).distinct()
    val both = custNations.intersect(suppNations)
      .withColumn("src", lit("both"))
    val custOnly = custNations.except(suppNations)
      .withColumn("src", lit("cust_only"))
    both.unionByName(custOnly)
      .select(col("nationkey"), col("src"))
      .orderBy(col("nationkey"), col("src"))
  }

  /** Distinct count + multi-distinct aggregation. */
  def q10Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Date/time functions: orders per year-month with avg value. */
  def q11DateAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        gridSum(col("o_totalprice"), 2).as("sum_total"))
      .orderBy(col("o_year"), col("o_month"))

  /** CASE/conditional aggregation — pivot-style without pivot. */
  def q12CaseAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
        gridAvgRound(when(col("o_orderstatus") === "F",
          col("o_totalprice")), 2, 6).as("avg_f_total"))
      .orderBy(col("o_orderpriority"))

  /** Scalar math/string functions over part. */
  def q13ScalarFns(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        money(sqrt(col("p_retailprice"))).as("price_sqrt"),
        money(log(col("p_retailprice") + 1)).as("price_ln"),
        pmod(col("p_size"), lit(7)).as("size_mod7"),
        money(abs(col("p_retailprice") - 1000.0)).as("price_dev"))
      .orderBy(col("p_partkey"))
      .limit(1000)

  /** Grouping sets (rollup): revenue by region/nation hierarchy. */
  def q14Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(nat), c("c_nationkey") === nat("n_nationkey"))
      .rollup(col("n_name"))
      .agg(gridSum(col("o_totalprice"), 2).as("sum_total"),
        count(lit(1)).as("n_orders"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("sum_total"), col("n_orders"))
      .orderBy(col("nation"))
  }

  /** Correlated-style aggregate filter (HAVING): customers whose total
    * spend exceeds 10× the global average order value. The scalar
    * subquery is decorrelated as a 1-row aggregate cross-joined
    * (broadcast) against the grouped spend — the scale-correct plan; the
    * average is an exact grid average so the comparison itself is
    * deterministic across engines.
    */
  def q15Having(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val avgOrder = o.agg(
      gridAvgRound(col("o_totalprice"), 2, 6).as("avg_order"))
    o.groupBy(col("o_custkey"))
      .agg(gridSum(col("o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(avgOrder))
      .filter(col("spend") > col("avg_order") * 10)
      .select(col("o_custkey"), col("spend"), col("n_orders"))
      .orderBy(col("spend").desc, col("o_custkey"))
      .limit(200)
  }

  /** Exact percentiles (interpolating, SQL `percentile`) per group —
    * sort-based within groups; at scale prefer approx_percentile, kept
    * exact here for oracle parity.
    */
  def q16Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75_price"))
      .orderBy(col("l_returnflag"))

  /** String-function battery: LIKE, replace, lpad, split_part, instr. */
  def q17StringFns(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_name").like("%a%"))
      .select(col("p_partkey"),
        regexp_replace(col("p_name"), " ", "_").as("name_u"),
        lpad(col("p_brand"), 12, "#").as("brand_pad"),
        split(col("p_type"), " ").getItem(0).as("type_head"),
        instr(col("p_name"), "a").cast("int").as("first_a"),
        (instr(col("p_name"), "z") > 0).as("has_z"))
      .orderBy(col("p_partkey"))
      .limit(1000)

  /** Correlated-aggregate pattern: parts priced above their brand's
    * average — rewritten as an aggregate + broadcast self-join (the
    * scale-correct decorrelation Catalyst would also pick).
    */
  def q18AboveBrandAvg(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    // both the 6-decimal filter value and the 2-decimal reported value are
    // exact grid averages — a raw avg(double) is summation-order-dependent
    // and would make the `>` filter itself nondeterministic near ties
    val brandAvg = p.groupBy(col("p_brand").as("b_brand"))
      .agg(gridAvgRound(col("p_retailprice"), 2, 6).as("brand_avg"),
        gridAvgRound(col("p_retailprice"), 2, 2).as("brand_avg_price"))
    p.join(broadcast(brandAvg), col("p_brand") === col("b_brand"))
      .filter(col("p_retailprice") > col("brand_avg"))
      .select(col("p_partkey"), col("p_brand"),
        money(col("p_retailprice")).as("retailprice"),
        col("brand_avg_price"))
      .orderBy(col("p_partkey"))
      .limit(2000)
  }

  /** Null semantics: null-producing division, coalesce, nullif,
    * null-safe equality, and null-aware aggregation.
    */
  def q19NullSemantics(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("P")).as("status_or_null"),
        coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")),
          lit("OTHER")).as("prio_c"),
        when(col("o_totalprice") > 200000, col("o_totalprice")).as("big_or_null"))
      .groupBy(col("prio_c"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("status_or_null")).as("n_status"), // nulls not counted
        count(col("big_or_null")).as("n_big"),
        gridAvgRound(col("big_or_null"), 2, 6).as("avg_big"))
      .orderBy(col("prio_c"))

  /** Full cube over (status, priority): all four grouping-set levels in
    * one pass — partial aggregation runs before the single shuffle, same
    * as rollup (q14).
    */
  def q20Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        gridSum(col("o_totalprice"), 2).as("sum_total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_total"))
      .orderBy(col("status"), col("priority"))

  /** Arbitrary grouping sets — the rollup/cube sibling where the sets
    * are chosen, not derived: per-status totals and per-priority totals
    * in ONE pass over orders (an Expand node fans each row into its
    * grouping sets before a single hash aggregate — two separate
    * groupBys would scan the fact table twice).
    */
  def q24GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        gridSum(col("o_totalprice"), 2).as("sum_total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_total"))
      .orderBy(col("status"), col("priority"))

  /** Pivot with an explicit value list (fixed output schema — the only
    * pivot shape that scales: value discovery would need an extra pass):
    * order counts per priority × status.
    */
  def q21Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Unpivot (melt) — wide→long without a shuffle: each row fans out to
    * one row per measured attribute, map-only.
    */
  def q22Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "attr", "val")
      .orderBy(col("p_partkey"), col("attr"))
      .limit(3000)

  /** q16's 100-TB form: `approx_percentile` (Greenwald-Khanna quantile
    * summary) — a mergeable sketch with bounded memory per group, no
    * within-group sort. Sketch internals differ between engines, so the
    * raw estimates cannot hash-match DuckDB; instead the gate output is
    * the BOUNDED-ERROR CHECK: the exact percentiles (q16's idiom,
    * oracle-reproducible) plus one `_ok` boolean per sketch asserting
    * the estimate lies inside the exact-value band at rank p ± 2ε
    * (accuracy 1000 ⇒ guaranteed rank error ε = 1e-3; the extra ε
    * absorbs quantile_cont interpolation slop at the band edges, which
    * a value-at-discrete-rank bound wouldn't need). The oracle asserts
    * TRUE, so a sketch outside its guarantee turns the row red.
    */
  def q16bApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    def band(c: String, p: Double, a: Column): Column = {
      val eps = 0.002
      a.between(expr(s"percentile($c, ${p - eps})"),
        expr(s"percentile($c, ${p + eps})"))
    }
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75_price"),
        band("l_quantity", 0.5,
          expr("approx_percentile(l_quantity, 0.5, 1000)")).as("p50_ok"),
        band("l_extendedprice", 0.25,
          expr("approx_percentile(l_extendedprice, 0.25, 1000)")).as("p25_ok"),
        band("l_extendedprice", 0.75,
          expr("approx_percentile(l_extendedprice, 0.75, 1000)")).as("p75_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Top-3 highest-value orders per priority through the NATIVE top-k
    * physical operator ([[org.apache.spark.sql.graftfn.TopKPerGroupNative]]
    * — custom LogicalPlan → Strategy → SparkPlan, bounded heaps instead
    * of a per-group sort). Oracle-gated with a plain `row_number` SQL
    * twin: the custom operator's semantics are held to the same DuckDB
    * hash-match as every built-in composition.
    */
  def q23NativeTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.TopKPerGroupNative
    TopKPerGroupNative.topKPerGroup(
        Tables.orders(spark, dir)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        group = Seq("o_orderpriority"),
        order = Seq(TopKPerGroupNative.Key("o_totalprice", desc = true),
          TopKPerGroupNative.Key("o_orderkey")),
        k = 3)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
        money(col("o_totalprice")).as("totalprice"))
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT (q26): per-key
    * top-k written the way a SQL user writes it — `JOIN LATERAL
    * (... WHERE correlated ORDER BY ... LIMIT 2)` — rather than the
    * window/rank formulation (q7) or the native operator (q23). The
    * point is the optimizer contract: Catalyst DECORRELATES the lateral
    * into a ranked join (no per-outer-row re-execution, which is what a
    * naive nested-loop reading of LATERAL would do), so the declarative
    * form carries the same scale properties as the explicit rank. The
    * result columns are raw parquet values (no arithmetic), so the gate
    * checks the lateral feature itself against DuckDB's identical SQL.
    */
  def q26LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("q26_nation")
    Tables.customer(spark, dir).createOrReplaceTempView("q26_customer")
    spark.sql(
      """SELECT n.n_name, c.c_name, c.c_acctbal
        |FROM q26_nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM q26_customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""".stripMargin)
  }

  /** Trailing-30-day rolling revenue per customer (q27): a VALUE-based
    * RANGE frame (29 days preceding .. current, on an integer day key),
    * the moving-aggregate shape row frames get wrong under same-day ties
    * — every order of one day sees the identical frame by value. One
    * shuffle on o_custkey; the frame sum is per-row-snapped cents (exact
    * longs), so the moving total is order-insensitive at any parallelism.
    */
  def q27RollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-29, 0)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"),
          lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("rev_30d", sum(col("cents")).over(w) / lit(100.0))
      .withColumn("n_30d", count(lit(1)).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        col("rev_30d"), col("n_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
      .limit(3000)
  }

  /** Share-of-total report (q28): each nation's revenue share within its
    * region and of the world — the ratio_to_report read every revenue
    * dashboard runs, done EXACTLY: revenue stays in 4-decimal integer
    * grid units (decimal(38,0) accumulation, the gridSum discipline)
    * through both the group-by and the share denominators, and each
    * share is one half-up micro-unit integral division of identical
    * integers — so the percentages cannot drift with addition order or
    * engine rounding. Shape at scale: the dimension joins broadcast,
    * the one real shuffle keys on (region, nation), and the share
    * windows/global join run over the 25-row aggregate, never the fact
    * table.
    */
  def q28RevenueShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    val units = sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 10000).cast("long").cast("decimal(38,0)")).as("units")
    val g = li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(units, count(lit(1)).as("n_lines"))
    val wr = Window.partitionBy(col("r_name"))
    val glob = g.agg(sum(col("units")).as("gunits"))
    def share(num: Column, den: Column): Column =
      round(intDiv(num * 1000000L + intDiv(den, lit(2L)), den)
        .cast("double") / 1e6, 6)
    g.withColumn("runits", sum(col("units")).over(wr))
      .crossJoin(broadcast(glob))
      .select(col("r_name"), col("n_name"),
        (col("units").cast("double") / 10000.0).as("revenue"),
        col("n_lines"),
        share(col("units"), col("runits")).as("share_in_region"),
        share(col("units"), col("gunits")).as("share_global"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Window-function battery (q29): the full ranking/navigation surface
    * in one gated frame — rank, dense_rank, ntile, percent_rank,
    * cume_dist, lag, lead, nth_value, first/last over an explicit ROWS
    * frame — per customer over the unique (date, orderkey) order, so
    * every function is tie-free deterministic. percent_rank/cume_dist
    * are ratios of small integers; they round to 6 like every
    * presentation double. One shuffle on o_custkey for all eleven
    * functions: a single Window node evaluates the whole battery.
    */
  def q29WindowBattery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"),
        money(col("o_totalprice")).as("price"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        money(lag(col("o_totalprice"), 1).over(w)).as("prev_price"),
        money(lead(col("o_totalprice"), 1).over(w)).as("next_price"),
        money(nth_value(col("o_totalprice"), 2).over(rows)).as("second_price"),
        money(first(col("o_totalprice")).over(rows)).as("first_price"),
        money(last(col("o_totalprice")).over(rows)).as("last_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
      .limit(3000)
  }

  /** Subquery NULL-semantics battery (q30): the ANSI minefield in one
    * row — `NOT IN` against a set CONTAINING NULL is three-valued-logic
    * UNKNOWN for every probe (zero rows survive), while the
    * "equivalent" `NOT EXISTS` keeps its rows; IN/EXISTS agree on the
    * non-negated side. An engine that compiles NOT IN to a plain
    * anti-join silently returns the NOT EXISTS answer — this gate row
    * pins that the null-aware anti-join semantics survive at any scale.
    */
  def q30SubquerySemantics(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("q30_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("q30_customer")
    spark.sql(
      """SELECT
        |  (SELECT count(*) FROM q30_orders WHERE o_custkey IN
        |    (SELECT c_custkey FROM q30_customer
        |     WHERE c_mktsegment = 'BUILDING')) AS n_in,
        |  (SELECT count(*) FROM q30_orders o WHERE EXISTS
        |    (SELECT 1 FROM q30_customer c WHERE c.c_custkey = o.o_custkey
        |     AND c.c_mktsegment = 'BUILDING')) AS n_exists,
        |  (SELECT count(*) FROM q30_orders WHERE o_custkey NOT IN
        |    (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN c_custkey END
        |     FROM q30_customer)) AS n_not_in_nullset,
        |  (SELECT count(*) FROM q30_orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM q30_customer c WHERE c.c_custkey = o.o_custkey
        |     AND c.c_mktsegment = 'BUILDING')) AS n_not_exists,
        |  (SELECT count(*) FROM q30_orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM q30_customer
        |     WHERE c_mktsegment = 'BUILDING')) AS n_not_in_clean""".stripMargin)
  }

  /** Correlated scalar-subquery battery (q31): the COUNT-bug minefield —
    * a correlated `(SELECT count(*) …)` must yield 0, not NULL, for
    * customers with no orders (naive left-join decorrelation produces
    * NULL; the engine must compensate post-join), while the same
    * correlated SUM genuinely IS NULL on the empty group, and a
    * correlated MAX with a disqualifying predicate is NULL even when
    * orders exist. Money rides the grid-cents discipline. Catalyst
    * decorrelates each subquery into a grouped aggregate on o_custkey
    * + broadcast left-outer join — never a per-outer-row re-scan — and
    * the COUNT compensation is visible in the plan as the
    * `if (isnull(alwaysTrue)) 0 else count` projection (plan-probe
    * pinned, with the big-order predicate pushed to its scan); the
    * oracle runs the textually identical SQL, so the null-handling of
    * the rewrite itself is hash-gated.
    */
  def q31ScalarSubqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("q31_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("q31_customer")
    spark.sql(
      """SELECT c_custkey,
        |  (SELECT count(*) FROM q31_orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |     / CAST(100 AS DOUBLE)
        |   FROM q31_orders o
        |   WHERE o.o_custkey = c.c_custkey) AS sum_price,
        |  (SELECT max(o_orderdate) FROM q31_orders o
        |   WHERE o.o_custkey = c.c_custkey
        |     AND o.o_totalprice > 400000) AS last_big_order
        |FROM q31_customer c
        |ORDER BY c_custkey LIMIT 1000""".stripMargin)
  }

  /** Market-basket pair mining (q32): support counts for part pairs
    * co-ordered in the same order — the classic frequent-itemset
    * first pass (A-priori level 2) every recommender / affinity
    * pipeline runs over order lines. The within-order self-join is
    * NOT quadratic in the table: it is quadratic in ORDER SIZE, which
    * the schema bounds (TPC-H orders hold ≤ 7 lines), so the pair
    * stream is a small constant multiple of lineitem and the plan is
    * one shuffle on l_orderkey for the join plus one on the (pa, pb)
    * pair key for the support count. At 100 TB nothing new appears:
    * no pair matrix over parts, no driver state, and the top-100 is
    * Spark's TakeOrderedAndProject (per-partition heaps, no global
    * sort). DISTINCT items first so a part ordered on two lines of
    * one order (different suppliers) counts one basket, not two.
    */
  def q32BasketPairs(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §2.3/§2.4): one shuffle on l_orderkey collapses each
    // order to its sorted DISTINCT item set (orders hold ≤ 7 lines, so
    // the set is schema-bounded), and the ≤ C(7,2) pairs per order
    // generate MAP-SIDE from the sorted array — where the former
    // distinct-then-self-join spelling paid an extra (okey, p) distinct
    // exchange and a join for the same pair stream. Sorted set ⇒ pa <
    // pb pairs, exactly the old a.p < b.p join condition; support
    // counts are per-order-distinct either way.
    val sets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .groupBy(col("okey"))
      .agg(array_sort(collect_set(col("p"))).as("ps"))
    sets.select(col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + 2, size(col("ps")))).as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(desc("support"), col("pa"), col("pb"))
      .limit(100)
  }

  /** Supplier revenue concentration per nation (q34): Herfindahl index
    * over each nation's supplier revenue shares — the supply-chain
    * concentration read (an HHI near 1 means one supplier IS the
    * nation's flow and any rebalancing fights it; the p33 Gini story
    * on the relational side). Exactness: revenue snaps to its 4-decimal
    * grid per row and sums as DECIMAL(38,0) (the gridSum discipline —
    * order-insensitive at any partitioning); each supplier's micro
    * share is one half-up division, HHI sums the SQUARED micro shares
    * exactly and divides once at presentation. Shape: dims broadcast,
    * one fact groupBy to (nation, supplier) — the share window then
    * runs over that |suppliers|-bounded aggregate, the e33 argument.
    */
  def q34SupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rev = li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 10000).cast("long").cast("decimal(38,0)")).as("units"))
    val shared = rev
      .withColumn("tot", sum(col("units")).over(
        Window.partitionBy(col("n_name"))))
      .withColumn("share_micro",
        intDiv(col("units") * 1000000L + intDiv(col("tot"), lit(2L)),
          col("tot")).cast("long"))
    shared.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        max(col("tot")).as("tot_units"),
        sum(dec(col("share_micro")) * dec(col("share_micro"))).as("ssq"),
        max(col("share_micro")).as("top_micro"))
      .select(col("n_name"), col("n_suppliers"),
        round(col("tot_units").cast("double") / 1e4, 2).as("revenue"),
        round(col("ssq").cast("double") / 1e12, 6).as("hhi"),
        round(col("top_micro").cast("double") / 1e6, 6).as("top_share"))
      .orderBy(col("n_name"))
  }

  /** The UNSCOPED registry — plan-inspection specs read this so
    * building a frame never executes it; every external surface goes
    * through [[graft.SparkEntry.queries]], whose entries run under
    * [[QueryScope.scoped]] (held intermediates park at scope exit and
    * die at the next gated call or [[QueryScope.releaseAll]] — r15 cache
    * hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_supplier_hhi" -> (q34SupplierHhi _),
    "q32_basket_pairs" -> (q32BasketPairs _),
    "q28_revenue_share" -> (q28RevenueShare _),
    "q29_window_battery" -> (q29WindowBattery _),
    "q30_subquery_semantics" -> (q30SubquerySemantics _),
    "q31_scalar_subqueries" -> (q31ScalarSubqueries _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q27_rolling_revenue" -> (q27RollingRevenue _),
    "q26_lateral_topk" -> (q26LateralTopk _),
    "q2_join_revenue_by_nation" -> (q2JoinRevenueByNation _),
    "q3_order_lineitem_join" -> (q3OrderLineitemJoin _),
    "q4_semi_join" -> (q4SemiJoin _),
    "q5_anti_join" -> (q5AntiJoin _),
    "q6_window" -> (q6Window _),
    "q7_topk_per_group" -> (q7TopKPerGroup _),
    "q8_global_topk" -> (q8GlobalTopK _),
    "q9_set_ops" -> (q9SetOps _),
    "q10_distinct" -> (q10Distinct _),
    "q11_date_agg" -> (q11DateAgg _),
    "q12_case_agg" -> (q12CaseAgg _),
    "q13_scalar_fns" -> (q13ScalarFns _),
    "q14_rollup" -> (q14Rollup _),
    "q15_having" -> (q15Having _),
    "q16_percentiles" -> (q16Percentiles _),
    "q17_string_fns" -> (q17StringFns _),
    "q18_above_brand_avg" -> (q18AboveBrandAvg _),
    "q19_null_semantics" -> (q19NullSemantics _),
    "q20_cube" -> (q20Cube _),
    "q21_pivot" -> (q21Pivot _),
    "q22_unpivot" -> (q22Unpivot _),
    "q16b_approx_percentiles" -> (q16bApproxPercentiles _),
    "q23_native_topk" -> (q23NativeTopK _),
    "q24_grouping_sets" -> (q24GroupingSets _),
  )
}
