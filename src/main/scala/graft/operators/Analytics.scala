package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Ring
import graft.functions.Text

/** The analytic surface SURVEY.md §2 lists as "absent categories" plus A4 —
  * rollup/grouping sets, ranking/analytic window functions, top-k, set
  * operations, and HLL distinct-counting. The reference's README names
  * "feature engineering" as the downstream need (`README.md:96`); these are
  * the grouped/windowed primitives that feed it.
  *
  * Scale notes: rollup is one shuffle with partial aggregation per grouping
  * set (Catalyst Expand); window queries shuffle once on the partition key;
  * top-k compiles to TakeOrderedAndProject (per-partition heaps + merge —
  * never a full global sort); approx_count_distinct is HLL±± — mergeable
  * sketch state, constant memory per group at any cardinality.
  */
object Analytics {

  private def cents(c: Column): Column =
    floor(c * 100.0 + lit(0.5)).cast("long")

  // ── q28: rollup over the region→nation hierarchy (A4) ───────────────────
  /** Customer count + balance by nation, subtotaled by region, grand-total —
    * `rollup`. NULL group cells are labeled 'ALL' on both sides so ordering
    * and hashing agree (Spark sorts NULLs first, DuckDB last). */
  def rollupRegionNation(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
           sum(cents(col("c_acctbal"))).as("bal_cents"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("n_cust"), col("bal_cents"))
      .orderBy(col("region"), col("nation"))
  }
  val rollupRegionNationSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
      |  count(*) AS n_cust,
      |  CAST(sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  // ── q61: cube over order priority × status (A4, all grouping sets) ─────
  /** Order count + revenue over EVERY grouping-set combination of
    * (priority, status) — `cube` completes the A4 grouping family next to
    * q28's `rollup` (rollup emits only the hierarchy's prefixes; cube
    * emits all 2^k subsets, the general GROUPING SETS case). Same
    * execution shape: ONE shuffle with partial aggregation per grouping
    * set (Spark expands the cube before the exchange, so the map-side
    * combine still eats the fact table). NULL group cells are labeled
    * 'ALL' on both sides so ordering and hashing agree. */
  def cubePriorityStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("cents"))
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              col("n_orders"), col("rev_cents"))
      .orderBy(col("priority"), col("status"))
  val cubePriorityStatusSql: String =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  // ── q29: ranking + analytic window functions over order sequences ───────
  /** Per-customer order timeline: row_number, gap-days since the previous
    * order (lag), and a running balance (sum over an explicit ROWS frame) —
    * the rank/lag/frame trio SURVEY §2 flags as the generalization of A2's
    * "latest fight". One shuffle on o_custkey serves all three. */
  def orderSequence(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("od").asc, col("o_orderkey").asc)
    // r21 (guide §2.4): ONE range exchange on o_custkey feeds the window
    // (RangePartitioning clusters the partition key like hash did) AND
    // already satisfies the declared ORDER BY's distribution — the old
    // shape paid a hash exchange for the window plus a final range
    // exchange whose boundary sampling re-ran the whole window stage.
    // The remaining (o_custkey, seq) sort is partition-local.
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"),
        cents(col("o_totalprice")).as("price_cents"))
      .repartitionByRange(col("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("seq"),
        datediff(col("od"), lag(col("od"), 1).over(w)).as("gap_days"),
        sum(col("price_cents")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("run_cents"))
      .orderBy(col("o_custkey"), col("seq"))
  }
  val orderSequenceSql: String =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER w AS seq,
      |  date_diff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
      |            CAST(o_orderdate AS DATE)) AS gap_days,
      |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
      |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC)
      |ORDER BY o_custkey, seq""".stripMargin

  // ── q30: global top-k (TakeOrderedAndProject, not a full sort) ──────────
  def topOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .orderBy(col("price_cents").desc, col("o_orderkey").asc)
      .limit(100)
  val topOrdersSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_cents
      |FROM orders
      |ORDER BY price_cents DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  // ── q31: intersect / except (set ops beyond J1's keyed anti-join) ───────
  /** Nations that have BUILDING-segment customers vs nations hosting
    * negative-balance suppliers: INTERSECT ∪ EXCEPT, labeled. Both set ops
    * are distinct-semantics, matching SQL. */
  def nationSetOps(s: SparkSession, d: String): DataFrame = {
    val custN = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("nation_key"))
    val suppN = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0)
      .select(col("s_nationkey").as("nation_key"))
    custN.intersect(suppN).withColumn("rel", lit("both"))
      .unionByName(custN.except(suppN).withColumn("rel", lit("cust_only")))
      .orderBy(col("rel"), col("nation_key"))
  }
  val nationSetOpsSql: String =
    """WITH cust AS (SELECT DISTINCT c_nationkey AS nation_key FROM customer
      |              WHERE c_mktsegment = 'BUILDING'),
      |     supp AS (SELECT DISTINCT s_nationkey AS nation_key FROM supplier
      |              WHERE s_acctbal < 0)
      |SELECT nation_key, 'both' AS rel FROM (SELECT * FROM cust INTERSECT SELECT * FROM supp)
      |UNION ALL
      |SELECT nation_key, 'cust_only' AS rel FROM (SELECT * FROM cust EXCEPT SELECT * FROM supp)
      |ORDER BY rel, nation_key""".stripMargin

  // ── q32: HLL distinct-count with exactness gate (A4's sketch row) ───────
  /** approx_count_distinct (HyperLogLog++, rsd=0.02) per order priority,
    * verified as a BOOLEAN gate: the sketch estimate must land within 5%
    * (2.5σ) of the exact count (the oracle asserts TRUE). The estimate
    * itself is engine-specific, so the contract checked cross-engine is
    * the error bound — deterministic for fixed data.
    *
    * rsd 0.02 → 2^11 registers ≈ 341 longs of agg buffer. Do NOT tighten
    * to 0.01: that quadruples the buffer past Spark's wide-row codegen
    * cliff (measured 69 s at sf0.1 vs ~1 s here). */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    // r21 (guide §2.3/§5): countDistinct + HLL in ONE aggregate plans the
    // distinct-rewrite Expand, which carries a 2^11-register HLL buffer on
    // EVERY (priority, custkey) partial group — |customers|-many 2.7 KB
    // buffers of pure memory traffic. HLL register state is insertion-
    // idempotent (max over hashes), so sketching the DEDUPED pairs yields
    // bit-identical registers: dedup first (partial-aggable, payload-free
    // groups), then one tiny agg holds 5 sketch buffers total. n_exact is
    // the dedup'd count — same number, no Expand anywhere.
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_custkey"))
      .distinct()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_exact"),
           approx_count_distinct(col("o_custkey"), 0.02).as("n_approx"))
      .select(col("o_orderpriority"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
         col("n_exact").cast("double") * 0.05).as("approx_ok"))
      .orderBy(col("o_orderpriority"))
  val approxDistinctSql: String =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_exact,
      |  TRUE AS approx_ok
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ── q40: fact ⋈ mid-size dimension (part) — revenue by brand/type ──────
  /** The one dimension too big to force-broadcast at scale (part grows
    * with SF): no hint, AQE decides — broadcast while it fits, shuffle
    * join beyond. Completes coverage of every harness table. */
  def revenueByBrand(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_lines"),
           sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
             .as("revenue_cents"),
           sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
      .orderBy(col("p_brand"), col("p_type"))
  val revenueByBrandSql: String =
    """SELECT p_brand, p_type, count(*) AS n_lines,
      |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand, p_type
      |ORDER BY p_brand, p_type""".stripMargin

  // ── q45: KMV bottom-k sketch (custom typed Aggregator) ──────────────────
  val KmvK = 64

  /** Distinct customers per order priority, estimated with the mergeable
    * KMV sketch ([[graft.functions.KmvSketch]]): the shuffle carries ≤ 64
    * longs per group regardless of input size. Because the sketch is
    * built on the portable md5 hash, the oracle recomputes the EXACT kth
    * minimum and the exact estimate — a sketch whose output hash-matches
    * across engines (HLL can't do that). The exactness gate also checks
    * the estimate lands within 2× of truth (k=64 → ~13% stderr).
    *
    * `try_element_at` (not `element_at`): the session pins ANSI mode, so a
    * group with fewer than k distinct hashes would otherwise throw
    * INVALID_ARRAY_INDEX — with `try_` it yields NULL, matching the
    * oracle's DuckDB `list[64]` (NULL past the end) and the KMV
    * convention that a sketch with < k values has no kth-min estimate. */
  def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch.Agg(KmvK))
    val h = graft.functions.Text.portableHash(col("o_custkey").cast("string"))
    val big = lit(1152921504606846976.0) // 2^60, the portable hash space
    val kthMin = try_element_at(col("sk.hashes"), lit(KmvK))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), h.as("h"))
      .groupBy(col("o_orderpriority"))
      .agg(kmv(col("h")).as("sk"),
           countDistinct(col("h")).as("n_exact"))
      .select(col("o_orderpriority"), col("n_exact"),
        kthMin.as("kth_min"),
        floor(lit(KmvK - 1) * (big / kthMin))
          .cast("long").as("est"))
      .withColumn("est_ok",
        col("est") * 2L >= col("n_exact") && col("est") <= col("n_exact") * 2L)
      .orderBy(col("o_orderpriority"))
  }
  val kmvDistinctSql: String =
    s"""WITH h AS (
      |  SELECT o_orderpriority,
      |    ${Text.portableHashSql("CAST(o_custkey AS VARCHAR)")} AS h
      |  FROM orders),
      |sk AS (
      |  SELECT o_orderpriority,
      |    count(DISTINCT h) AS n_exact,
      |    list_sort(list_distinct(list(h)))[64] AS kth_min
      |  FROM h GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n_exact, kth_min,
      |  CAST(floor(63 * (1152921504606846976.0 / kth_min)) AS BIGINT) AS est,
      |  (CAST(floor(63 * (1152921504606846976.0 / kth_min)) AS BIGINT) * 2 >= n_exact
      |   AND CAST(floor(63 * (1152921504606846976.0 / kth_min)) AS BIGINT) <= n_exact * 2) AS est_ok
      |FROM sk ORDER BY o_orderpriority""".stripMargin

  // ── q46: left-semi join (EXISTS) ────────────────────────────────────────
  /** Customers with at least one URGENT order — `left_semi`: probe side
    * streams through the join without duplication or payload columns from
    * the build side (EXISTS, not INNER+distinct — no fan-out, no dedup
    * shuffle). */
  def urgentCustomers(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }
  val urgentCustomersSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ── q47: full outer join ────────────────────────────────────────────────
  /** Per-nation BUILDING-customer totals vs negative-balance-supplier
    * totals, full outer on nation key: nations present on either side
    * survive with NULL-filled partners — the reconciliation-report shape. */
  def nationBalanceRecon(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey"))
      .agg(sum(cents(col("c_acctbal"))).as("cust_cents"))
    val supp = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey"))
      .agg(sum(cents(col("s_acctbal"))).as("supp_cents"))
    cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nation_key"),
        coalesce(col("cust_cents"), lit(0L)).as("cust_cents"),
        coalesce(col("supp_cents"), lit(0L)).as("supp_cents"))
      .orderBy(col("nation_key"))
  }
  val nationBalanceReconSql: String =
    """WITH cust AS (
      |  SELECT c_nationkey,
      |    CAST(sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS cust_cents
      |  FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey),
      |supp AS (
      |  SELECT s_nationkey,
      |    CAST(sum(CAST(floor(s_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS supp_cents
      |  FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey)
      |SELECT COALESCE(c_nationkey, s_nationkey) AS nation_key,
      |  COALESCE(cust_cents, 0) AS cust_cents,
      |  COALESCE(supp_cents, 0) AS supp_cents
      |FROM cust FULL JOIN supp ON c_nationkey = s_nationkey
      |ORDER BY nation_key""".stripMargin

  // ── q48: unpivot (wide → attribute rows, P6's inverse) ─────────────────
  /** Melt the per-order pivot of q15 back into (orderkey, flag, qty)
    * attribute rows via stack() — the wide→tall direction the reference's
    * header-zip pivot undoes. Zero-filled cells are dropped to keep the
    * relation sparse. */
  def unpivotQuantities(s: SparkSession, d: String): DataFrame =
    // r21 (guide §2.4): one range exchange on the group key serves the
    // aggregation AND the final ORDER BY (q15's argument — the stack
    // fan-out and the sort both ride RangePartitioning(l_orderkey), so
    // the old post-agg range exchange and its child-resampling pass are
    // gone; ties of l_orderkey stay within one partition, so the
    // (l_orderkey, flag) local sort is still a total order)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .repartitionByRange(col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(floor(col("l_quantity")).cast("long")))
      .select(col("l_orderkey"), expr(
        "stack(3, 'A', A, 'N', N, 'R', R) AS (flag, qty)"))
      .filter(col("qty").isNotNull)
      .orderBy(col("l_orderkey"), col("flag"))
  val unpivotQuantitiesSql: String =
    """SELECT l_orderkey, l_returnflag AS flag,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |GROUP BY l_orderkey, l_returnflag
      |ORDER BY l_orderkey, flag""".stripMargin

  // ── q49: distribution window functions (ntile / percent_rank / cume) ───
  /** Per-nation customer balance quartiles: ntile(4), percent_rank and
    * cume_dist (emitted as exact micro-units — both are ratios of small
    * integers, so the double division is bit-identical cross-engine).
    * Partitioned by nation: the window never needs a global sort, so the
    * operator scales with the largest nation, not the table. */
  def balanceQuartiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bal_cents").asc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"),
        cents(col("c_acctbal")).as("bal_cents"))
      .select(col("c_nationkey"), col("c_custkey"), col("bal_cents"),
        ntile(4).over(w).as("quartile"),
        floor(percent_rank().over(w) * 1e6 + lit(0.5)).cast("long")
          .as("pct_rank_micro"),
        floor(cume_dist().over(w) * 1e6 + lit(0.5)).cast("long")
          .as("cume_micro"))
      .orderBy(col("c_nationkey"), col("c_custkey"))
  }
  val balanceQuartilesSql: String =
    """SELECT c_nationkey, c_custkey, bal_cents,
      |  ntile(4) OVER w AS quartile,
      |  CAST(floor(percent_rank() OVER w * 1000000.0 + 0.5) AS BIGINT) AS pct_rank_micro,
      |  CAST(floor(cume_dist() OVER w * 1000000.0 + 0.5) AS BIGINT) AS cume_micro
      |FROM (SELECT c_nationkey, c_custkey,
      |        CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_cents
      |      FROM customer)
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal_cents ASC, c_custkey ASC)
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  // ── q50: moment statistics from exact integer sums ──────────────────────
  /** Mean/variance/stddev per segment WITHOUT float-sum nondeterminism:
    * the aggregation computes only integer moments (n, Σx, Σx²) in cents —
    * order-independent under any shuffle — and the float statistics are
    * derived afterwards in one deterministic scalar expression. This is
    * how to get distribution stats that hash-compare across engines (a
    * plain `stddev()` sums doubles in shuffle order and is not
    * reproducible). Σx² of 1e6-cent balances × 1e5 rows stays < 2^63. */
  def balanceMoments(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_mktsegment"), cents(col("c_acctbal")).as("x"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).as("sum_cents"),
           sum(col("x") * col("x")).as("sum_sq"))
      .select(col("c_mktsegment"), col("n"), col("sum_cents"),
        floor(col("sum_cents").cast("double") / col("n").cast("double") + 0.5)
          .cast("long").as("mean_cents"),
        floor((col("sum_sq").cast("double") / col("n").cast("double")
          - (col("sum_cents").cast("double") / col("n").cast("double"))
            * (col("sum_cents").cast("double") / col("n").cast("double")))
          + 0.5).cast("long").as("var_cents2"))
      .orderBy(col("c_mktsegment"))
  val balanceMomentsSql: String =
    """SELECT c_mktsegment, n, sum_cents,
      |  CAST(floor(CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS mean_cents,
      |  CAST(floor((CAST(sum_sq AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE))) + 0.5) AS BIGINT) AS var_cents2
      |FROM (
      |  SELECT c_mktsegment, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sum_cents,
      |    CAST(sum(x * x) AS BIGINT) AS sum_sq
      |  FROM (SELECT c_mktsegment,
      |          CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS x
      |        FROM customer)
      |  GROUP BY c_mktsegment)
      |ORDER BY c_mktsegment""".stripMargin

  // ── q51: exact percentiles (median / p90) ───────────────────────────────
  /** Exact interpolated percentiles of integer cents per nation — Spark
    * `percentile` and DuckDB `quantile_cont` share the linear-interpolation
    * definition; inputs are exact ints so the interpolation arithmetic is
    * reproducible. Emitted in micro-cents. */
  def balancePercentiles(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_nationkey"), cents(col("c_acctbal")).as("x"))
      .groupBy(col("c_nationkey"))
      .agg(
        floor(expr("percentile(x, 0.5)") * 1e6 + lit(0.5)).cast("long")
          .as("median_microcents"),
        floor(expr("percentile(x, 0.9)") * 1e6 + lit(0.5)).cast("long")
          .as("p90_microcents"))
      .orderBy(col("c_nationkey"))
  val balancePercentilesSql: String =
    """SELECT c_nationkey,
      |  CAST(floor(quantile_cont(x, 0.5) * 1000000.0 + 0.5) AS BIGINT) AS median_microcents,
      |  CAST(floor(quantile_cont(x, 0.9) * 1000000.0 + 0.5) AS BIGINT) AS p90_microcents
      |FROM (SELECT c_nationkey, CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS x
      |      FROM customer)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ── q53: bivariate moments — correlation without float-sum order bugs ──
  /** Pearson correlation of customer balance vs order count per segment,
    * from exact integer co-moments (n, Σx, Σy, Σxy, Σx², Σy²) — the same
    * shuffle-order-proof recipe as q50 extended to two variables; built-in
    * `corr()` double-sums in shuffle order and cannot hash-compare.
    * Balance is scaled to whole dollars so Σx² of 1e5 rows stays far from
    * 2^63. */
  def balanceOrderCorr(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("y"))
    val joined = Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") + 0.5).cast("long").as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val m = joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    def d_(c: Column) = c.cast("double")
    val cov = d_(col("sxy")) * d_(col("n")) - d_(col("sx")) * d_(col("sy"))
    val vx = d_(col("sxx")) * d_(col("n")) - d_(col("sx")) * d_(col("sx"))
    val vy = d_(col("syy")) * d_(col("n")) - d_(col("sy")) * d_(col("sy"))
    m.select(col("c_mktsegment"), col("n"),
        floor(cov / sqrt(vx * vy) * 1e6 + lit(0.5)).cast("long")
          .as("corr_micro"))
      .orderBy(col("c_mktsegment"))
  }
  val balanceOrderCorrSql: String =
    """WITH j AS (
      |  SELECT c_mktsegment,
      |    CAST(floor(c_acctbal + 0.5) AS BIGINT) AS x,
      |    COALESCE(y, 0) AS y
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey, count(*) AS y FROM orders GROUP BY o_custkey)
      |    ON c_custkey = o_custkey),
      |m AS (
      |  SELECT c_mktsegment, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x*y) AS BIGINT) AS sxy,
      |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
      |  FROM j GROUP BY c_mktsegment)
      |SELECT c_mktsegment, n,
      |  CAST(floor(
      |    (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    * 1000000.0 + 0.5) AS BIGINT) AS corr_micro
      |FROM m ORDER BY c_mktsegment""".stripMargin

  // ── q100: equi-width histogram — the profiling primitive ────────────────
  /** 20-bin equi-width histogram of order totals in integer cents — the
    * column-distribution profile a warehouse runs over every numeric
    * column (and the basis of range-partition planning). Edges derive
    * from the data's own min/max; bin assignment is pure integer
    * arithmetic, `((c − lo) · 20) div (hi − lo + 1)`, so both engines
    * land every value in the same bin with no float edge ambiguity, and
    * each bin reports its inclusive lower edge so the output is
    * self-describing.
    *
    * Scale: two scans (the exact-profile norm — a one-pass form needs a
    * range sketch): the min/max pre-aggregate reduces to ONE row and
    * broadcasts back over the binning scan (BroadcastNestedLoopJoin of a
    * 1-row side — constant, not a real cartesian); binning is map-side
    * expression work and the rollup partial-aggregates to ≤ 20 rows. */
  def totalsHistogram(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(cents(col("o_totalprice")).as("c"))
    val mm = o.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    o.crossJoin(broadcast(mm))
      .withColumn("bin", expr("((c - lo) * 20) div (hi - lo + 1)"))
      .groupBy(col("bin"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("sum_cents"))
      .select(col("bin"),
        expr("lo + (bin * (hi - lo + 1)) div 20").as("bin_lo_cents"),
        col("n_orders"), col("sum_cents"))
      .orderBy(col("bin"))
  }
  val totalsHistogramSql: String =
    """WITH c AS (
      |  SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c FROM orders),
      |mm AS (SELECT min(c) AS lo, max(c) AS hi FROM c),
      |binned AS (
      |  SELECT ((c - lo) * 20) // (hi - lo + 1) AS bin, c, lo, hi
      |  FROM c, mm)
      |SELECT bin, lo + (bin * (hi - lo + 1)) // 20 AS bin_lo_cents,
      |  count(*) AS n_orders, CAST(sum(c) AS BIGINT) AS sum_cents
      |FROM binned GROUP BY bin, lo, hi
      |ORDER BY bin""".stripMargin

  // ── q114: tabular distribution drift (total-variation, basis points) ────
  /** The TABULAR member of the drift-signal family (q88 = frozen-LM
    * backoff, q89 = centroid assignment distance, this = feature
    * distribution): the incoming batch's order-total distribution scored
    * against the standing corpus's, as per-bin share deltas and their
    * TOTAL VARIATION distance in integer basis points. PSI's ln() term
    * is the textbook statistic but float logs can't cross-engine
    * hash-compare; TVD = ½·Σ|p−q| carries the same decision signal (it
    * bounds any event-probability shift) in pure integer arithmetic, so
    * the gate is exact — the q83-family portability stance applied to
    * drift. Bin edges are FROZEN on the corpus side (q100's equi-width
    * arithmetic over the corpus min/max; batch values outside the
    * baseline range clamp into the edge bins — the convention that makes
    * a shifted batch REGISTER instead of erroring), and the split is
    * q42's portable-hash carve so both engines see identical sides.
    * Every row carries the headline total_tvd_bp, so the refresh
    * decision is a one-row read.
    *
    * Scale: two scans of orders (edges + binning — the q100 profile
    * norm), one ≤20-group partial-agg'd reduce, two one-row broadcasts.
    * Incremental: per-bin counts are mergeable sums, so a standing
    * (bin, side) count table absorbs batches without re-reading
    * history. */
  def tabularDrift(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(cents(col("o_totalprice")).as("c"),
      Ring.bucket(col("o_orderkey")).as("bk"))
    val mm = o.filter(col("bk") < 90)
      .agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    val binned = o.crossJoin(broadcast(mm))
      .withColumn("bin", greatest(lit(0L), least(lit(19L),
        expr("((c - lo) * 20) div (hi - lo + 1)"))))
    val tots = binned.agg(
      count(when(col("bk") < 90, 1)).as("tc"),
      count(when(col("bk") >= 90, 1)).as("tb"))
    val shares = binned.groupBy(col("bin"))
      .agg(count(when(col("bk") < 90, 1)).as("n_c"),
           count(when(col("bk") >= 90, 1)).as("n_b"))
      .crossJoin(broadcast(tots))
      .select(col("bin"),
        expr("(n_c * 10000) div tc").as("corpus_bp"),
        expr("(n_b * 10000) div tb").as("batch_bp"))
      .withColumn("drift_bp", abs(col("corpus_bp") - col("batch_bp")))
    shares.crossJoin(broadcast(
        shares.agg(expr("sum(drift_bp) div 2").as("total_tvd_bp"))))
      .orderBy(col("bin"))
  }
  val tabularDriftSql: String =
    s"""WITH o AS (
      |  SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c,
      |    ${Ring.bucketSql("o_orderkey")} AS bk
      |  FROM orders),
      |mm AS (SELECT min(c) AS lo, max(c) AS hi FROM o
      |  WHERE ${Ring.corpusSql("bk")}),
      |binned AS (
      |  SELECT greatest(0, least(19, ((c - lo) * 20) // (hi - lo + 1)))
      |    AS bin, bk
      |  FROM o, mm),
      |tots AS (
      |  SELECT count(*) FILTER (${Ring.corpusSql("bk")}) AS tc,
      |    count(*) FILTER (${Ring.incomingSql("bk")}) AS tb
      |  FROM binned),
      |shares AS (
      |  SELECT bin,
      |    CAST(count(*) FILTER (${Ring.corpusSql("bk")}) * 10000 // tc AS BIGINT)
      |      AS corpus_bp,
      |    CAST(count(*) FILTER (${Ring.incomingSql("bk")}) * 10000 // tb AS BIGINT)
      |      AS batch_bp
      |  FROM binned, tots GROUP BY bin, tc, tb),
      |d AS (SELECT *, abs(corpus_bp - batch_bp) AS drift_bp FROM shares)
      |SELECT bin, corpus_bp, batch_bp, drift_bp,
      |  (SELECT CAST(sum(drift_bp) // 2 AS BIGINT) FROM d) AS total_tvd_bp
      |FROM d ORDER BY bin""".stripMargin

  // ── q101: mergeable bottom-k quantile sketch ────────────────────────────
  /** Per-priority p50/p90/p99 of order totals from a bottom-256-by-hash
    * row sample ([[graft.functions.QuantileSketch]]) — the mergeable
    * quantile shape that replaces q51's exact per-group sort at 100 TB.
    * The sample is a pure set function of the data (k smallest portable
    * row hashes), so the DuckDB oracle replays the IDENTICAL sample and
    * order statistics: the estimate itself hash-compares, the q45/q93
    * portability argument extended to quantiles. Order-statistic index
    * is pure integer arithmetic, `((m−1)·p) div 100`.
    *
    * Scale: partial aggregation map-side; the shuffle carries ≤ 256
    * pairs per group; a standing sketch table absorbs incremental batch
    * sketches via [[graft.functions.QuantileSketch.mergeTables]]
    * (associativity proven in QuantileSketchSpec). Estimate error is
    * O(1/√k) ≈ 6% rank error at k=256 — the spec bounds it against the
    * exact quantile on the harness data. */
  def quantileSketch(s: SparkSession, d: String): DataFrame = {
    val qsk = udaf(new graft.functions.QuantileSketch.Agg(256))
    def pct(p: Int): Column =
      element_at(col("vals"),
        (expr(s"((n_kept - 1) * $p) div 100") + 1).cast("int"))
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        graft.functions.Text.portableHash(col("o_orderkey").cast("string"))
          .as("h"),
        cents(col("o_totalprice")).as("v"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), qsk(col("h"), col("v")).as("sk"))
      .withColumn("n_kept", size(col("sk.pairs")).cast("long"))
      .withColumn("vals",
        array_sort(transform(col("sk.pairs"), _.getField("v"))))
      .select(col("grp"), col("n_rows"), col("n_kept"),
        pct(50).as("p50_cents"), pct(90).as("p90_cents"),
        pct(99).as("p99_cents"))
      .orderBy(col("grp"))
  }
  val quantileSketchSql: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority AS grp,
      |    ${Text.portableHashSql("CAST(o_orderkey AS VARCHAR)")} AS h,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |d AS (
      |  SELECT grp, h, min(v) AS v, count(*) AS dup
      |  FROM o GROUP BY grp, h),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn,
      |    sum(dup) OVER (PARTITION BY grp) AS n_rows
      |  FROM d),
      |sk AS (
      |  SELECT grp, max(n_rows) AS n_rows, count(*) AS n_kept,
      |    list_sort(list(v)) AS vals
      |  FROM r WHERE rn <= 256 GROUP BY grp)
      |SELECT grp, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  vals[CAST(((n_kept - 1) * 50) // 100 + 1 AS INT)] AS p50_cents,
      |  vals[CAST(((n_kept - 1) * 90) // 100 + 1 AS INT)] AS p90_cents,
      |  vals[CAST(((n_kept - 1) * 99) // 100 + 1 AS INT)] AS p99_cents
      |FROM sk ORDER BY grp""".stripMargin

  // ── q105: quantile-bucket binning (feature discretizer) ─────────────────
  /** Decile binning of order totals with edges from the q101 bottom-k
    * sample — Spark ML's QuantileDiscretizer re-expressed as the
    * composition of two shipped pieces (sketch → transform), and the
    * production shape for feature bucketization at 100 TB: the exact
    * per-column sort a naive discretizer needs is replaced by the
    * mergeable 1024-pair sample, whose edges broadcast back over the
    * scan as a ONE-ROW array. A value lands in bucket b = #(edges ≤ v)
    * (edges at the sample's 10%..90% order statistics), so buckets are
    * left-closed and the population is near-uniform to O(1/√k) rank
    * error — and because the sample is a pure set function of the data,
    * the oracle replays the same edges and every row lands in the SAME
    * bucket: the discretization itself hash-compares.
    *
    * Plan: one partial-agg'd sketch reduce → one-row edge array →
    * broadcast nested-loop of the constant row → map-side bucket expr →
    * ≤10-row rollup. Two scans of orders, like q100 — the profile norm. */
  def quantileBuckets(s: SparkSession, d: String): DataFrame = {
    val qsk = udaf(new graft.functions.QuantileSketch.Agg(1024))
    val o = Tables.orders(s, d).select(
      graft.functions.Text.portableHash(col("o_orderkey").cast("string"))
        .as("h"),
      cents(col("o_totalprice")).as("v"))
    val edges = o.agg(qsk(col("h"), col("v")).as("sk"))
      .withColumn("vals",
        array_sort(transform(col("sk.pairs"), _.getField("v"))))
      .withColumn("m", size(col("vals")))
      .select(transform(sequence(lit(1), lit(9)), p =>
        element_at(col("vals"),
          (floor(((col("m") - 1) * p * 10) / lit(100)) + 1).cast("int")))
        .as("edges"))
    o.crossJoin(broadcast(edges))
      .withColumn("bucket",
        aggregate(col("edges"), lit(0L),
          (acc, e) => acc + when(col("v") >= e, 1L).otherwise(0L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("sum_cents"))
      .orderBy(col("bucket"))
  }
  val quantileBucketsSql: String =
    s"""WITH o AS (
      |  SELECT
      |    ${Text.portableHashSql("CAST(o_orderkey AS VARCHAR)")} AS h,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |d AS (SELECT h, min(v) AS v FROM o GROUP BY h),
      |r AS (SELECT *, row_number() OVER (ORDER BY h) AS rn FROM d),
      |sk AS (SELECT list_sort(list(v)) AS vals, count(*) AS m
      |       FROM r WHERE rn <= 1024),
      |ed AS (
      |  SELECT list_transform(range(1, 10), p ->
      |    vals[CAST((m - 1) * p * 10 // 100 + 1 AS INT)]) AS edges
      |  FROM sk),
      |b AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(edges, e -> CASE WHEN v >= e
      |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      |    (a, x) -> a + x) AS bucket, v
      |  FROM o, ed)
      |SELECT bucket, count(*) AS n_orders,
      |  CAST(sum(v) AS BIGINT) AS sum_cents
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ── q115: exact heavy hitters — Misra-Gries candidates, exact recount ──
  /** Heavy ⇔ global count ≥ N / [[HeavyHitterK]] (basis-point share ≥
    * 10000/K). */
  val HeavyHitterK = 200

  /** EXACT frequent-item detection in two scans, never shuffling the
    * distinct-key universe — the classic Misra-Gries + recount pattern
    * (Misra & Gries 1982; the "frequent" algorithm of Cormode's surveys).
    *
    * Why not a plain groupBy-HAVING: at 100 TB the key universe of a
    * stream (URLs, user ids, n-grams) can be billions of distinct keys,
    * and a full-count groupBy shuffles one row PER DISTINCT KEY even
    * though the answer keeps only the few above threshold. Here pass 1
    * runs a k=[[HeavyHitterK]] Misra-Gries summary INSIDE each partition
    * (`mapPartitions`, O(k) state) and ships ≤ k candidate keys + one
    * token-count sentinel per partition — the shuffle is ≤ (k+1)·P rows
    * regardless of the universe. The MG guarantee makes the candidate
    * union a PROVABLE superset of every true heavy hitter: if key x is in
    * no partition's summary, each local count ≤ N_p/(k+1), so the global
    * count ≤ N/(k+1) < N/k — contradiction. Pass 2 recounts ONLY rows
    * matching the broadcast candidate set (map-side combine bounds the
    * shuffle by |candidates|·P) and applies the exact threshold, so the
    * output is bit-identical to the brute-force groupBy — the oracle IS
    * that brute force, making the correctness gate the superset proof.
    *
    * The probed stream is a deterministic SCALE-FREE skewed key: the
    * ruler function `l_orderkey & -l_orderkey` caps at 64, giving head
    * keys 2^j with share ~2^-(j+1) (the same 6 heavies at every sf) over
    * a long per-order tail that grows linearly with the data — exactly
    * the head/tail shape MG exists for, reproduced verbatim in DuckDB. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val ruler = col("l_orderkey").bitwiseAND(-col("l_orderkey"))
    val stream = Tables.lineitem(s, d).select(
      when(ruler < 64, ruler).otherwise(col("l_orderkey")).as("key"))
    exactHeavyHitters(stream, HeavyHitterK)
  }

  /** The MG + recount core over any positive-`key` stream — factored so
    * RobustStatsSpec can prove the superset/exactness property under
    * adversarial partitionings. Output is partitioning-independent: the
    * candidate SET may vary with the split, the exact recount + threshold
    * never does. */
  private[operators] def exactHeavyHitters(stream: DataFrame,
                                           k: Int): DataFrame = {
    val s = stream.sparkSession
    import s.implicits._
    val pass1 = stream.select(col("key").cast("long")).as[Long]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        var n = 0L
        it.foreach { t =>
          n += 1
          m.get(t) match {
            case Some(c) => m.update(t, c + 1L)
            case None if m.size < k => m.update(t, 1L)
            case None => // decrement-all: the MG eviction step
              m.keysIterator.toArray.foreach { x =>
                if (m(x) == 1L) m.remove(x) else m.update(x, m(x) - 1L)
              }
          }
        }
        // sentinel key -1 (keys are positive) carries the partition's
        // token count so N needs no third scan
        Iterator.single((-1L, n)) ++ m.iterator
      }.toDF("key", "cnt").localCheckpoint() // ≤ (k+1)·P rows
    val total = pass1.filter(col("key") === -1L)
      .agg(sum(col("cnt")).as("n_total"))
    val cands = pass1.filter(col("key") =!= -1L).select("key").distinct()
    stream.join(broadcast(cands), Seq("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .filter(col("n_occurrences") * k >= col("n_total"))
      .select(col("key"), col("n_occurrences"),
        expr("(n_occurrences * 10000) div n_total").as("share_bp"))
      .orderBy(col("n_occurrences").desc, col("key").asc)
  }
  val heavyHittersSql: String =
    s"""WITH st AS (
       |  SELECT CASE WHEN (l_orderkey & (-l_orderkey)) < 64
       |              THEN (l_orderkey & (-l_orderkey))
       |              ELSE l_orderkey END AS key
       |  FROM lineitem),
       |tot AS (SELECT count(*) AS n_total FROM st)
       |SELECT key, count(*) AS n_occurrences,
       |  CAST((count(*) * 10000) // (SELECT n_total FROM tot) AS BIGINT)
       |    AS share_bp
       |FROM st GROUP BY key
       |HAVING count(*) * $HeavyHitterK >= (SELECT n_total FROM tot)
       |ORDER BY n_occurrences DESC, key ASC""".stripMargin

  // ── q117: robust outlier detection — median/MAD in integer cents ───────
  /** Deviation cutoff: outlier ⇔ |v − median| > MadK · MAD. */
  val MadK = 3

  /** Per-event-type robust anomaly flags over `events.value` — the
    * median/MAD rule (|x − med| > k·MAD), the robust-statistics
    * workhorse that mean/stddev z-scores can't replace on heavy-tailed
    * telemetry (the outliers you're hunting inflate the stddev that's
    * supposed to catch them; the median and MAD have 50% breakdown).
    * Everything is integer cents and LOWER-median order statistics
    * (rank ⌈n/2⌉ = (n+1) div 2), so both engines agree bit-for-bit —
    * no interpolated float median, no 1.4826 consistency constant (it
    * folds into k).
    *
    * Scale shape: the naive per-group sort-and-index is a full-data sort
    * per group over a HANDFUL of group keys — the q94 skew trap. Instead
    * the median comes from the VALUE-FREQUENCY table: groupBy (g, v)
    * partial-aggregates map-side (shuffle ∝ distinct cent values, which
    * the domain bounds, not rows), a cumulative window walks only that
    * frequency table to find the bucket holding rank (n+1) div 2, and
    * the MAD repeats the trick on |v − med| frequencies DERIVED from the
    * same table — the raw data is scanned exactly twice (stats, then
    * flagging), and the per-group stats broadcast back as a 5-row dim. */
  def madOutliers(s: SparkSession, d: String): DataFrame =
    madFlags(Tables.events(s, d).select(col("event_id"),
      col("event_type").as("g"), cents(col("value")).as("v")), MadK)

  /** The median/MAD flagging core over any `(event_id, g, v)` frame —
    * factored so RobustStatsSpec can pin the lower-median choice and the
    * strict `> k·MAD` boundary on constructed groups. */
  private[operators] def madFlags(o: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = o.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    // bucket containing the group's rank-(n+1) div 2 value (lower median)
    def lowerMedian(f: DataFrame, v: String): DataFrame = {
      val byV = Window.partitionBy(col("g")).orderBy(col(v))
      f.withColumn("cum", sum(col("c")).over(byV))
        .withColumn("r", expr("(sum(c) over (partition by g) + 1) div 2"))
        .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
        .select(col("g"), col(v).as("stat"))
    }
    val med = lowerMedian(freq, "v").withColumnRenamed("stat", "med")
    val devf = freq.join(broadcast(med), Seq("g"))
      .groupBy(col("g"), abs(col("v") - col("med")).as("ad"))
      .agg(sum(col("c")).as("c"))
    val mad = lowerMedian(devf, "ad").withColumnRenamed("stat", "mad")
    o.join(broadcast(med), Seq("g")).join(broadcast(mad), Seq("g"))
      .withColumn("dev", abs(col("v") - col("med")))
      .filter(col("dev") > lit(k.toLong) * col("mad"))
      .select(col("g").as("event_type"), col("event_id"),
        col("v").as("v_cents"), col("med").as("med_cents"),
        col("mad").as("mad_cents"), col("dev").as("dev_cents"))
      .orderBy(col("event_type"), col("event_id"))
  }
  val madOutliersSql: String =
    s"""WITH o AS (
       |  SELECT event_id, event_type AS g,
       |    CAST(floor(value*100 + 0.5) AS BIGINT) AS v
       |  FROM events),
       |med AS (
       |  SELECT g, v AS med FROM (
       |    SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
       |           count(*) OVER (PARTITION BY g) AS n FROM o)
       |  WHERE rn = (n + 1) // 2),
       |dev AS (
       |  SELECT o.g, o.event_id, o.v, abs(o.v - med.med) AS ad, med.med
       |  FROM o JOIN med USING (g)),
       |mad AS (
       |  SELECT g, ad AS mad FROM (
       |    SELECT g, ad, row_number() OVER (PARTITION BY g ORDER BY ad) AS rn,
       |           count(*) OVER (PARTITION BY g) AS n FROM dev)
       |  WHERE rn = (n + 1) // 2)
       |SELECT d.g AS event_type, d.event_id, d.v AS v_cents,
       |  d.med AS med_cents, m.mad AS mad_cents, d.ad AS dev_cents
       |FROM dev d JOIN mad m USING (g)
       |WHERE d.ad > $MadK * m.mad
       |ORDER BY event_type, event_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q115_heavy_hitters"  -> (heavyHitters _),
    "q117_mad_outliers"   -> (madOutliers _),
    "q100_histogram"      -> (totalsHistogram _),
    "q114_tabular_drift"  -> (tabularDrift _),
    "q101_quantile_sketch"-> (quantileSketch _),
    "q105_quantile_buckets"-> (quantileBuckets _),
    "q53_balance_order_corr" -> (balanceOrderCorr _),
    "q50_balance_moments" -> (balanceMoments _),
    "q51_percentiles"     -> (balancePercentiles _),
    "q49_balance_quartiles"-> (balanceQuartiles _),
    "q46_semi_exists"     -> (urgentCustomers _),
    "q47_full_outer"      -> (nationBalanceRecon _),
    "q48_unpivot"         -> (unpivotQuantities _),
    "q45_kmv_distinct"    -> (kmvDistinct _),
    "q40_revenue_by_brand"-> (revenueByBrand _),
    "q28_rollup"          -> (rollupRegionNation _),
    "q61_cube"            -> (cubePriorityStatus _),
    "q29_order_sequence"  -> (orderSequence _),
    "q30_top_orders"      -> (topOrders _),
    "q31_nation_setops"   -> (nationSetOps _),
    "q32_approx_distinct" -> (approxDistinct _))

  val oracles: Seq[(String, String)] = Seq(
    "q115_heavy_hitters"  -> heavyHittersSql,
    "q117_mad_outliers"   -> madOutliersSql,
    "q100_histogram"      -> totalsHistogramSql,
    "q114_tabular_drift"  -> tabularDriftSql,
    "q101_quantile_sketch"-> quantileSketchSql,
    "q105_quantile_buckets"-> quantileBucketsSql,
    "q53_balance_order_corr" -> balanceOrderCorrSql,
    "q50_balance_moments" -> balanceMomentsSql,
    "q51_percentiles"     -> balancePercentilesSql,
    "q49_balance_quartiles"-> balanceQuartilesSql,
    "q46_semi_exists"     -> urgentCustomersSql,
    "q47_full_outer"      -> nationBalanceReconSql,
    "q48_unpivot"         -> unpivotQuantitiesSql,
    "q45_kmv_distinct"    -> kmvDistinctSql,
    "q40_revenue_by_brand"-> revenueByBrandSql,
    "q28_rollup"          -> rollupRegionNationSql,
    "q61_cube"            -> cubePriorityStatusSql,
    "q29_order_sequence"  -> orderSequenceSql,
    "q30_top_orders"      -> topOrdersSql,
    "q31_nation_setops"   -> nationSetOpsSql,
    "q32_approx_distinct" -> approxDistinctSql)
}
