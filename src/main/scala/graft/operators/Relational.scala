package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.{Extract, Layout, Merge, Quality, Skew}
import graft.functions.Bloom

/** Core relational surface — the reference's dataflow semantics (SURVEY.md
  * §2: S5/S7, F1–F2, D1–D3, U1, J1, A1–A3) recast as declarative Spark
  * queries over the harness star schema, plus the latent FK joins the
  * reference's README "Next Steps" implies (SURVEY §2 J2).
  *
  * Determinism contract with the DuckDB oracle: money doubles are converted
  * per-row to integer cents with `floor(x*100 + 0.5)` — identical IEEE
  * arithmetic in both engines, then exact integer aggregation, so results
  * are bit-equal regardless of accumulation order (no float-sum ordering
  * hazard — SURVEY §7.5). Timestamps are cast to DATE at the output edge.
  * Every query ends with a total ORDER BY.
  *
  * Scale notes: dimension joins are `broadcast()`; fact-fact joins shuffle
  * on the join key (bucketing would remove that on a real lake); all
  * aggregates are partial (map-side combine) because they're plain
  * `groupBy().agg(sum/count/min/max)`.
  */
object Relational {

  /** Per-row exact integer scaling: floor(x*scale + 0.5) as BIGINT. */
  private def asCents(c: org.apache.spark.sql.Column, scale: Long = 100L) =
    floor(c * scale.toDouble + lit(0.5)).cast("long")

  // ── q01: pricing summary (TPC-H Q1 shape; A3/A4 aggregation surface) ────
  def pricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(asCents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(asCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_cents"),
        sum(asCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax")), 10000L)).as("sum_charge_m"),
        sum(asCents(col("l_discount"), 10000L)).as("sum_disc_bp"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
      |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_m,
      |  CAST(sum(CAST(floor(l_discount*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_bp,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ── q02: filter + project (F1/F2; pushdown showcase) ────────────────────
  def filterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1997-04-01") &&
              col("l_returnflag") === "R")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // floor() on BOTH sides: Spark's double→long cast truncates while
        // DuckDB's rounds, so a bare cast only agrees on integral data
        // (ADVICE r1 on q01; same applies here)
        floor(col("l_quantity")).cast("long").as("qty"),
        asCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue_cents"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  val filterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, CAST(floor(l_quantity) AS BIGINT) AS qty,
      |  CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      |  AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ── q03: multi-way FK join + agg (J2; flagship) ─────────────────────────
  /** Revenue per region/nation — the latent fights↔fighters FK join of
    * SURVEY §1.1 on the star schema. nation/region are FIXED-size dimensions
    * (25/5 rows at any scale) → broadcast hints are safe forever. customer
    * is scale-PROPORTIONAL (~15M rows at sf100), so it gets NO hint — AQE
    * picks broadcast while it fits and falls back to shuffle join at scale
    * (VERDICT r1 "What's wrong" #2). lineitem⋈orders shuffles on orderkey —
    * the one unavoidable fact-fact shuffle (bucketing both on orderkey
    * would remove it on a real lake). */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    // Pre-aggregate lineitem to one row per order BEFORE the fact⋈fact
    // join: the orderkey shuffle then carries ~1/4 the rows (3 longs each),
    // the join is 1:1, and n_orders becomes a plain count — no
    // countDistinct Expand in the plan. Same result, strictly smaller
    // shuffle at any scale.
    val liAgg = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(
        sum(asCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("o_rev_cents"),
        count(lit(1)).as("o_n_lines"))
    val o  = Tables.orders(s, d)
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d)
    liAgg.join(o, liAgg("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("o_rev_cents")).as("revenue_cents"),
        count(lit(1)).as("n_orders"),
        sum(col("o_n_lines")).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }
  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ── q04: incremental anti-join skip (J1 — the resume-safe headline) ─────
  /** "Existing sink" = orders before the cutoff; frontier = all orders.
    * Result = only-new rows, exactly `fighters_scraper.py:178-179`. */
  def incrementalAntijoin(s: SparkSession, d: String): DataFrame = {
    val all = Tables.orders(s, d)
    val existing = all.filter(col("o_orderdate") < lit("1999-01-01"))
    Merge.incrementalSkip(all, existing, "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .orderBy(col("o_orderkey"))
  }
  val incrementalAntijoinSql: String =
    """SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date
      |FROM orders
      |WHERE o_orderkey NOT IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')
      |ORDER BY o_orderkey""".stripMargin

  // ── q05: first-wins keyed merge (D3 exact semantics + U1) ───────────────
  /** existing = non-negative-balance customers tagged 'old'; incoming = ALL
    * customers tagged 'new' with shifted balances. Old rows must win; only
    * negative-balance keys arrive from incoming — the reference's
    * never-update-only-insert merge (`fighters_scraper.py:190-191`). */
  def firstWinsMerge(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val existing = c.filter(col("c_acctbal") >= 0)
      .select(col("c_custkey"), lit("old").as("src"),
              asCents(col("c_acctbal")).as("bal_cents"))
    val incoming = c.select(col("c_custkey"), lit("new").as("src"),
              asCents(col("c_acctbal") + 1000.0).as("bal_cents"))
    Merge.firstWinsMerge(existing, incoming, "c_custkey")
      .orderBy(col("c_custkey"))
  }
  val firstWinsMergeSql: String =
    """WITH existing AS (
      |  SELECT c_custkey, 'old' AS src,
      |    CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer WHERE c_acctbal >= 0),
      |incoming AS (
      |  SELECT c_custkey, 'new' AS src,
      |    CAST(floor((c_acctbal+1000.0)*100 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer)
      |SELECT * FROM existing
      |UNION ALL
      |SELECT * FROM incoming WHERE c_custkey NOT IN (SELECT c_custkey FROM existing)
      |ORDER BY c_custkey""".stripMargin

  // ── q64: keyed upsert merge (the UPDATE half of a lakehouse MERGE) ──────
  /** existing = ALL customers tagged 'old'; incoming = a correction batch
    * (negative-balance customers, re-stated balances) tagged 'new'.
    * Incoming must WIN for exactly those keys; everyone else keeps their
    * old row — `WHEN MATCHED THEN UPDATE` semantics, the dual of q05. */
  def upsertMerge(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val existing = c.select(col("c_custkey"), lit("old").as("src"),
              asCents(col("c_acctbal")).as("bal_cents"))
    val incoming = c.filter(col("c_acctbal") < 0)
      .select(col("c_custkey"), lit("new").as("src"),
              asCents(col("c_acctbal") + 1000.0).as("bal_cents"))
    Merge.upsertMerge(existing, incoming, "c_custkey")
      .orderBy(col("c_custkey"))
  }
  val upsertMergeSql: String =
    """WITH existing AS (
      |  SELECT c_custkey, 'old' AS src,
      |    CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer),
      |incoming AS (
      |  SELECT c_custkey, 'new' AS src,
      |    CAST(floor((c_acctbal+1000.0)*100 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer WHERE c_acctbal < 0)
      |SELECT * FROM existing WHERE c_custkey NOT IN (SELECT c_custkey FROM incoming)
      |UNION ALL
      |SELECT * FROM incoming
      |ORDER BY c_custkey""".stripMargin

  // ── q92: SCD2 effective-dated history (type-2 merge) ────────────────────
  /** Customer priority history as a type-2 slowly-changing dimension — the
    * history-preserving completion of the merge family (q05 insert-only →
    * q64 type-1 upsert → this). Change log: per (customer, order day) the
    * priority of that day's max-orderkey order (dedupKeepFirst — the D3
    * determinism rule); the log is split into two effective-dated batches
    * at 1998-01-01 and folded through the INCREMENTAL [[Merge.scd2Merge]]
    * (batch 1 builds the table via [[Merge.scd2FromLog]], batch 2 merges
    * into it), while the oracle reconstructs the whole history one-shot
    * with window functions — so the oracle gate proves incremental ≡
    * one-shot, including run-collapse across the batch boundary. Open
    * rows print `valid_to = 'open'` on both engines (a NULL would
    * canonicalize differently across engines). */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    // The deduped change log is referenced from SIX subtrees of the merge
    // below (existing via anti+semi, touchedKeys, oldLog's anti build, the
    // rebuild union arm), and Spark re-evaluates the dedup window per
    // reference — the before-plan showed 6 orders scans / 12 exchanges.
    // Stage it ONCE (eager, narrow rows); the merge kernel — what q92
    // prices — still computes live over the staged rows (q148's gate
    // staging pattern).
    val log = Merge.dedupKeepFirst(
        Tables.orders(s, d).select(col("o_custkey"),
          to_date(col("o_orderdate")).as("eff"),
          col("o_orderpriority").as("priority"), col("o_orderkey")),
        Seq("o_custkey", "eff"), Seq(col("o_orderkey").desc))
      .drop("o_orderkey")
      .localCheckpoint(true)
    val cut = lit("1998-01-01").cast("date")
    Merge.scd2Merge(
        Merge.scd2FromLog(log.filter(col("eff") < cut),
          "o_custkey", "eff", Seq("priority")),
        log.filter(col("eff") >= cut),
        "o_custkey", "eff", Seq("priority"))
      .select(col("o_custkey"), col("priority"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd"), lit("open"))
          .as("valid_to"))
      .orderBy(col("o_custkey"), col("valid_from"))
  }
  val scd2HistorySql: String =
    """WITH ranked AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS eff,
      |    o_orderpriority AS priority,
      |    row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
      |                       ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |l AS (SELECT o_custkey, eff, priority FROM ranked WHERE rn = 1),
      |chg AS (
      |  SELECT *, CASE WHEN lag(priority)
      |      OVER (PARTITION BY o_custkey ORDER BY eff)
      |      IS DISTINCT FROM priority THEN 1 ELSE 0 END AS c
      |  FROM l),
      |v AS (SELECT o_custkey, priority, eff AS valid_from FROM chg WHERE c = 1),
      |fin AS (
      |  SELECT o_custkey, priority, valid_from,
      |    lead(valid_from) OVER (PARTITION BY o_custkey
      |                           ORDER BY valid_from) AS valid_to
      |  FROM v)
      |SELECT o_custkey, priority,
      |  strftime(valid_from, '%Y-%m-%d') AS valid_from,
      |  coalesce(strftime(valid_to, '%Y-%m-%d'), 'open') AS valid_to
      |FROM fin ORDER BY o_custkey, valid_from""".stripMargin

  // ── q96: CDC apply — last-wins net with delete tombstones ───────────────
  /** Change-data-capture apply, the missing member of the merge family
    * (q05 insert-only → q64 type-1 upsert → q92 type-2 history → this:
    * upsert WITH DELETES, last-wins by source sequence — the Debezium /
    * Delta-CDF consumer semantic). Base snapshot: every customer at
    * seq 0. Change log: each order is an update to its customer's row
    * (new balance = the order's total, segment = its priority), with
    * every tenth orderkey a DELETE of that customer; the log splits into
    * two seq ranges applied in REVERSE order through the incremental
    * [[Merge.cdcApply]] — so the oracle gate proves out-of-order batch
    * apply ≡ one-shot net over the concatenated log, the tombstone
    * argument made into a checked invariant (MergeSpec adds permutation
    * + replay properties on generated logs). Output is the live
    * [[Merge.cdcView]]: deleted customers are gone, updated ones carry
    * their highest-seq values, untouched ones their snapshot row.
    *
    * Scale: each apply re-windows only the batch's TOUCHED keys
    * (broadcast anti/semi split, the q92 pattern); the window shuffle
    * carries (key, seq, cents, short string) — never wide rows. */
  def cdcApplyNet(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).select(
      col("c_custkey").as("k"), lit(0L).as("seq"), lit("I").as("op"),
      asCents(col("c_acctbal")).as("bal_cents"),
      col("c_mktsegment").as("segment"))
    // seq = orderkey + 1: harness orderkeys start at 0, which would
    // collide with the snapshot's seq 0 and break (key, seq) uniqueness.
    val log = Tables.orders(s, d).select(
      col("o_custkey").as("k"), (col("o_orderkey") + 1).as("seq"),
      when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"),
      asCents(col("o_totalprice")).as("bal_cents"),
      col("o_orderpriority").as("segment"))
    val mid = 3000L // splits the harness orderkey range at every sf
    // In production each apply lands through cdcWrite, so batch N+1 reads
    // batch N's result from PARQUET; chaining the applies in ONE plan (to
    // drive the out-of-order evidence through the oracle) would instead
    // replicate the inner apply's window subtree into every consumer
    // (anti + semi + union = 3 recomputes). localCheckpoint stands in for
    // the sink materialization between batches — same role as in q63's
    // iterative CC.
    val applied = Merge.cdcApply(
      Merge.cdcApply(base, log.filter(col("seq") >= mid), "k", "seq")
        .localCheckpoint(),
      log.filter(col("seq") < mid), "k", "seq")
    Merge.cdcView(applied)
      .select(col("k"), col("seq").as("last_seq"), col("bal_cents"),
        col("segment"))
      .orderBy(col("k"))
  }
  val cdcApplyNetSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS seq, 'I' AS op,
      |    CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_cents,
      |    c_mktsegment AS segment
      |  FROM customer),
      |chg AS (
      |  SELECT o_custkey AS k, o_orderkey + 1 AS seq,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS bal_cents,
      |    o_orderpriority AS segment
      |  FROM orders),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
      |net AS (
      |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |  FROM u)
      |SELECT k, seq AS last_seq, bal_cents, segment
      |FROM net WHERE rn = 1 AND op <> 'D'
      |ORDER BY k""".stripMargin

  // ── q103: data-quality expectations report ──────────────────────────────
  /** The DQ gate ([[graft.etl.Quality]]) run as a query: five constraint
    * checks over the harness tables, one row each — the report a
    * promotion rule reads before a batch goes live. Two checks pass on
    * the clean data (orderkey uniqueness, priority null-rate) and three
    * are made to FIRE so the violation arithmetic itself is
    * oracle-verified, not just the zeros: custkey "uniqueness" over
    * orders counts every row of a multi-order customer, the FK check
    * runs lineitem against only the even half of orders (the odd half's
    * lineitems are orphans), and the range check bounds order totals at
    * [0, 200k$] in cents. Every check is a single-row aggregate; the
    * report is their union — at 100 TB the five checks are two map-side
    * reduces, one keyed count shuffle, and one broadcast anti-join. */
  def dqReport(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val lineitem = Tables.lineitem(s, d)
    Quality.report(Seq(
      Quality.unique(orders, Seq("o_orderkey")),
      Quality.unique(orders, Seq("o_custkey")),
      // both row-level checks fused into ONE orders scan
      Quality.rowChecks(
        orders.withColumn("total_cents", asCents(col("o_totalprice"))),
        Seq(Quality.notNullCheck("o_orderpriority"),
            Quality.inRangeCheck("total_cents", lit(0L), lit(20000000L)))),
      Quality.fkCovered(lineitem, "l_orderkey",
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderkey")))
  }
  val dqReportSql: String =
    """WITH u1 AS (SELECT count(*) AS n FROM orders GROUP BY o_orderkey),
      |u2 AS (SELECT count(*) AS n FROM orders GROUP BY o_custkey),
      |c AS (SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v
      |      FROM orders)
      |SELECT * FROM (
      |  SELECT 'unique(o_orderkey)' AS check_name,
      |    CAST(sum(n) AS BIGINT) AS n_checked,
      |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS n_violations
      |  FROM u1
      |  UNION ALL
      |  SELECT 'unique(o_custkey)', CAST(sum(n) AS BIGINT),
      |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
      |  FROM u2
      |  UNION ALL
      |  SELECT 'not_null(o_orderpriority)', count(*),
      |    count(CASE WHEN o_orderpriority IS NULL THEN 1 END)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'in_range(total_cents)', count(*),
      |    count(CASE WHEN v < 0 OR v > 20000000 THEN 1 END)
      |  FROM c
      |  UNION ALL
      |  SELECT 'fk(l_orderkey)',
      |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
      |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
      |       AND l_orderkey NOT IN
      |         (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)))
      |ORDER BY check_name""".stripMargin

  // ── q104: triangle counting on the co-purchase graph ────────────────────
  /** Graph analytics beyond connected components (q63): the number of
    * part-co-purchase TRIANGLES — three parts that pairwise co-occur in
    * orders — the clustering-coefficient numerator and the standard
    * "does my engine do graphs" benchmark. Edges = distinct part pairs
    * sharing an order, ORIENTED low-id → high-id, which is what makes
    * distributed triangle counting subquadratic: each triangle {a<b<c}
    * is generated exactly once as the wedge a→b→c closed by edge a→c —
    * no 6-fold overcounting, no direction flip joins.
    *
    * Scale: the edge build's per-order self-join fans out ≤ C(items,2)
    * pairs per order (order size is business-bounded, not corpus-
    * bounded); the wedge join shuffles edges on their shared vertex and
    * the closing join on the (a, c) pair — both equi-joins. At a real
    * graph's scale the orientation would be by DEGREE (low-degree →
    * high-degree, the standard fix making wedge counts Σ min-degree —
    * robust to power-law hubs); id orientation suffices for the harness
    * graph and keeps the oracle trivially identical. */
  /** The graph gates' vertex envelope: a vertex-sized table of at most
    * this many rows (64M ≈ 1 GB of longs) is broadcast into its join. */
  val BroadcastVertices: Long = 64L * 1000 * 1000

  /** [[packKey]]'s bound: x·2³¹ + y is injective and overflow-free for
    * ids in [0, 2³¹). */
  private val PackBound = 2147483648L

  /** Whether every vertex id in [minId, maxId] packs into one long. */
  private[graft] def packable(minId: Long, maxId: Long): Boolean =
    minId >= 0L && maxId < PackBound

  /** CTE `name`: the part co-purchase graph, one (a < b) edge per pair of
    * parts sharing an order — the edge set of every graph oracle. */
  private def partEdgesSql(name: String): String =
    s"""$name AS (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |   AND a.l_partkey < b.l_partkey)""".stripMargin

  /** The portable hash of an edge's "a,b" key: q107's 4-batch and
    * q136's 16-way edge carves. */
  private def edgeHashSql: String = graft.functions.Text.portableHashSql(
    "concat(CAST(a AS VARCHAR), ',', CAST(b AS VARCHAR))")

  def triangleCount(s: SparkSession, d: String): DataFrame = {
    // r21: the edge set feeds FOUR consumers (degree table, orientation,
    // closing bloom, exact verify) — read it from the SHARED graph-family
    // edge artifact ([[tri16Edges]]: the identical li⋈li + distinct pair
    // derivation q107/q108/q136 already ride) instead of re-running the
    // pair join + distinct into a localCheckpoint on every invocation.
    // First touch builds the artifact (the bench reports that separately
    // as artifact_build_sec); every later pass scans compressed parquet.
    val e = tri16Edges(s, d).select(col("a"), col("b"))
    val nEdges = e.count() // parquet-metadata-cheap; sizes the bloom
    // DEGREE orientation: every edge points low-(deg, id) → high-(deg, id).
    // Each triangle then has exactly ONE vertex with two out-edges (its
    // minimum under the total order), so wedges = per-source out-pairs
    // and the closing edge is the oriented b→c — Σ C(outdeg, 2) wedges
    // with outdeg = O(√m) guaranteed, the subquadratic bound that holds
    // even on power-law graphs where id orientation degenerates.
    val deg = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // the degree table is VERTEX-count-sized: gate its broadcast on the
    // ACTUAL vertex count (r12 — the first cut reused the 8M nEdges gate
    // and turned the sf1 degree joins into shuffles for no reason: 12M
    // edges there carry only 200k vertices, and the spot re-measure paid
    // +30%). 64M vertices ≈ 1 GB broadcast — comfortably under the hard
    // limit; past it (the billion-vertex graph the advisor named) the
    // degree join falls back to a plain shuffle equi-join on the vertex
    // key. The count is one partial-agg'd job over the checkpointed
    // edge set and is reused for the output's n_vertices column.
    // r20: CHECKPOINT the |V|-row degree table — it feeds nVerts, the max-id
    // pack gate, and TWO broadcast builds, each of which otherwise re-runs
    // the 2|E|-row aggregation (measured: the two builds 1.08 s → 0.62 s)
    val degC = deg.localCheckpoint()
    val nVerts = degC.count()
    // min rides the same one-row agg as max (ADVICE r20): packKey's
    // x·2³¹+y is injective only for 0 ≤ y < 2³¹, so a negative id must
    // fail the gate, not silently collide packed keys
    val (minId, maxId) = if (nVerts == 0) (0L, 0L)
      else {
        val r = degC.agg(min(col("v")), max(col("v"))).head
        (r.getLong(0), r.getLong(1))
      }
    def degSide(keyed: DataFrame): DataFrame =
      if (nVerts <= BroadcastVertices) broadcast(keyed) else keyed
    val withDeg = e
      .join(degSide(degC.select(col("v").as("a"), col("deg").as("da"))),
        Seq("a"))
      .join(degSide(degC.select(col("v").as("b"), col("deg").as("db"))),
        Seq("b"))
    val o = withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("t"),
               col("da").as("ds"), col("db").as("dt")))
        .otherwise(
          struct(col("b").as("s"), col("a").as("t"),
                 col("db").as("ds"), col("da").as("dt"))).as("e"))
      .select(col("e.s"), col("e.t"), col("e.dt"))
    // out-pair wedges (s → b, s → c) canonicalized by the SAME order, so
    // the closing edge is exactly b → c. The closing probe is the q73
    // runtime-filter pattern, which is what survives ANY graph size: the
    // wedge stream — the big intermediate, Σ C(outdeg, 2) rows — is
    // generated pipelined out of the self-join and probed MAP-SIDE
    // against a broadcast Bloom of the edge keys (10 bits/edge, ~0.8%
    // FPP), so only triangles + the FP tail ever shuffle; the exact
    // semi-join downstream clears the tail, keeping the count exact.
    // Broadcasting the raw edge set instead dies around 10^8 edges,
    // and shuffling raw wedges IS the naive quadratic.
    val wedges = o.select(col("s"), col("t").as("b"), col("dt").as("deg_b"))
      .join(o.select(col("s"), col("t").as("c"), col("dt").as("deg_c")),
        Seq("s"))
      .filter(col("deg_b") < col("deg_c") ||
        (col("deg_b") === col("deg_c") && col("b") < col("c")))
    // COST-BASED closing choice off the nEdges driver stat (what AQE does
    // with exchange stats, done explicitly): a dimension-sized edge set
    // broadcasts whole and the wedge stream semi-joins map-side with NO
    // false positives to clear; past ~8M edges (128 MB) the broadcast is
    // the thing that dies, and the bloom keeps the map-side probe at 10
    // bits/edge with the exact semi-join clearing the ~0.8% FP tail.
    val oriented = o.select(col("s").as("b"), col("t").as("c"))
    // r20: the closing probe keys on ONE packed long instead of the
    // (b, c) pair whenever every vertex id < 2³¹ (gated on the measured
    // id range, so a billion-id graph falls back to the pair key) —
    // measured 5.4 s → 1.9 s on the 41M-wedge closing job at sf0.1.
    val packable = Relational.packable(minId, maxId)
    val tri =
      if (nEdges <= Bloom.BroadcastRows)
        closeSemi(wedges, broadcast(oriented), None, packable)
      else closeSemi(wedges, oriented,
        Some(Bloom.build(o, xxhash64(col("s"), col("t")), nEdges)), packable)
    tri.agg(count(lit(1)).as("n_triangles"))
      .select(lit(nEdges).as("n_edges"), lit(nVerts).as("n_vertices"),
        col("n_triangles"))
  }
  val triangleCountSql: String =
    s"""WITH ${partEdgesSql("e")}
      |SELECT
      |  (SELECT count(*) FROM e) AS n_edges,
      |  (SELECT count(DISTINCT v) FROM (
      |     SELECT a AS v FROM e UNION ALL SELECT b FROM e)) AS n_vertices,
      |  (SELECT count(*) FROM e e1
      |     JOIN e e2 ON e2.a = e1.b
      |     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin

  // ── q107: INCREMENTAL triangle maintenance (Δ-edge batches) ─────────────
  /** The undirected adjacency (u, w) of an (a, b) edge frame — both
    * directions of every edge — carrying the `carry` columns along. */
  private def undir(df: DataFrame, carry: String*): DataFrame = {
    def side(u: String, w: String): DataFrame =
      df.select(col(u).as("u") +: col(w).as("w") +: carry.map(col): _*)
    side("a", "b").unionByName(side("b", "a"))
  }

  /** Injective (x, y) → single-long key: x·2³¹ + y. Valid only when every
    * id < 2³¹ (callers gate on the MEASURED id range, [[packable]]): y < 2³¹
    * keeps the pack collision-free and x·2³¹ + y < 2⁶² overflow-free. A
    * single long join key gets Spark's dense LongHashedRelation build and
    * a one-word probe instead of two-column row hashing — measured ~3× on
    * the 41M-wedge closing probe at sf0.1. Billion-id graphs fall back to
    * the two-column key. */
  private def packKey(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    x * lit(PackBound) + y

  /** The closing probe of the triangle kernels (q104's one-shot count,
    * [[deltaTriCands]]): the `cands` rows whose key is an edge of `edges`,
    * a two-column frame whose columns name the key (q104 closes on
    * (b, c), the Δ-kernel on (a, b)). A caller that broadcasts its edges
    * passes `broadcast(edges)`.
    *
    * With a `bloom` of the edges' keys (the q73 runtime-filter pattern,
    * past the [[Bloom.BroadcastRows]] envelope) the candidate stream is
    * filtered map-side first, so only ~triangles + the ~0.8% false-
    * positive tail reach the exact semi-join's shuffle, and the survivors
    * are staged through an EAGER localCheckpoint — not for reuse but as
    * an optimizer barrier: `PushLeftSemiLeftAntiThroughJoin` otherwise
    * pushes the exact semi (its keys reference only the candidate side)
    * below the Bloom's crossJoin, so the full unfiltered stream shuffles
    * into the exact join and the Bloom filters rows the join already
    * killed. TriangleDeltaSpec pins that no left-semi plans beneath the
    * Bloom filter.
    *
    * The exact semi keys on one [[packKey]] long when `packIds` (the key
    * is injective, so the matched SET is identical), on the pair
    * otherwise. */
  private def closeSemi(cands: DataFrame, edges: DataFrame,
      bloom: Option[DataFrame], packIds: Boolean): DataFrame = {
    val Array(x, y) = edges.columns
    val key = Seq(col(x), col(y))
    val pre = bloom.fold(cands.select(key: _*))(b =>
      Bloom.probe(cands, b, xxhash64(key: _*)).select(key: _*)
        .localCheckpoint()) // barrier: keep the Bloom BELOW the exact probe
    if (packIds)
      pre.select(packKey(col(x), col(y)).as("k"))
        .join(edges.select(packKey(col(x), col(y)).as("k")), Seq("k"),
          "left_semi")
    else pre.join(edges, Seq(x, y), "left_semi")
  }

  /** The per-batch Δ-triangle kernel — the r11 verdict's q104 follow-up:
    * a growing graph must not pay a full recount per new-edge batch, the
    * graph analog of q79's R-S move (batch × corpus, never corpus ×
    * corpus). New triangles for a batch `delta` (a, b) against the
    * standing edges `edges` (a, b) split EXACTLY by how many batch edges
    * they contain:
    *  - class 1 (one new): for each (u,v) ∈ ΔE, wedge through u's
    *    STANDING neighbors w, closing (min,max)(v,w) probed against E —
    *    candidates Σ_{(u,v)∈ΔE} deg(u), Δ-proportional;
    *  - class 2 (two new): wedges of two batch edges at a shared vertex,
    *    closed against E;
    *  - class 3 (all new): the node-iterator within ΔE alone.
    * Each new triangle lands in exactly one class exactly once (its new
    * edge; its unique two-new wedge; its oriented all-new wedge), so the
    * result is one row per new triangle and a fold over batches
    * reproduces the one-shot q104 count — q107's and q136's oracles check
    * that INDEPENDENTLY, as differences of full recounts.
    *
    * Scale: every join is keyed by a batch-side column — the standing
    * edge set is probed, never self-joined, so batch cost tracks
    * Δ-wedges. The caller keeps the standing side: `adj` its undirected
    * adjacency (u, w), `deg` its (u, dg) degree table, `bloom` its
    * closing Bloom (None inside the broadcast envelope) — q136 as
    * bucketed and materialized artifacts read in place, q107's fold as
    * prefix filters of its per-batch artifacts. Classes 1 and 2 close
    * against `edges` through [[closeSemi]] (Bloom, barrier, exact semi);
    * class 3 closes against the batch itself. `packIds` is the caller's
    * [[packable]] gate. */
  private[graft] def deltaTriCands(delta: DataFrame, adj: DataFrame,
      deg: DataFrame, edges: DataFrame, bloom: Option[DataFrame],
      packIds: Boolean): DataFrame = {
    def closeOld(cands: DataFrame): DataFrame =
      closeSemi(cands, edges, bloom, packIds)
    // class 1: one new edge + two standing. Enumeration from EITHER
    // endpoint is complete (w must neighbor both; the closing semi-join
    // checks the other side), so enumerate from the LOWER-degree one —
    // the q104 degree-orientation idea applied to the Δ-wedge: fan-out
    // Σ min(deg u, deg v) instead of Σ deg(first endpoint), the bound
    // that survives hub vertices. The degree lookup joins are keyed by
    // the (small) batch.
    val dPick = delta
      .join(deg.select(col("u").as("a"), col("dg").as("dga")),
        Seq("a"), "left")
      .join(deg.select(col("u").as("b"), col("dg").as("dgb")),
        Seq("b"), "left")
      .select(when(
          coalesce(col("dga"), lit(0L)) <= coalesce(col("dgb"), lit(0L)),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val t1 = closeOld(dPick
      .join(adj, Seq("u"))
      .filter(col("w") =!= col("v"))
      .select(least(col("v"), col("w")).as("a"),
              greatest(col("v"), col("w")).as("b")))
    // class 2: two new edges wedged at x, standing closing edge
    val adjD = undir(delta)
    val t2 = closeOld(adjD.select(col("u").as("x"), col("w").as("y"))
      .join(adjD.select(col("u").as("x"), col("w").as("z")), Seq("x"))
      .filter(col("y") < col("z"))
      .select(col("y").as("a"), col("z").as("b")))
    // class 3: all three new — oriented node-iterator within the batch
    val t3 = closeSemi(delta.select(col("a").as("s"), col("b").as("p"))
      .join(delta.select(col("a").as("s"), col("b").as("q")), Seq("s"))
      .filter(col("p") < col("q"))
      .select(col("p").as("a"), col("q").as("b")), delta, None, packIds)
    Seq(t1, t2, t3).map(_.select(lit(1L).as("one")))
      .reduce(_.unionByName(_))
  }

  /** The SHARED standing edge artifact of the whole graph family
    * (r20 optimization): one li⋈li + distinct per corpus, materialized
    * with the 16-way portable-hash slice column. q136 consumes `h16`
    * directly; q107's 4-way fold derives its batch as `pmod(h16, 4)` —
    * exact, because 4 divides 16 and both hashes share the same input
    * string — and q108 reads the raw (a, b) pairs. Before the share,
    * q107 and q136 each materialized their own byte-identical pair
    * derivation (graft_tri_edges vs graft_tri16) and q108 re-derived it
    * per pass inside its adjacency build. */
  private[graft] def tri16Edges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val tag = Tables.datasetTag(s, d, "lineitem")
    graft.etl.Merge.materialize(s, graft.etl.Artifacts.path(s, "tri16", tag),
      li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
        .filter(col("pk") < col("pk2"))
        .select(col("pk").as("a"), col("pk2").as("b"))
        .distinct()
        .withColumn("h16", pmod(graft.functions.Text.portableHash(
            concat(col("a").cast("string"), lit(","),
              col("b").cast("string"))),
          lit(16L))))
  }

  /** The two bucketed physical layouts of the FULL edge set (u-keyed
    * undirected adjacency; (a,b)-keyed directed edge list), each carrying
    * `h16` so any hash-slice filter (q136's 15/16 standing set, q107's
    * 4-way prefixes) reads them IN PLACE: the standing side of every
    * wedge fan-out and closing probe never shuffles — only batch-derived
    * rows do. Shared by q107 and q136 (one build serves both). */
  private def triBucketed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e16 = tri16Edges(s, d)
    val adjName = graft.etl.Artifacts.name("tri_adjh", pathTag(d))
    ensureBucketed(s, adjName, Seq("u"), 32, undir(e16, "h16"))
    val edgName = graft.etl.Artifacts.name("tri_edgh", pathTag(d))
    ensureBucketed(s, edgName, Seq("a", "b"), 32, e16)
    (s.table(adjName), s.table(edgName))
  }

  def triangleDelta(s: SparkSession, d: String): DataFrame = {
    // r20: the fold keeps [[deltaTriCands]]' join structure (at any SF
    // where the prefix fits the broadcast envelope, AQE already serves
    // every closing/orientation join as a broadcast — plan-audited; a
    // bucketed-SMJ variant was tried and REJECTED: with no exchange on
    // the standing side AQE cannot re-plan to broadcast, and the big
    // wedge stream pays a per-batch sort, 10.6 s → 26.8 s measured), but
    // stops re-deriving the batch-INDEPENDENT statistics per batch:
    // prefix degrees re-aggregate a standing per-(u, batch) count
    // artifact (|V×4| rows) instead of shuffling the 2|E_prefix|-row
    // adjacency per batch, and prefix sizes come from a 4-row
    // batch-count artifact instead of one count job per batch. Counts
    // and the class decomposition are unchanged — the oracle (full
    // prefix recounts, differenced) independently pins that.
    val tag = Tables.datasetTag(s, d, "lineitem")
    val e16 = tri16Edges(s, d)
    val batchOf = pmod(col("h16"), lit(4L)) // == pmod(portableHash, 4): 4 | 16
    val e = e16.select(col("a"), col("b"), batchOf.as("batch"))
    val degB = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "tri_degb", tag),
      undir(e, "batch").groupBy(col("u"), col("batch"))
        .agg(count(lit(1)).as("dg")))
    val bcnt = graft.etl.Merge.materialize(s,
        graft.etl.Artifacts.path(s, "tri_bcnt", tag),
        e.groupBy(col("batch")).agg(count(lit(1)).as("n")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // ≤ 4 rows
    // pack gate for the closing semi-joins (the q104 move): one tiny job
    // over the |V×4|-row degree artifact measures the id range — min
    // rides along (ADVICE r20: packKey is injective only for ids in
    // [0, 2³¹), so negative ids must fail the gate, not collide)
    val (minId, maxId) =
      if (bcnt.values.sum == 0) (0L, 0L)
      else {
        val r = degB.agg(min(col("u")), max(col("u"))).head
        (r.getLong(0), r.getLong(1))
      }
    val packable = Relational.packable(minId, maxId)
    val nTotal = bcnt.values.sum
    // r21: the 4-batch × 3-class fold is FUSED into three batch-tagged
    // joins + ONE closing-probe family + ONE 4-group aggregation, under
    // the same ≤8M-edge envelope as q104's broadcast closing choice. A
    // per-stage profile read the old per-batch fold (12 separate agg
    // pipelines, ~38 broadcast builds, ~85 codegen stages) as paying its
    // honest per-class compute PLUS a fixed stage-latency tax per probe —
    // batch 0, nearly empty, still cost 1.0 s of the 5.2 s warm total.
    // Fused, every enumeration is row-for-row IDENTICAL to the per-batch
    // fold (the batch predicates move into join keys/conditions):
    //  - class 1: Δ-edge (u,v,b) oriented by PREFIX degree fans out over
    //    the full adjacency on u and keeps bw < b — same wedge set as the
    //    per-prefix adjacency join (each edge carries exactly one batch);
    //  - class 2: the within-batch wedge self-join keys on (x, batch), so
    //    only same-batch edge pairs are enumerated (not filtered after);
    //  - class 3: the Δ node-iterator keys on (s, batch) likewise;
    //  - closing probes: packed-key semi against the ONE keyed edge set,
    //    prefix (kb < b) for classes 1/2, within-batch (kb === b) for 3 —
    //    "key matches a row with kb < b" ≡ "edge in prefix b" because the
    //    edge set is distinct and each edge has exactly one batch.
    // count(candidates) per batch ≡ t1+t2+t3 (the classes are disjoint),
    // and n_new_edges comes from the already-collected 4-row batch-count
    // artifact as literals. Past the envelope the fold runs the per-batch
    // kernel, Bloom-prefiltered once a prefix outgrows the envelope (the
    // candidate stream still must not broadcast-probe a >128 MB edge
    // relation).
    val cands: DataFrame =
      if (nTotal > 0 && nTotal <= Bloom.BroadcastRows)
        fusedTriCands(e, degB, packable)
      else (0L until 4L).map { i =>
      val prefix = e.filter(col("batch") < i).select("a", "b")
      val degO = degB.filter(col("batch") < i)
        .groupBy(col("u")).agg(sum(col("dg")).as("dg"))
      val nOld = (0L until i).map(j => bcnt.getOrElse(j, 0L)).sum
      val bloom =
        if (nOld <= Bloom.BroadcastRows) None
        else Some(Bloom.build(prefix, xxhash64(col("a"), col("b")), nOld))
      deltaTriCands(e.filter(col("batch") === i).select("a", "b"),
          undir(prefix), degO, prefix, bloom, packable)
        .select(lit(i).as("batch"))
    }.reduce(_.unionByName(_))
    val nNew = (0L until 4L).map(i =>
      when(col("batch") === i, lit(bcnt.getOrElse(i, 0L))))
      .reduceRight(_.otherwise(_)) // 4-way literal lookup, total on 0..3
    s.range(0L, 4L).select(col("id").as("batch"))
      .join(cands.groupBy(col("batch"))
          .agg(count(lit(1)).as("delta_triangles")),
        Seq("batch"), "left")
      .select(col("batch"), nNew.as("n_new_edges"),
        coalesce(col("delta_triangles"), lit(0L)).as("delta_triangles"))
      .orderBy(col("batch"))
  }

  /** The fused fold kernel (see [[triangleDelta]]'s r21 note): every
    * batch's three Δ-classes enumerated by batch-tagged joins over the
    * ONE edge frame `e` (a, b, batch) and closed by packed-key semis
    * carrying the prefix/within-batch predicate in the join condition —
    * one row per new triangle, tagged with its batch. `degB` is the
    * per-(u, batch) degree-count frame; `packable` gates the single-long
    * closing key ([[packKey]]'s id-range precondition). Batch 0 has an
    * empty prefix, so only class 3 enumerates it. Factored out so
    * TriangleDeltaSpec can pin `count per batch ≡` the per-batch
    * [[deltaTriCands]] on random graphs. */
  private[graft] def fusedTriCands(e: DataFrame, degB: DataFrame,
      packable: Boolean): DataFrame = {
    val adjAll = undir(e, "batch")
    // prefix degrees per vertex, one |V|-row frame: cN = deg before
    // batch N (same values the per-batch degO aggregation produced)
    val degb = degB.groupBy(col("u")).agg(
      sum(when(col("batch") < 1, col("dg"))).as("c1"),
      sum(when(col("batch") < 2, col("dg"))).as("c2"),
      sum(when(col("batch") < 3, col("dg"))).as("c3"))
    def prefDeg(c1: org.apache.spark.sql.Column,
        c2: org.apache.spark.sql.Column,
        c3: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(when(col("batch") === 1L, c1)
        .when(col("batch") === 2L, c2)
        .when(col("batch") === 3L, c3), lit(0L))
    val late = col("batch") > 0L // classes 1 and 2 need a non-empty prefix
    val pick = e.filter(late)
      .join(degb.select(col("u").as("a"), col("c1").as("a1"),
        col("c2").as("a2"), col("c3").as("a3")), Seq("a"), "left")
      .join(degb.select(col("u").as("b"), col("c1").as("b1"),
        col("c2").as("b2"), col("c3").as("b3")), Seq("b"), "left")
      .select(col("batch"),
        when(prefDeg(col("a1"), col("a2"), col("a3")) <=
             prefDeg(col("b1"), col("b2"), col("b3")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("batch"))
    val keyed = e.select(packKey(col("a"), col("b")).as("k"),
      col("batch").as("kb"))
    // packed probe when the id gate holds; two-column fallback past it
    def probe(cs: DataFrame, closing: org.apache.spark.sql.Column
        => org.apache.spark.sql.Column): DataFrame =
      if (packable) {
        val c = cs.select(packKey(col("a"), col("b")).as("ck"),
          col("batch"))
        c.join(broadcast(keyed),
          c("ck") === keyed("k") && closing(keyed("kb")), "left_semi")
      } else {
        val ek = e.select(col("a").as("ea"), col("b").as("eb"),
          col("batch").as("kb"))
        cs.join(broadcast(ek),
          col("a") === ek("ea") && col("b") === ek("eb") &&
            closing(ek("kb")), "left_semi")
      }
    val cand1 = pick.join(adjAll.select(col("u"), col("w"),
        col("batch").as("bw")), Seq("u"))
      .filter(col("bw") < col("batch") && col("w") =!= col("v"))
      .select(least(col("v"), col("w")).as("a"),
        greatest(col("v"), col("w")).as("b"), col("batch"))
    val adjLate = adjAll.filter(late)
    val cand2 = adjLate.select(col("u").as("x"), col("w").as("y"),
        col("batch"))
      .join(adjLate.select(col("u").as("x"), col("w").as("z"),
        col("batch")), Seq("x", "batch"))
      .filter(col("y") < col("z"))
      .select(col("y").as("a"), col("z").as("b"), col("batch"))
    val cand3 = e.select(col("a").as("s"), col("b").as("p"), col("batch"))
      .join(e.select(col("a").as("s"), col("b").as("q"), col("batch")),
        Seq("s", "batch"))
      .filter(col("p") < col("q"))
      .select(col("p").as("a"), col("q").as("b"), col("batch"))
    Seq(probe(cand1, _ < col("batch")), probe(cand2, _ < col("batch")),
        probe(cand3, _ === col("batch")))
      .map(_.select(col("batch"))).reduce(_.unionByName(_))
  }

  /** Oracle: the INDEPENDENT method — full prefix recount per batch,
    * differenced; must equal the class-decomposed incremental counts. */
  val triangleDeltaSql: String =
    s"""WITH ${partEdgesSql("e0")},
      |e AS (SELECT a, b, $edgeHashSql % 4 AS batch FROM e0),
      |tc AS (
      |  SELECT r.i AS batch,
      |    (SELECT count(*) FROM e e1
      |       JOIN e e2 ON e2.a = e1.b
      |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |     WHERE e1.batch <= r.i AND e2.batch <= r.i AND e3.batch <= r.i)
      |      AS t
      |  FROM range(0, 4) r(i)),
      |nb AS (SELECT batch, count(*) AS n_new_edges FROM e GROUP BY batch)
      |SELECT tc.batch,
      |  CAST(coalesce(nb.n_new_edges, 0) AS BIGINT) AS n_new_edges,
      |  CAST(t - coalesce(lag(t) OVER (ORDER BY tc.batch), 0) AS BIGINT)
      |    AS delta_triangles
      |FROM tc LEFT JOIN nb ON nb.batch = tc.batch
      |ORDER BY tc.batch""".stripMargin

  // ── q136: steady-state single-batch triangle apply ──────────────────────
  /** q107's PRODUCTION face (VERDICT r17 item 6). The registered q107
    * folds all 4 batches — the right DECOMPOSITION PROOF (its oracle
    * differences full prefix recounts, so fold ≡ one-shot is what the
    * gate checks), but as a bench number it ≈ a recount by construction:
    * the fold re-derives every triangle exactly once. What a deployment
    * actually pays per maintenance cycle is THIS query: one Δ-batch (a
    * 1/16 hash slice of the edge log) applied against the standing 15/16
    * corpus. It runs the per-batch kernel [[deltaTriCands]] once; its
    * oracle is the same independent idea at single-batch grain: a
    * difference of two full recounts (with/without the batch) must equal
    * the incremental count.
    *
    * RE-PLANNED on the r18 ladder before shipping. The first draft
    * ran the kernel on two filters of the edge artifact, deriving the
    * standing side per call, and
    * measured 191 s at sf10 (120M edges) against an 88 s
    * checkpoint-frame apply and 566 s recount — because every standing-
    * side DERIVATION re-ran per apply: the degree table (a 2|E|-row
    * shuffle), the closing Bloom (an |E|-row aggregate), the edge count,
    * and the wedge fan-out's adjacency co-location (a second 2|E|-row
    * shuffle under SMJ). None of those is a function of the batch — so
    * ALL of them moved into standing artifacts, the q82/q86 discipline
    * applied to the graph:
    *  - the undirected adjacency is a BUCKETED table (bucketBy u — the
    *    q66 machinery): the wedge fan-out and the closing probes read
    *    it in place and only batch-derived rows shuffle
    *    (`requireAllClusterKeysForCoPartition` is false by default, so
    *    the (a,b) closing probe rides the u-bucketing with the
    *    candidate side alone shuffling);
    *  - degree, edge count, and the closing Bloom bits are
    *    datasetTag-keyed parquet artifacts ([[graft.etl
    *    .Merge.materialize]]) — in production each is maintained
    *    incrementally with the edge append (degree and count are
    *    mergeable sums; the Bloom is a bitwise-OR fold);
    * leaving the steady state: batch scans + batch-sized shuffles +
    * in-place standing scans. TriangleDeltaSpec pins the kernel against
    * differenced recounts on both closing-key and both Bloom branches. */
  def triangleApply(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.datasetTag(s, d, "lineitem")
    val e = tri16Edges(s, d)
    val old = e.filter(col("h16") =!= 15).select("a", "b")
    val delta = e.filter(col("h16") === 15).select("a", "b")
    // TWO physical layouts of the standing set, each serving the join it
    // is keyed for in place: the undirected adjacency bucketed by u (the
    // wedge fan-out), the directed edge list bucketed by (a,b) (the
    // closing-pair probe) — a graph deployment's adjacency list + edge
    // lookup index. r20: the SHARED full-set layouts (carrying h16, the
    // q107 fold reads them too — one bucketed build serves both); the
    // h16 =!= 15 filter rides the bucketing, so the standing sides still
    // never shuffle.
    val (adjT, edgT) = triBucketed(s, d)
    val adj = adjT.filter(col("h16") =!= 15).select(col("u"), col("w"))
    val edg = edgT.filter(col("h16") =!= 15).select(col("a"), col("b"))
    val deg = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "tri_deg", tag),
      adj.groupBy(col("u")).agg(count(lit(1)).as("dg")))
    val nOld = graft.etl.Merge.materialize(s,
        graft.etl.Artifacts.path(s, "tri_stats", tag),
        old.agg(count(lit(1)).as("n")))
      .head.getLong(0)
    val bloom =
      if (nOld <= Bloom.BroadcastRows) None
      else Some(graft.etl.Merge.materialize(s,
        graft.etl.Artifacts.path(s, "tri_bloom", tag),
        Bloom.build(old, xxhash64(col("a"), col("b")), nOld))
        // the parquet round-trip erases the element non-nullability
        // bloom_might_contain requires; the writer is the Agg's
        // containsNull=false output, so the coalesce is a type-level
        // witness re-established once on the 1-row frame, not a data path
        .select(transform(col("bits"), x => coalesce(x, lit(0L)))
          .as("bits")))
    delta.agg(count(lit(1)).as("n_new_edges"))
      .crossJoin(deltaTriCands(delta, adj, deg, edg, bloom, packIds = false)
        .agg(count(lit(1)).as("delta_triangles")))
  }

  val triangleApplySql: String =
    s"""WITH ${partEdgesSql("e0")},
      |e AS (SELECT a, b, $edgeHashSql % 16 AS h16 FROM e0),
      |tall AS (
      |  SELECT count(*) AS t FROM e e1
      |    JOIN e e2 ON e2.a = e1.b
      |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |told AS (
      |  SELECT count(*) AS t FROM e e1
      |    JOIN e e2 ON e2.a = e1.b
      |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |  WHERE e1.h16 != 15 AND e2.h16 != 15 AND e3.h16 != 15)
      |SELECT
      |  CAST((SELECT count(*) FROM e WHERE h16 = 15) AS BIGINT)
      |    AS n_new_edges,
      |  CAST(tall.t - told.t AS BIGINT) AS delta_triangles
      |FROM tall, told""".stripMargin

  // ── q109: point-in-time (AS OF) read over the SCD2 history ──────────────
  /** Time travel over q92's effective-dated dimension — the consumer an
    * SCD2 table exists for: "what did the customer dimension look like on
    * 1997-06-01". [[Merge.scd2AsOf]] filters the history to the version
    * effective at the timestamp (valid_from ≤ ts < valid_to, open = null)
    * — at most one row per key, a pure filter that becomes partition
    * pruning on a date-partitioned lake table. The DuckDB oracle checks
    * the snapshot INDEPENDENTLY: it never builds the history at all, it
    * takes the latest change per key at eff ≤ ts straight from the log —
    * the q107 stance (two different derivations must meet). */
  def scd2AsOfSnapshot(s: SparkSession, d: String): DataFrame = {
    val log = Merge.dedupKeepFirst(
        Tables.orders(s, d).select(col("o_custkey"),
          to_date(col("o_orderdate")).as("eff"),
          col("o_orderpriority").as("priority"), col("o_orderkey")),
        Seq("o_custkey", "eff"), Seq(col("o_orderkey").desc))
      .drop("o_orderkey")
    val hist = Merge.scd2FromLog(log, "o_custkey", "eff", Seq("priority"))
    Merge.scd2AsOf(hist, lit("1997-06-01").cast("date"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("priority"))
  }
  val scd2AsOfSql: String =
    """WITH ranked AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS eff,
      |    o_orderpriority AS priority,
      |    row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
      |                       ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |l AS (SELECT o_custkey, eff, priority FROM ranked WHERE rn = 1),
      |latest AS (
      |  SELECT o_custkey, priority, row_number() OVER (
      |      PARTITION BY o_custkey ORDER BY eff DESC) AS rn
      |  FROM l WHERE eff <= DATE '1997-06-01')
      |SELECT priority, count(*) AS n_customers
      |FROM latest WHERE rn = 1
      |GROUP BY priority ORDER BY priority""".stripMargin

  // ── q111: temporal SCD2 dimension join (fact ⋈ version at fact time) ────
  /** The OTHER consumer of an SCD2 dimension, next to q109's fixed-ts
    * snapshot: join every FACT to the dimension version effective at the
    * fact's OWN timestamp — "which priority band was this customer in
    * when the order shipped". Each key's versions partition its
    * timeline, so the key equi-join + point-in-interval residual
    * (valid_from ≤ ts < valid_to, open = null) matches AT MOST one
    * version per fact; facts before the key's first version (or with no
    * dimension key) keep a left join's null → 'none' band, so the
    * rollup accounts for every fact. The history derives from the
    * orders≤1996 slice and joins the 1997+ orders as facts — a genuine
    * temporal split, not a self-join disguise.
    *
    * Scale: a dimension join where the build side is versions (keys ×
    * few versions each) — broadcast while it fits, shuffle equi-join on
    * the key beyond, with the interval residual evaluated post-match
    * (never a range-only join, so no interval explosion); the rollup is
    * a partial-agg'd two-column groupBy. The oracle replays the same
    * left join + interval residual. */
  def scd2DimensionJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val cut = lit("1997-01-01").cast("date")
    val log = Merge.dedupKeepFirst(
        o.filter(to_date(col("o_orderdate")) < cut)
          .select(col("o_custkey").as("ck"),
            to_date(col("o_orderdate")).as("eff"),
            col("o_orderpriority").as("band"), col("o_orderkey")),
        Seq("ck", "eff"), Seq(col("o_orderkey").desc))
      .drop("o_orderkey")
    val dim = Merge.scd2FromLog(log, "ck", "eff", Seq("band"))
    val facts = o.filter(to_date(col("o_orderdate")) >= cut)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("od"),
        asCents(col("o_totalprice")).as("cents"))
    facts.join(dim,
        col("o_custkey") === col("ck") && col("valid_from") <= col("od") &&
          (col("valid_to").isNull || col("od") < col("valid_to")),
        "left")
      .groupBy(coalesce(col("band"), lit("none")).as("band_at_order"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("band_at_order"))
  }
  val scd2DimensionJoinSql: String =
    """WITH ranked AS (
      |  SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS eff,
      |    o_orderpriority AS band,
      |    row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
      |                       ORDER BY o_orderkey DESC) AS rn
      |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
      |l AS (SELECT ck, eff, band FROM ranked WHERE rn = 1),
      |chg AS (
      |  SELECT *, CASE WHEN lag(band) OVER (PARTITION BY ck ORDER BY eff)
      |      IS DISTINCT FROM band THEN 1 ELSE 0 END AS c
      |  FROM l),
      |v AS (SELECT ck, band, eff AS valid_from FROM chg WHERE c = 1),
      |dim AS (
      |  SELECT ck, band, valid_from,
      |    lead(valid_from) OVER (PARTITION BY ck ORDER BY valid_from)
      |      AS valid_to
      |  FROM v),
      |facts AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
      |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01')
      |SELECT coalesce(dim.band, 'none') AS band_at_order,
      |  count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM facts LEFT JOIN dim ON facts.o_custkey = dim.ck
      |  AND dim.valid_from <= facts.od
      |  AND (dim.valid_to IS NULL OR facts.od < dim.valid_to)
      |GROUP BY 1 ORDER BY band_at_order""".stripMargin

  // ── q108: PageRank on the co-purchase graph (iterative convergence) ─────
  /** The second iterative-graph operator (r11 verdict item 4): proves the
    * q63 iterative harness (driver loop + eager localCheckpoint lineage
    * truncation per round) generalizes beyond min-label propagation to a
    * VALUE iteration. Fixed 10 rounds of damped PageRank over the q104
    * co-purchase graph, treated undirected (each edge contributes both
    * ways).
    *
    * Bit-portability is the design constraint (the reason this is not
    * float PageRank): float rank sums depend on shuffle order, so no
    * cross-engine oracle could replay them. Ranks live in integer
    * MICRO-units: r₀ = 1e6; each round r'(v) = 150000 + (85 · Σ_{u~v}
    * (r(u) div deg(u))) div 100 — integer division and integer sums are
    * associative/commutative, so the result is exact under ANY execution
    * order and the DuckDB oracle replays all 10 rounds as unrolled CTE
    * steps (recursive-aggregate CTEs are engine-dialect quicksand; a
    * fixed iteration count unrolls to fixed SQL). The div floors leak
    * ≤ deg−1 micro per vertex per round — a deterministic rounding both
    * engines share, irrelevant to ranking at 1e6 scale.
    *
    * Scale: per round ONE shuffle joining ranks to the checkpointed
    * (u, v, deg) adjacency on u and ONE partial-agg'd reduce on v —
    * the Pregel cost envelope; lineage truncation keeps the plan flat
    * at round 10 (without it the optimizer re-derives all 9 prior
    * rounds into one exponential tree — the q63 lesson). Overflow
    * headroom: 85 · V · 1e6 stays under 2⁶³ to V ≈ 10¹¹ vertices. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20: the pair derivation is the SHARED graph-family artifact
    // ([[tri16Edges]]) — before, every pass re-ran li⋈li + distinct just
    // to seed r₀ (the adjacency itself was already materialized, but deg
    // was re-derived from scratch each pass).
    val e = tri16Edges(s, d).select(col("a"), col("b"))
    val adj0 = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg0 = adj0.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // the adjacency is 2|E| rows read ten times: MATERIALIZE it as a
    // warehouse artifact (datasetTag-keyed) instead of localCheckpoint —
    // checkpoint blocks pin the single local heap (the un-evictable
    // storage starved execution memory and OOM'd the sf10 ladder run),
    // while the parquet artifact is disk-backed, compressed, and
    // amortized across runs like every other materialized model.
    // r21 (guide §2.4): the artifact is BUCKETED BY v — the per-round
    // aggregation key. With the rank table broadcast (below), every
    // round's plan becomes FileScan(bucketed) → BroadcastHashJoin →
    // HashAggregate with ZERO Exchanges: the broadcast join preserves
    // the stream side's v-bucketing, which satisfies the groupBy(v)
    // clustering, so the last per-round shuffle (|V|-row partial-agg
    // exchange × 10 rounds) disappears. Past the broadcast gate the
    // shuffle join returns and the agg re-shuffles — same fallbacks.
    val tag = Tables.datasetTag(s, d, "lineitem")
    // r21: the adjacency carries deg of the TARGET (degv) instead of the
    // source — see the loop note below for why.
    val adjName = graft.etl.Artifacts.name("pr_adjw", pathTag(d))
    ensureBucketed(s, adjName, Seq("v"), 32,
      adj0.join(deg0.select(col("u").as("v"), col("deg").as("degv")),
        Seq("v")).select(col("u"), col("v"), col("degv")))
    val adj = s.table(adjName)
    // |V|-row degree artifact: r₀ and the broadcast gate read THIS, not a
    // per-pass re-aggregation of the whole adjacency (contents identical
    // to the old source-keyed carve: the graph is undirected, so the
    // (vertex, degree) set is the same from either end of the edge)
    val deg = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "pr_deg", tag),
      adj.select(col("v").as("u"), col("degv").as("deg")).distinct())
    val nVerts = deg.count()
    // r21 (guide §2.3/§5): (1) the per-vertex contribution c = r div deg
    // moves to the |V|-row BROADCAST side — deg(u) is constant across u's
    // edge rows, so Σ_edges (r(u) div deg(u)) = Σ_edges c(u), bit-exact —
    // which removes the per-edge division from the 2|E|-row stream. The
    // rank checkpoint carries its own deg forward (seeded from the deg
    // artifact; re-attached per round from the adjacency's degv via
    // min — every row of a group shares it), so no per-round |V|⋈|V|
    // join is needed to rebuild the contribution. (2) The adjacency
    // persists in memory for the loop's 10 scans (lazy, evictable,
    // unpersisted below — loop-internal state like the CC kernel's, NOT
    // a cross-run cache; the r14 sf10 OOM was un-evictable
    // localCheckpoint blocks, which MEMORY_AND_DISK persist avoids).
    // The cache preserves the scan's v-bucketing, so the round plan
    // keeps ZERO exchanges.
    val adjC = adj.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = deg.select(col("u").as("v"), lit(1000000L).as("r"), col("deg"))
      .localCheckpoint() // |V| rows of three longs — cheap to pin
    for (_ <- 1 to 10) {
      // r20 (guide §3.1): the rank table is |V| rows of a few longs — when
      // it fits the broadcast envelope (the q104 64M-vertex ≈ 1 GB gate),
      // BROADCAST it into the join so the 2|E|-row adjacency is never
      // shuffled: per round the plan is one in-place cached-artifact scan
      // + a broadcast hash join + a partial-agg'd HashAggregate with no
      // exchange. Integer rank sums are order-free, so the join strategy
      // cannot change a bit of the result; past the gate the shuffle
      // join returns (and the agg re-shuffles) — same fallbacks.
      val rkc = r.select(col("v").as("u"), expr("r div deg").as("c"))
      val rkb = if (nVerts <= BroadcastVertices) broadcast(rkc) else rkc
      r = adjC.join(rkb, Seq("u"))
        .groupBy(col("v"))
        .agg(expr("CAST(150000 + (85 * sum(c)) div 100 AS BIGINT)").as("r"),
             min(col("degv")).as("deg"))
        .localCheckpoint()
    }
    adjC.unpersist(false)
    r.orderBy(col("r").desc, col("v").asc).limit(20)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("r").desc, col("v").asc)).cast("long"))
      .select(col("pos"), col("v").as("partkey"), col("r").as("rank_units"))
      .orderBy(col("pos"))
  }

  /** Oracle: the same 10 integer rounds, unrolled as fixed CTE steps. */
  val pageRankSql: String = {
    val steps = (1 to 10).map { k =>
      s"""i$k AS (
         |  SELECT t.v, CAST(150000 + (85 * t.s) // 100 AS BIGINT) AS r
         |  FROM (
         |    SELECT adj.v AS v, sum(p.r // adj.deg) AS s
         |    FROM adj JOIN i${k - 1} p ON p.v = adj.u
         |    GROUP BY adj.v) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${partEdgesSql("e")},
       |adj0 AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT u, count(*) AS deg FROM adj0 GROUP BY u),
       |adj AS (SELECT adj0.u, adj0.v, deg.deg
       |        FROM adj0 JOIN deg ON deg.u = adj0.u),
       |i0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$steps
       |SELECT CAST(pos AS BIGINT) AS pos, v AS partkey, r AS rank_units
       |FROM (SELECT *, row_number() OVER (ORDER BY r DESC, v ASC) AS pos
       |      FROM i10)
       |WHERE pos <= 20 ORDER BY pos""".stripMargin
  }

  // ── q06: union-by-name with missing columns (U1) ────────────────────────
  def unionByName(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
              asCents(col("o_totalprice")).as("total_cents"))
    val b = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"))
    Merge.unionByNameTolerant(a, b).orderBy(col("o_orderkey"))
  }
  val unionByNameSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS total_cents
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1)
      |ORDER BY o_orderkey""".stripMargin

  // ── q07: distinct frontier (D1) ─────────────────────────────────────────
  def distinctFrontier(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"))
      .distinct()
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  val distinctFrontierSql: String =
    """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // ── q08: keyed dedup keep-first under explicit order (D2/D3 determinized)
  def dedupKeepFirst(s: SparkSession, d: String): DataFrame =
    Merge.dedupKeepFirst(
        Tables.orders(s, d),
        Seq("o_custkey"),
        Seq(col("o_orderdate").asc, col("o_orderkey").asc))
      .select(col("o_custkey"), col("o_orderkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("first_order_date"))
      .orderBy(col("o_custkey"))
  val dedupKeepFirstSql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_order_date
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  // ── q09: active-status derivation (A1 + A2, fixed as-of date) ───────────
  /** Per customer: last order date, order count, Active/Inactive under the
    * reference's 2-year rule (`fighters_scraper.py:117-133`) with
    * `datetime.now()` pinned to 2000-12-31 for determinism (SURVEY §7.5).
    * Customers with no orders default Inactive, like no-dates fighters. */
  def activeCustomers(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_order_date"),
           count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(agg, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        date_format(col("last_order_date"), "yyyy-MM-dd").as("last_order_date"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        Extract.activeFlag(col("last_order_date"), "2000-12-31")
          .as("status"))
      .orderBy(col("c_custkey"))
  }
  val activeCustomersSql: String =
    """SELECT c_custkey, strftime(last_order_date, '%Y-%m-%d') AS last_order_date,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  CASE WHEN last_order_date IS NOT NULL
      |         AND date_diff('day', last_order_date, DATE '2000-12-31') <= 730
      |       THEN 'Active' ELSE 'Inactive' END AS status
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey, CAST(max(o_orderdate) AS DATE) AS last_order_date,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  // ── q58: salted join under a deliberately hot FK key (skew handling) ───
  /** The reference's latent `fights.fighter_a → fighters.Name` join
    * (`fights_scraper.py:197-198` → `fighters_scraper.py:137`) develops a
    * popular-fighter hot key at scale: a few names carry an outsized share
    * of fight rows. Modeled here by collapsing 70% of orders onto one
    * synthetic hot customer key, then joining the customer dimension
    * through [[graft.etl.Skew.saltedJoin]] — the manual fix for the case
    * AQE's skew split can't cover (a broadcast-ineligible dimension, or
    * one key larger than an executor). The salted join is row-identical
    * to the plain join (SkewSpec property + this oracle); only the
    * physical distribution changes: the hot key's probe rows spread
    * across `salt` tasks instead of one (SkewSpec measures the
    * max-partition win on the real join output). */
  def skewedSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val big = Tables.orders(s, d)
      .select(
        when(col("o_custkey") % 10 <= 6, lit(1L)).otherwise(col("o_custkey"))
          .as("k"),
        col("o_orderkey"),
        asCents(col("o_totalprice")).as("total_cents"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_nationkey"),
              col("c_mktsegment"))
    Skew.saltedJoin(big, dim, "k", salt = 8)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum(col("total_cents")).as("rev_cents"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }
  val skewedSaltedJoinSql: String =
    """WITH big AS (
      |  SELECT CASE WHEN o_custkey % 10 <= 6 THEN 1 ELSE o_custkey END AS k,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS total_cents
      |  FROM orders)
      |SELECT c_nationkey, c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(total_cents) AS BIGINT) AS rev_cents
      |FROM big JOIN customer ON k = c_custkey
      |GROUP BY c_nationkey, c_mktsegment
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // ── q60: date-range (interval) join via bin bucketing (J2 range/theta) ──
  /** Core of the binned range join: `fact` rows (one date column) matched
    * to `windows` rows (`win_start`/`win_end` inclusive date bounds) where
    * the date falls inside the window — `BETWEEN` is a theta predicate, so
    * Spark's only direct plans are BroadcastNestedLoopJoin (every fact row
    * compared against every window — tolerable only while the window side
    * broadcasts) or, unhinted, a CartesianProduct. The scale path is the
    * standard interval-binning rewrite: each window EXPLODES into the
    * coarse `binDays`-day calendar bins it overlaps (⌈width/binDays⌉+1
    * rows per window), each fact row computes its ONE bin, and the join
    * becomes a hash EQUI-join on the bin with the BETWEEN as a residual
    * filter. Both sides co-partition on the bin at any scale; a fact row
    * carries exactly one bin, so no post-join dedup is needed. Pick
    * `binDays` ≈ the typical window width: bins much wider inflate
    * residual-filtered candidates, much narrower inflate the window-side
    * explosion. PlanSpec pins the no-nested-loop shape. */
  private[graft] def rangeJoinBinned(fact: DataFrame, factDate: String,
                                     windows: DataFrame, binDays: Int)
      : DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    def binOf(c: org.apache.spark.sql.Column) =
      floor(datediff(c, epoch) / binDays.toDouble).cast("long")
    val wb = windows.withColumn("bin",
      explode(sequence(binOf(col("win_start")), binOf(col("win_end")))))
    fact.withColumn("bin", binOf(col(factDate)))
      .join(wb, Seq("bin"))
      .filter(col(factDate).between(col("win_start"), col("win_end")))
      .drop("bin")
  }

  /** 25 deterministic 45-day windows (one per nation, spaced 89 days from
    * 1995-02-01 — spanning the orders date range) range-joined to orders:
    * per-window order count and revenue. The window table stands in for
    * the reference's event-calendar analytics (fights grouped into event
    * windows, `fights_scraper.py:196`); at 100 TB the windows side is
    * usually still small but the binned rewrite keeps the plan a hash
    * join even when it isn't (per-user sessions, per-SKU promo calendars
    * — window counts proportional to an entity dimension). */
  def rangeJoinOrders(s: SparkSession, d: String): DataFrame = {
    val windows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("win_id"),
        date_add(to_date(lit("1995-02-01")), col("n_nationkey") * 89)
          .as("win_start"))
      .withColumn("win_end", date_add(col("win_start"), 45))
    val fact = Tables.orders(s, d)
      .select(col("o_orderdate").cast("date").as("od"),
        asCents(col("o_totalprice")).as("cents"))
    rangeJoinBinned(fact, "od", windows, binDays = 45)
      .groupBy(col("win_id"), col("win_start"), col("win_end"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
      .select(col("win_id"),
        date_format(col("win_start"), "yyyy-MM-dd").as("win_start"),
        date_format(col("win_end"), "yyyy-MM-dd").as("win_end"),
        col("n_orders"), col("rev_cents"))
      .orderBy(col("win_id"))
  }
  val rangeJoinOrdersSql: String =
    """WITH w AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS win_id,
      |    DATE '1995-02-01' + n_nationkey * 89 AS ws,
      |    DATE '1995-02-01' + n_nationkey * 89 + 45 AS we
      |  FROM nation)
      |SELECT win_id, strftime(ws, '%Y-%m-%d') AS win_start,
      |  strftime(we, '%Y-%m-%d') AS win_end,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM w JOIN orders ON CAST(o_orderdate AS DATE) BETWEEN ws AND we
      |GROUP BY win_id, ws, we
      |ORDER BY win_id""".stripMargin

  // ── q66: bucketed co-located fact⋈fact join (zero-shuffle-join plan) ────
  /** The orderkey fact⋈fact join — the ONE unavoidable shuffle q03's
    * scaladoc documents — run over bucketed+sorted copies of both facts:
    * each side's scan emits bucket-partitioned, key-sorted rows, so the
    * sort-merge join consumes co-located buckets directly (zero Exchange,
    * zero Sort under the join — PlanSpec pins it with broadcast disabled)
    * and the per-order aggregate rides the same partitioning. This is the
    * lake layout every merge-sink scaladoc points at ("bucket the sink by
    * the key"), promoted from BucketingSpec to a registered, oracle-checked
    * query (r7 VERDICT item 6). The bucketed copies are materialized once
    * per (warehouse, sfDir) into the session warehouse and reused; at
    * 100 TB that write is the one-time cost that deletes the shuffle from
    * every downstream run. */
  /** Session-catalog CTAS for a BUCKETED table (q66's pattern, shared
    * with q136's standing adjacency): the in-memory catalog dies with
    * the session but the warehouse dir persists, so a table absent from
    * the catalog may still have an orphaned location a previous session
    * wrote — and CTAS validates the location is free. The orphan's
    * provenance is unknowable (no catalog entry): delete and rebuild
    * rather than adopt blind. On a deployment with a real metastore the
    * build is once per corpus generation, not once per session. */
  private def ensureBucketed(s: SparkSession, name: String, keys: Seq[String],
                             buckets: Int, df: => DataFrame): Unit =
    if (!s.catalog.tableExists(name)) graft.etl.Merge.recordBuild {
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      df.write.bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .mode("overwrite").saveAsTable(name)
    }

  /** Sanitized-path table-name tag: verify and bench hit different SFs
    * in one warehouse; the tag is the FULL PATH, not a hash — two
    * distinct dirs can never collide into one table name and silently
    * reuse the wrong bucketed copy. */
  private def pathTag(d: String): String =
    new java.io.File(d).getAbsolutePath
      .toLowerCase.replaceAll("[^a-z0-9]+", "_").stripPrefix("_")

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = pathTag(d)
    val bo = graft.etl.Artifacts.name("bkt_orders", tag)
    val bl = graft.etl.Artifacts.name("bkt_lineitem", tag)
    ensureBucketed(s, bo, Seq("o_orderkey"), 8, Tables.orders(s, d))
    ensureBucketed(s, bl, Seq("l_orderkey"), 8, Tables.lineitem(s, d))
    s.table(bo).join(s.table(bl), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(asCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_cents"))
      .orderBy(col("o_orderkey"))
  }
  val bucketedJoinSql: String =
    """SELECT o_orderkey, count(*) AS n_lines,
      |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  // ── q73: Bloom-filter semi-join reduction (runtime filter) ──────────────
  /** Revenue of urgent/high-priority orders with the fact side pre-filtered
    * by a broadcast Bloom filter over the build side's keys — the
    * runtime-filter pattern ([[graft.functions.Bloom]]) made a first-class
    * operator. At 100 TB the exact lineitem⋈orders join must shuffle the
    * fact side; the bloom probe drops ~60% of lineitem AT THE SCAN (only
    * ~40% of orders are urgent/high), so the shuffle carries only rows
    * that can possibly join plus a ~0.8% false-positive tail, and the
    * exact join downstream clears that tail — the result is bit-identical
    * to the plain join, which is exactly what the oracle checks.
    *
    * The build-side `count()` is the sizing stat (10 bits/key — a real
    * engine reads it off the build exchange for free); one extra scan of
    * the filtered, 2-column orders side is the standard price, paid
    * against a fact side 10–1000× larger. */
  def bloomFilteredJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val nBuild = o.count() // build-side stat: ONE long to the driver
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        asCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    val pre = Bloom.probe(li, Bloom.build(o, col("o_orderkey"), nBuild),
        col("l_orderkey"))
      .select(col("l_orderkey"), col("rev_cents"))
    pre.join(o, pre("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("rev_cents")).as("revenue_cents"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }
  val bloomFilteredJoinSql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ── q74: z-order curve cells (lake layout for 2-D data skipping) ────────
  /** Orders mapped onto a 16×16 Morton curve over (totalprice, orderdate)
    * and aggregated per curve cell — the cell assignment that
    * [[graft.etl.Layout.writeZOrdered]] clusters the write by. The oracle
    * re-derives the interleave bit-for-bit, so the layout's placement
    * function is hash-verified; the data-skipping BENEFIT (a 2-D box
    * predicate touches few files, where a linear sort's non-leading
    * dimension touches all of them) is measured in ZOrderSpec, which is a
    * physical-layout property no row-level oracle can see.
    *
    * Fixed bucket bounds (price 0–512k in 32k steps, date 1995-01-01 +
    * 160-day steps), clamped — the layout must not shift when data grows.
    * Map-only until the 256-cell aggregate; one tiny shuffle. */
  def zOrderCells(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val xb = Layout.rangeBucket(col("o_totalprice"), lit(0.0), 32768.0, 4)
    val yb = Layout.rangeBucket(
      datediff(col("o_orderdate"), lit("1995-01-01")).cast("double"),
      lit(0.0), 160.0, 4)
    o.select(Layout.zValue(xb, yb, 4).as("z"),
        asCents(col("o_totalprice")).as("cents"))
      .groupBy(col("z"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("z"))
  }
  val zOrderCellsSql: String =
    """WITH b AS (
      |  SELECT
      |    CAST(least(greatest(floor(o_totalprice / 32768.0), 0), 15) AS BIGINT) AS xb,
      |    CAST(least(greatest(floor(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) / 160.0), 0), 15) AS BIGINT) AS yb,
      |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |z AS (
      |  SELECT cents, list_sum(list_transform(range(0, 4),
      |    i -> (((xb >> i) & 1) << (2*i)) + (((yb >> i) & 1) << (2*i + 1)))) AS z
      |  FROM b)
      |SELECT CAST(z AS BIGINT) AS z, count(*) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM z GROUP BY z ORDER BY z""".stripMargin

  // ── q75: incremental aggregate maintenance (materialized-view upkeep) ───
  /** Revenue by (priority, month) maintained INCREMENTALLY: yesterday's
    * materialized partials (orders before the cutoff) plus today's delta
    * partials (orders on/after it), re-aggregated — never a rescan of
    * history. Additive aggregates (sum/count here; avg as sum+count; the
    * engine's KMV/HLL/Bloom sketches too) form a merge semigroup, so
    * maintenance cost is O(delta + |state|) where |state| is the GROUP
    * cardinality — at 100 TB that is the difference between a nightly
    * full-history job and a minutes-long delta merge. The cutoff is
    * deliberately mid-month (2000-06-15): the June-2000 groups exist in
    * BOTH halves and must merge to the full-recompute value, which is
    * exactly what the oracle (a plain full GROUP BY) checks.
    *
    * Both halves are recomputed from the raw table here for oracle
    * purity; in production the state half is a tiny parquet read
    * maintained by [[graft.etl.Merge.upsertWrite]] keyed on the group. */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(asCents(col("o_totalprice"))).as("cents"),
             count(lit(1)).as("n"))
    val o = Tables.orders(s, d)
    val state = partials(o.filter(col("o_orderdate") < lit("2000-06-15")))
    val delta = partials(o.filter(col("o_orderdate") >= lit("2000-06-15")))
    state.unionByName(delta)
      .groupBy(col("o_orderpriority"), col("month"))
      .agg(sum(col("cents")).as("sum_cents"), sum(col("n")).as("n_orders"))
      .orderBy(col("o_orderpriority"), col("month"))
  }
  val incrementalAggSql: String =
    """SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority, month
      |ORDER BY o_orderpriority, month""".stripMargin

  /** Registry fragment for SparkEntry. */
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q01_pricing_summary"     -> (pricingSummary _),
    "q02_filter_project"      -> (filterProject _),
    "q03_revenue_by_nation"   -> (revenueByNation _),
    "q04_incremental_antijoin"-> (incrementalAntijoin _),
    "q05_firstwins_merge"     -> (firstWinsMerge _),
    "q06_union_by_name"       -> (unionByName _),
    "q07_distinct_frontier"   -> (distinctFrontier _),
    "q08_dedup_keep_first"    -> (dedupKeepFirst _),
    "q09_active_customers"    -> (activeCustomers _),
    "q58_skewed_join"         -> (skewedSaltedJoin _),
    "q60_range_join"          -> (rangeJoinOrders _),
    "q64_upsert_merge"        -> (upsertMerge _),
    "q92_scd2_history"        -> (scd2History _),
    "q96_cdc_apply"           -> (cdcApplyNet _),
    "q103_dq_report"          -> (dqReport _),
    "q104_triangle_count"     -> (triangleCount _),
    "q107_triangle_delta"     -> (triangleDelta _),
    "q136_triangle_apply"     -> (triangleApply _),
    "q108_pagerank"           -> (pageRank _),
    "q109_scd2_asof"          -> (scd2AsOfSnapshot _),
    "q111_scd2_dim_join"      -> (scd2DimensionJoin _),
    "q66_bucketed_join"       -> (bucketedJoin _),
    "q73_bloom_join"          -> (bloomFilteredJoin _),
    "q74_zorder_cells"        -> (zOrderCells _),
    "q75_incremental_agg"     -> (incrementalAgg _))

  val oracles: Seq[(String, String)] = Seq(
    "q01_pricing_summary"      -> pricingSummarySql,
    "q02_filter_project"       -> filterProjectSql,
    "q03_revenue_by_nation"    -> revenueByNationSql,
    "q04_incremental_antijoin" -> incrementalAntijoinSql,
    "q05_firstwins_merge"      -> firstWinsMergeSql,
    "q06_union_by_name"        -> unionByNameSql,
    "q07_distinct_frontier"    -> distinctFrontierSql,
    "q08_dedup_keep_first"     -> dedupKeepFirstSql,
    "q09_active_customers"     -> activeCustomersSql,
    "q58_skewed_join"          -> skewedSaltedJoinSql,
    "q60_range_join"           -> rangeJoinOrdersSql,
    "q64_upsert_merge"         -> upsertMergeSql,
    "q92_scd2_history"         -> scd2HistorySql,
    "q96_cdc_apply"            -> cdcApplyNetSql,
    "q103_dq_report"           -> dqReportSql,
    "q104_triangle_count"      -> triangleCountSql,
    "q107_triangle_delta"      -> triangleDeltaSql,
    "q136_triangle_apply"      -> triangleApplySql,
    "q108_pagerank"            -> pageRankSql,
    "q109_scd2_asof"           -> scd2AsOfSql,
    "q111_scd2_dim_join"       -> scd2DimensionJoinSql,
    "q66_bucketed_join"        -> bucketedJoinSql,
    "q73_bloom_join"           -> bloomFilteredJoinSql,
    "q74_zorder_cells"         -> zOrderCellsSql,
    "q75_incremental_agg"      -> incrementalAggSql)
}
