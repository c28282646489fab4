package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality constraint checks — the expectations gate a production
  * pipeline runs before promoting a batch (the Delta Live Tables /
  * Great Expectations surface, engine-side): each check reduces a table
  * to ONE row `(check, n_checked, n_violations)`, and a report is the
  * union of checks, so a promotion rule is a single `max(n_violations)`
  * over the report. The reference's own loaders hard-code the instances
  * (arity guards, N/A normalization — SURVEY §2 F2/F3); this is the
  * declarative, reusable form.
  *
  * Scale notes per check: [[notNull]] and [[inRange]] are map-side
  * single-row aggregates (one partial-agg'd reduce, no keyed shuffle);
  * [[unique]] shuffles the KEY columns once (count>1 groups — partial
  * aggregation eats the non-duplicated mass map-side); [[fkCovered]] is
  * a left-anti join on the key, broadcast when the parent's distinct key
  * set is dimension-sized, shuffle otherwise — identical envelope to the
  * J1 incremental skip. Checks are independent single-row frames: run
  * them in one action via [[report]]'s union, which Spark executes as
  * parallel stages. */
object Quality {

  private def one(name: String, checked: Column, violations: Column,
                  df: DataFrame): DataFrame =
    df.agg(checked.as("n_checked"), violations.as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked"),
        col("n_violations"))

  /** Null-rate check: violations = rows where `c` is NULL. */
  def notNull(df: DataFrame, c: String): DataFrame =
    one(s"not_null($c)", count(lit(1)),
      count(when(col(c).isNull, 1)), df)

  /** Range check: violations = non-null values outside [lo, hi]. */
  def inRange(df: DataFrame, c: String, lo: Column, hi: Column): DataFrame =
    one(s"in_range($c)", count(lit(1)),
      count(when(col(c) < lo || col(c) > hi, 1)), df)

  /** Key-uniqueness check: violations = rows carrying a key that occurs
    * more than once (so 2 duplicate rows count as 2 violations — the
    * rows a dedup would have to adjudicate). NULL keys are counted by
    * [[notNull]], not here (a NULL never equals another NULL). */
  def unique(df: DataFrame, keys: Seq[String]): DataFrame = {
    val name = s"unique(${keys.mkString(",")})"
    val perKey = df.na.drop(keys)
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
    one(name, coalesce(sum(col("__n")), lit(0L)),
      coalesce(sum(when(col("__n") > 1, col("__n"))), lit(0L)), perKey)
  }

  /** Referential-integrity check: violations = child rows whose non-null
    * `key` has no match in `parent.pkey` (FK orphans); the parent's
    * distinct keys are broadcast into the anti-join. */
  def fkCovered(child: DataFrame, key: String,
                parent: DataFrame, pkey: String): DataFrame = {
    val pk = parent.select(col(pkey).as(key)).distinct()
    val orphans = child.filter(col(key).isNotNull)
      .join(broadcast(pk), Seq(key), "left_anti")
      .agg(count(lit(1)).as("__o"))
    val total = child.filter(col(key).isNotNull).agg(count(lit(1)).as("__t"))
    total.crossJoin(orphans)
      .select(lit(s"fk($key)").as("check_name"), col("__t").as("n_checked"),
        col("__o").as("n_violations"))
  }

  /** A row-level check: name + the violation predicate. */
  case class RowCheck(name: String, violation: Column)
  def notNullCheck(c: String): RowCheck =
    RowCheck(s"not_null($c)", col(c).isNull)
  def inRangeCheck(c: String, lo: Column, hi: Column): RowCheck =
    RowCheck(s"in_range($c)", col(c) < lo || col(c) > hi)

  /** ALL row-level checks of one table in ONE scan — the fusion that
    * matters at 100 TB (N separate [[notNull]]/[[inRange]] calls scan the
    * table N times; predicates over the same rows belong in one
    * aggregate). One map-side-combined reduce produces every counter;
    * the per-check rows then unpivot from the single aggregate row
    * (constant-size stack, driver-free). Keyed checks ([[unique]],
    * [[fkCovered]]) still need their shuffle/join and stay separate. */
  def rowChecks(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    // an empty list would generate stack(0, ) — a malformed expression
    // failing with an opaque parse error; name the contract instead
    require(checks.nonEmpty, "rowChecks needs at least one check")
    val aggs = count(lit(1)).as("__n") +:
      checks.zipWithIndex.map { case (c, i) =>
        count(when(c.violation, 1)).as(s"__v$i") }
    val stacked = checks.zipWithIndex.map { case (c, i) =>
      s"'${c.name.replace("'", "''")}', __n, __v$i" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${checks.size}, $stacked) AS " +
        "(check_name, n_checked, n_violations)")
  }

  /** The report: one row per check, stable order for comparison. */
  def report(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_.unionByName(_)).orderBy(col("check_name"))
}
