package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality audit — the constraint layer a production lake
  * runs on every batch before publishing it (the Delta-constraints /
  * dbt-test shape). The reference has no audit at all: bad rows flow into
  * gold silently (its empty-input tolerance actively hides them, SURVEY
  * §2 S5). Training-data pipelines need the opposite: a cheap, declarative
  * report of how many rows violate each contract, so a poisoned delivery
  * is quarantined BEFORE it contaminates a shuffle-distributed corpus.
  *
  * Three check families, three plan shapes — each the cheapest Spark can
  * offer for its question:
  *   - row checks (not-null / range / custom predicate): ALL of them fold
  *     into ONE aggregate pass over the table — k checks cost one scan with
  *     k conditional counters (map-side combined), not k scans;
  *   - uniqueness: one groupBy on the key with a >1 filter — a shuffle of
  *     the key columns only (project-then-shuffle, never the full row);
  *   - referential integrity: a left-anti join against the dimension's
  *     distinct keys — broadcast when the dimension is small (the usual
  *     case: descriptor/dim tables), shuffle otherwise, and only the two
  *     key columns move.
  *
  * Output contract (one row per check, stable names for the gate):
  * `(check_name, violations, rows_checked)` ordered by check name. `violations`
  * counts ROWS in violation; a NULL in a range/custom check column is NOT
  * a violation of that check (SQL three-valued logic: add an explicit
  * NotNull check for null policing, matching how SQL CHECK constraints
  * treat NULL as passing).
  *
  * Gated by q118 (DuckDB oracle states each family as plain SQL);
  * MEASURED flat at 10× data (OlapScaleProbe: 0.37 → 0.30 s — the
  * broadcast and map-side combines absorb the volume). */
object Audit {

  /** One declarative constraint. `name` keys the report row. */
  sealed trait Check { def name: String }

  /** Violation: the column IS NULL. */
  final case class NotNull(col: String) extends Check {
    val name = s"not_null:$col"
  }

  /** Violation: value outside [lo, hi] (inclusive). NULLs pass. */
  final case class InRange(col: String, lo: Double, hi: Double) extends Check {
    val name = s"range:$col"
  }

  /** Violation: the predicate is NOT satisfied (false). NULLs pass,
    * matching SQL CHECK semantics. */
  final case class Satisfies(checkName: String, predicate: Column) extends Check {
    val name = s"check:$checkName"
  }

  /** Violation: a row whose key tuple occurs more than once (every row of
    * a duplicated key counts, including the "first"). NULL keys group
    * together like any value, so repeated NULLs DO count as duplicates —
    * stricter than a SQL UNIQUE constraint (which ignores NULLs); pair
    * with [[NotNull]] when the column should have neither. */
  final case class UniqueKey(cols: Seq[String]) extends Check {
    val name = s"unique:${cols.mkString(",")}"
  }

  /** Violation: a non-null foreign key with no match in `dim.dimCol`.
    * `broadcastDim = true` (default) hints the usual dim-table case; pass
    * false for a fact-sized right side and let AQE pick the join. */
  final case class RefIntegrity(
      col: String, dim: DataFrame, dimCol: String,
      broadcastDim: Boolean = true) extends Check {
    val name = s"fk:$col"
  }

  /** Run every check; returns `(check_name, violations, rows_checked)` sorted by
    * check name. All row checks share one aggregate scan; each UniqueKey
    * adds one key-column shuffle; each RefIntegrity adds one anti-join. */
  def audit(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "audit needs at least one check")
    require(checks.map(_.name).distinct.size == checks.size,
      "duplicate check names: " + checks.map(_.name).diff(checks.map(_.name).distinct))

    def violationExpr(c: Check): Option[Column] = c match {
      case NotNull(col0) => Some(col(col0).isNull)
      case InRange(col0, lo, hi) =>
        // NULL-safe: null comparison yields null → coalesce to false
        Some(coalesce(col(col0) < lit(lo) || col(col0) > lit(hi), lit(false)))
      case Satisfies(_, p) => Some(coalesce(!p, lit(false)))
      case _ => None
    }

    val rowChecks = checks.flatMap(c => violationExpr(c).map(c.name -> _))
    val rowReport: Option[DataFrame] =
      if (rowChecks.isEmpty) None
      else {
        val aggs = rowChecks.map { case (name, v) =>
          sum(when(v, 1L).otherwise(0L)).as(s"v::$name")
        } :+ count(lit(1)).as("rows_checked")
        val one = df.agg(aggs.head, aggs.tail: _*)
        // one wide row → k narrow report rows via EXPLODE of a struct
        // array, NOT a union of k selects: a union re-plans the aggregate
        // per branch (column pruning splits it into k single-counter aggs,
        // each with its own scan of the source — observed in the plan),
        // while the explode provably keeps the one shared pass
        val kvs = array(rowChecks.map { case (name, _) =>
          struct(lit(name).as("check_name"),
            coalesce(col(s"`v::$name`"), lit(0L)).as("violations"))
        }: _*)
        Some(one.select(explode(kvs).as("kv"), col("rows_checked"))
          .select(col("kv.check_name").as("check_name"),
            col("kv.violations").as("violations"),
            col("rows_checked")))
      }

    val keyReports = checks.collect { case UniqueKey(cols0) =>
      val dup = df.groupBy(cols0.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .agg(coalesce(sum(col("n")), lit(0L)).as("violations"))
      dup.crossJoin(df.agg(count(lit(1)).as("rows_checked")))
        .select(lit(s"unique:${cols0.mkString(",")}").as("check_name"),
          col("violations"), col("rows_checked"))
    }

    val fkReports = checks.collect { case RefIntegrity(col0, dim, dimCol, bcast) =>
      val keys = dim.select(col(dimCol).as(col0)).distinct()
      val orphans = df.select(col(col0)).filter(col(col0).isNotNull)
        .join(if (bcast) broadcast(keys) else keys, Seq(col0), "left_anti")
        .agg(count(lit(1)).as("violations"))
      orphans.crossJoin(df.agg(count(lit(1)).as("rows_checked")))
        .select(lit(s"fk:$col0").as("check_name"),
          col("violations"), col("rows_checked"))
    }

    (rowReport.toSeq ++ keyReports ++ fkReports)
      .reduce(_.unionByName(_))
      .orderBy("check_name")
  }

  /** k-anonymity audit — the privacy gate a training corpus with joined
    * user attributes needs before release: every row must hide in an
    * equivalence class of ≥ k rows sharing its quasi-identifier tuple
    * (Sweeney's k-anonymity; the quasi-identifiers are the caller's
    * generalized columns, e.g. banded balance + region). Output is the
    * equivalence-CLASS SIZE DISTRIBUTION, not the class list: one row per
    * observed class size `(class_size, n_classes, n_rows, at_risk)` —
    * bounded by the number of DISTINCT sizes (≤ ~log-many in practice),
    * so the report stays driver-safe at any corpus scale, while
    * `at_risk = class_size < k` rows quantify exactly how much data a
    * release would leak. Two hash aggregates (classes, then sizes), both
    * map-side-combining; the second input is already one row per class.
    * Gated by q153 against a two-level GROUP BY oracle. MEASURED
    * (GovernanceScaleProbe, sf0.1 orders ×10): 0.21 → 0.44 s = 2.1×. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2: $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"))
      .select(
        col("class_size"),
        col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_rows"),
        (col("class_size") < lit(k)).as("at_risk"))
      .orderBy("class_size")
  }

  /** l-diversity audit — k-anonymity's complement ([[kAnonymity]]):
    * hiding in a big equivalence class is worthless if everyone in it
    * shares the same SENSITIVE value (the classic homogeneity attack —
    * "all 50 people in this (zip, age) class have the same diagnosis").
    * One row per equivalence class: size, distinct sensitive values,
    * `at_risk = distinct < l`. Output is class-count-bounded (quasi-
    * identifiers are generalized/banded by contract, so classes are
    * few); two hash aggregates, the second over one row per
    * (class, sensitive value). Gated by q172. */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long
  ): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi-identifier")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(l >= 2, s"l must be >= 2: $l")
    df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(quasiCols.map(col): _*)
      .agg(
        sum(col("__n")).as("class_size"),
        count(lit(1)).as("distinct_sensitive"))
      .withColumn("at_risk", col("distinct_sensitive") < lit(l))
      .orderBy(quasiCols.map(col): _*)
  }

  /** t-closeness audit — [[lDiversity]]'s complement: a class can be
    * diverse yet still leak ("this class has ALL five diagnoses, but 90%
    * of it is one of them while the population is uniform" — the
    * skewness attack). Per equivalence class, the total variational
    * distance between the class's sensitive-value distribution and the
    * table-wide one, with every division cleared: for class counts c_v
    * (class size n) and global counts g_v (total N),
    * TVD = ½ Σ_v |c_v/n − g_v/N|, so `tvd_scaled` = Σ_v |c_v·N − g_v·n|
    * is the same statistic ×(2·n·N) — exact integers end to end, and
    * `at_risk ⇔ tvd_scaled·tDen > 2·n·N·tNum` tests TVD > tNum/tDen
    * without ever forming a float. Values ABSENT from a class still
    * contribute (|0 − g_v·n|); rather than crossing every class with the
    * full value domain, the absent mass folds to n·(N − Σ_present g_v) —
    * one joint groupBy, one broadcast of the (small) global value
    * distribution, no domain cross join, which is what keeps the plan
    * flat when the sensitive domain is wide. Internal sums ride
    * DECIMAL(38,0) (HUGEINT in the oracle) because c_v·N is quadratic in
    * table size; the reported tvd_scaled is a lossless-at-gate-scale
    * BIGINT (see inline note). NULL sensitive values are first-class: the
    * global-distribution join is null-safe, so a null class-cell matches
    * the null global cell rather than folding into the absent mass.
    * Gated by q253. MEASURED (AnalyticsScaleProbe, sf0.1 customers ×10):
    * 0.6× — fixed-cost dominated at this scale. */
  def tCloseness(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      tNum: Long,
      tDen: Long
  ): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi-identifier")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(tNum > 0 && tDen > 0 && tNum < tDen,
      s"threshold must satisfy 0 < tNum/tDen < 1: $tNum/$tDen")
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*)
    // ONE exchange for the whole chain: hash(quasi) co-locates equal
    // (quasi, sensitive) tuples too, so the joint aggregation, the
    // class-size window and the final per-class aggregation all reuse
    // this partitioning (PlanSpec pins the exchange count)
    val joint = df.repartition(quasiCols.map(col): _*)
      .groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__n", sum(col("__c")).over(w))
    // null-safe distribution key: a NULL sensitive value participates as
    // a regular value (the <=> join below), instead of silently dropping
    // out of the inner join and misattributing its mass to the absent fold
    val glob = df.groupBy(col(sensitiveCol).as("__sv"))
      .agg(count(lit(1)).as("__g"))
    // N directly from df (a global count: partial-agg + SinglePartition,
    // no hash exchange) — deriving it from glob would duplicate glob's
    // whole aggregate subtree in the plan
    val total = df.agg(count(lit(1)).as("__tot"))
    joint
      .join(broadcast(glob), col(sensitiveCol) <=> col("__sv"))
      .drop("__sv")
      .crossJoin(broadcast(total))
      .groupBy(quasiCols.map(col): _*)
      .agg(
        first(col("__n")).as("__n"),
        first(col("__tot")).as("__tot"),
        sum(abs(dec(col("__c")) * dec(col("__tot")) -
          dec(col("__g")) * dec(col("__n")))).as("__present"),
        sum(dec(col("__g"))).as("__g_present"))
      .select(quasiCols.map(col) ++ {
        val scaled = col("__present") +
          dec(col("__n")) * (dec(col("__tot")) - col("__g_present"))
        Seq(
          col("__n").as("class_size"),
          // reported as BIGINT: the driver's typed hash can't equate
          // Spark decimal128 with DuckDB HUGEINT even when every value
          // matches (round-6 q253). The INTERNAL at_risk inequality stays
          // decimal — exact at any scale. tvd_scaled ≤ 2·n·N, so the long
          // cast is lossless until n·N ≥ 2^62 (~10^9 rows in one class
          // AND table — beyond that, report the per-class normalized TVD
          // double instead of the scaled integer). try_cast, not cast:
          // overflow must be null under ANSI mode too, not an exception —
          // the documented contract must not invert with a session flag.
          scaled.try_cast("long").as("tvd_scaled"),
          (scaled * lit(tDen) >
            dec(lit(2L * tNum)) * dec(col("__n")) * dec(col("__tot")))
            .as("at_risk"))
      }: _*)
      .orderBy(quasiCols.map(col): _*)
  }
}
