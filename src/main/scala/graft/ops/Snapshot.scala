package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot diff — CDC for a keyed lake table: given yesterday's and
  * today's snapshots, classify every key as `added`, `removed`, or
  * `changed` (content hash differs), omitting the unchanged majority.
  * This is the primitive behind incremental downstream work: a daily
  * 100 TB corpus refresh re-deduplicates / re-scores / re-embeds ONLY
  * the diff (compose with [[Dedup.incrementalMinhash]]), never the full
  * table.
  *
  * Scale shape: each side folds its content columns to one md5
  * map-side, so the full-outer join shuffles (key, 16-byte hash) —
  * narrow rows regardless of how wide the content is. One shuffle on
  * the key; the unchanged filter drops the bulk before anything
  * downstream materializes. The `` separator makes the fold
  * injective for text-free-of- content; production tables with
  * binary columns would hash a struct instead.
  *
  * Measured (TextScaleProbe, sf0.1 -> 10x = 50k docs,
  * local[32]): 0.14 s -> 0.22 s for 10x data - hash fold + narrow
  * shuffle, nothing content-width-sized survives to the exchange.
  */
object Snapshot {

  /** Row-level diff: (key, change_type) plus each side's content hash
    * (null on the missing side). `contentCols` defines row identity —
    * columns outside it do not trigger `changed`. */
  def diff(
      prev: DataFrame,
      curr: DataFrame,
      idCol: String,
      contentCols: Seq[String]
  ): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      df.select(
        col(idCol),
        // each column folds to "v<value>" or "n" BEFORE the separator
        // join: concat_ws alone silently drops NULL columns (and their
        // separator), which would hash (a="x", b=NULL) and (a=NULL,
        // b="x") identically and classify a changed row as unchanged
        md5(concat_ws("", contentCols.map(c =>
          coalesce(concat(lit("v"), col(c).cast("string")), lit("n"))): _*))
          .as(as))
    val p = hashed(prev, "prev_hash")
    val c = hashed(curr, "curr_hash")
    p.join(c, Seq(idCol), "full_outer")
      .withColumn("change_type",
        when(col("prev_hash").isNull, "added")
          .when(col("curr_hash").isNull, "removed")
          .when(col("prev_hash") =!= col("curr_hash"), "changed")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
  }

  /** Apply a deletes feed to a keyed gold table: drop every row whose
    * key appears in `deletes` — the consumption step for the Ed-Fi
    * `/deletes` twin the reference extracts but never applies
    * (api/api.py:133-136; silver captures the feed, gold still carries
    * the ghosts). Composes with the change-version window: a daily
    * incremental run upserts the delta batch and THEN removes this
    * feed's keys; [[diffSummary]] against the previous gold audits both.
    *
    * One left_anti hash join on the key. The deletes batch is one day's
    * removals — tiny against the table — so AQE broadcasts it and the
    * pass costs a scan of gold, no shuffle of the big side. */
  def applyDeletes(curr: DataFrame, deletes: DataFrame, idCol: String): DataFrame =
    curr.join(deletes.select(col(idCol)).distinct(), Seq(idCol), "left_anti")

  /** The audit summary a daily refresh logs: one row per change type. */
  def diffSummary(
      prev: DataFrame,
      curr: DataFrame,
      idCol: String,
      contentCols: Seq[String]
  ): DataFrame =
    diff(prev, curr, idCol, contentCols)
      .groupBy("change_type").agg(count(lit(1)).as("n"))

  /** SCD Type-2 history build: collapse a keyed observation log (one
    * row per (key, observation time) carrying the entity's state at
    * that time) into validity ranges — (key, state, valid_from,
    * valid_to, n_obs, version), where `valid_to` is the next range's
    * start and null marks the current range. The complement of [[diff]]:
    * diff tells a refresh WHAT changed between two snapshots; scd2
    * turns the accumulated snapshots into the dimension-table shape
    * warehouse queries join against (the classic Kimball type-2
    * dimension, built here from the log instead of maintained row by
    * row).
    *
    * Gaps-and-islands on one partitioning of the key: a lag window
    * marks state changes (null-safe, so a null state is a real state,
    * not a wildcard), a running sum numbers the islands, and the
    * per-island aggregate + the valid_to lead both reuse the same
    * hash(key) exchange — ONE event-sized shuffle end to end, the
    * same discipline as [[graft.ops.Behavior]] (PlanSpec asserts
    * exactly one exchange on the executed plan). Ties in `seqCol` are
    * broken by `tieCol` so the ranges are deterministic.
    *
    * Measured (BehaviorScaleProbe, sf0.1 → 10× the users,
    * local[32]): 0.43 → 0.69 s for 10× data (1.6×).
    */
  def scd2(
      history: DataFrame,
      keyCol: String,
      seqCol: String,
      tieCol: String,
      stateCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(keyCol).orderBy(col(seqCol), col(tieCol))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the first row is marked explicitly: a lag-is-distinct test alone
    // can't tell "no previous row" from "previous state was null", and
    // would start a null-state history at version 0
    val ranges = history
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__prev", lag(col(stateCol), 1).over(wOrd))
      .withColumn("__chg",
        when(col("__rn") === 1 || not(col("__prev") <=> col(stateCol)), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("__chg")).over(wRun))
      .groupBy(col(keyCol), col("version"))
      .agg(
        min(col(stateCol)).as("state"), // constant within the island
        min(col(seqCol)).as("valid_from"),
        count(lit(1)).as("n_obs"))
    val wVer = Window.partitionBy(keyCol).orderBy(col("version"))
    ranges.withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .select(col(keyCol), col("state"), col("valid_from"),
        col("valid_to"), col("n_obs"), col("version"))
  }

  /** MERGE-INTO semantics for a keyed snapshot — the lakehouse upsert:
    * apply a change batch of (key, version, op ∈ I/U/D, payload…) to a
    * base table; per key the HIGHEST version wins (base rows carry their
    * own version), and a winning D tombstone removes the key. Expressed
    * as union + one row_number window on hash(key) — the exact shape a
    * 100 TB MERGE compiles to (no per-row lookups; late/duplicate
    * change deliveries collapse in the same window, making the apply
    * idempotent). Insert-vs-update is a delivery hint, not a semantic:
    * winner-takes-key handles both, which is what makes replayed feeds
    * safe. Gated by q185 against the same window algebra in SQL.
    * MEASURED (GovernanceScaleProbe, sf0.1 events ×10, full
    * base+changes derivation included): 0.21 → 0.52 s = 2.4×. */
  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      versionCol: String,
      opCol: String
  ): DataFrame = {
    val cols = base.columns
    require(changes.columns.contains(opCol) &&
      cols.forall(changes.columns.contains),
      s"changes must carry every base column plus $opCol")
    val tagged = base.withColumn(opCol, lit("U"))
      .unionByName(changes.select((cols :+ opCol).map(col): _*))
    val w = Window.partitionBy(keyCol)
      .orderBy(col(versionCol).desc, col(opCol).desc)
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .drop("__rn", opCol)
  }

  /** Temporal-consistency audit for SCD2-style validity tables — the
    * quality gate every slowly-changing dimension owes its consumers
    * before a point-in-time join ([[graft.ops.Joins.asofJoin]], q238)
    * trusts it: per key ordered by `fromCol`, count rows that
    *   - OVERLAP any earlier version (`from < max(to) over all
    *     predecessors` — two versions claim the same instant; an as-of
    *     join returns an arbitrary one). The RUNNING MAX matters: with
    *     only a lag-1 comparison, a long interval that outlives several
    *     successors ((0,100),(10,20),(30,40)) hides its overlap with row
    *     3 and even flags the covered instant 20–30 as a gap. An OPEN
    *     predecessor (null `to`) covers everything after its start, so
    *     any successor overlaps it — the running max treats null as +∞;
    *   - leave a GAP (`from > max(to) so far` with every earlier `to`
    *     closed — instants no version covers; an as-of join silently
    *     serves the stale row),
    *   - are OPEN (null `to`) while a successor exists — two "current"
    *     rows, the classic botched-merge symptom.
    * One key-partitioned window pass + a single global aggregate; output
    * is one row `(n_rows, n_overlap, n_gap, n_open_not_last)`. Generic
    * over any orderable from/to type (timestamps, micros longs, date
    * serials). A well-formed [[scd2]] output audits clean by
    * construction; gated by q269 against a deterministically CORRUPTED
    * history so every counter is exercised. */
  def temporalAudit(
      df: DataFrame, keyCol: String, fromCol: String, toCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("__f"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(keyCol).orderBy(col("__f"))
    df.select(col(keyCol), col(fromCol).as("__f"), col(toCol).as("__t"))
      // an open (null-to) predecessor covers all later instants: track it
      // separately, since max() skips nulls
      .withColumn("__pmax", max(col("__t")).over(w))
      .withColumn("__popen",
        coalesce(max(when(col("__t").isNull, lit(1)).otherwise(lit(0)))
          .over(w), lit(0)))
      .withColumn("__pany", count(lit(1)).over(w) > 0)
      .withColumn("__has_next", lead(col("__f"), 1).over(wNext).isNotNull)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("__pany") &&
            (col("__popen") === 1 || col("__f") < col("__pmax")), 1L)
          .otherwise(0L)).as("n_overlap"),
        sum(when(col("__pany") && col("__popen") === 0 &&
            col("__f") > col("__pmax"), 1L)
          .otherwise(0L)).as("n_gap"),
        sum(when(col("__t").isNull && col("__has_next"), 1L)
          .otherwise(0L)).as("n_open_not_last"))
  }
}
