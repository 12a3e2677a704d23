package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-sensitive string aggregation (SURVEY.md §2.4 A7, §7.4.3).
  *
  * The reference sorts, then relies on pandas' stable groupby to join values
  * in that order (reference parquet/amt/equity/student_history_dim/main.py:
  * 101-117; base/student_section_dim/main.py:274). Spark's `collect_list` is
  * nondeterministic without an explicit order, so the sort keys are encoded
  * INTO the aggregation: collect (sortKey…, value) structs, `array_sort`
  * within each group, then join.
  *
  * Scale notes: this is one hash-shuffle on the group keys — no window, no
  * second sort-shuffle. `array_sort` runs per-group in memory, which is the
  * right trade as long as single groups fit an executor (true for all the
  * reference's uses: values are per-student/per-section lists). Entirely
  * built-ins — no UDAF, no codegen break.
  */
object OrderedAgg {

  /** Expression form: `string_agg(value, sep ORDER BY sortKeys…)`.
    * Descending keys: negate numeric keys (strings have no cheap
    * order-reversal, so give a string key a numeric surrogate first,
    * e.g. a dateKey cast to long).
    *
    * The value itself is the last struct field, so ties on the sort keys
    * fall back to ordering by value — fully deterministic even when sort
    * keys repeat (SQL mirrors must spell that tiebreak out: `ORDER BY
    * keys…, value`).
    */
  def stringAgg(value: Column, sep: String, sortKeys: Column*): Column = {
    val fields = sortKeys.zipWithIndex.map { case (k, i) => k.as(s"k$i") } :+ value.as("v")
    array_join(
      transform(array_sort(collect_list(struct(fields: _*))), s => s.getField("v")),
      sep
    )
  }

  /** DataFrame form used by the views. */
  def apply(
      df: DataFrame,
      groupKeys: Seq[String],
      valueCol: String,
      sep: String,
      sortKeys: Seq[Column],
      as: String
  ): DataFrame =
    df.groupBy(groupKeys.map(col): _*)
      .agg(stringAgg(col(valueCol), sep, sortKeys: _*).as(as))
}
