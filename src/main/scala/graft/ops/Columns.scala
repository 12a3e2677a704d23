package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Column-level conveniences mirroring the reference's pandasWrapper
  * surface (SURVEY.md §2.2): projection, rename, null-fill, conjure-if-absent.
  *
  * All of these are pure plan transformations — Catalyst folds the
  * `select`/`withColumn` chains into a single Project, so liberally using
  * them costs nothing at execution time.
  */
object Columns {

  /** `subset(df, cols)` — reference pandasWrapper.py:118-121 (P1). */
  def subset(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** `renameColumns` — reference pandasWrapper.py:124-125 (P2). */
  def rename(df: DataFrame, mapping: Map[String, String]): DataFrame =
    df.withColumnsRenamed(mapping)

  /** `replace_null_empty` — reference pandasWrapper.py:157-162: treats both
    * null and '' as missing. */
  def replaceNullOrEmpty(df: DataFrame, name: String, default: Column): DataFrame = {
    val base = if (df.columns.contains(name)) col(name) else lit(null)
    df.withColumn(name, when(base.isNull || base === "", default).otherwise(base))
  }

  /** `.astype(...)` (P8) applied to many columns at once. */
  def castAll(df: DataFrame, to: DataType, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(to)))
}
