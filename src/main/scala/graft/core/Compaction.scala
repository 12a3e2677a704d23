package graft.core

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directories — the maintenance pass a
  * filesystem lake needs once writers append: each append lands a file per
  * partition, and at 100 TB a table read eventually spends more time
  * opening files than scanning bytes.
  *
  * Strategy: size the target partition count from the directory's actual
  * bytes (not file count), rewrite into a sibling `.compacting` directory,
  * then swap via rename. All filesystem work goes through the Hadoop
  * FileSystem API resolved from the table's own path (the SilverReader
  * convention), so the same code compacts a local dir, HDFS, or an
  * s3a:// prefix — java.nio would see only the local disk and call every
  * remote table "not a directory". Renames are atomic on POSIX and HDFS;
  * on S3 they are copies, which widens the swap window — on object
  * stores prefer the store's atomic-commit primitive for the swap step.
  */
object Compaction {

  /** Rewrite `path` into files of ~`targetMB` each. Returns the resulting
    * partition count. Row order within the table is not preserved (parquet
    * directories carry no order contract); row CONTENT is, verified by the
    * caller's reads.
    *
    * The swap is rename-aside-then-rename-in, never delete-then-rename:
    * the old directory moves to `.old` in one rename, the rewrite moves
    * into place in a second, and only then is `.old` deleted — a crash
    * between the renames leaves either the old or the new table at `path`
    * (plus a recoverable sibling), never a window with NO table, which
    * delete-first would open. */
  def compact(spark: SparkSession, path: String, targetMB: Int = 512): Int =
    compactWith(spark, path, targetMB, (df, parts) => df.repartition(parts))

  /** Compaction + Z-order clustering in ONE rewrite — the OPTIMIZE …
    * ZORDER BY maintenance pass: since compaction already pays the full
    * read-rewrite, adding the [[graft.ops.Layout]] clustering layout is
    * free I/O-wise, and the rewritten files' min/max footers then prune
    * box predicates on every `dims` column (PlanSpec measures the
    * skipping). Range-partitioned on the Morton key — a hash
    * repartition would hand every file the full min/max span and prune
    * nothing. `bits`/`dims` as in [[graft.ops.Layout.zorderKey]];
    * pre-scale wide or real-valued dims with `scaleToBits`-shaped
    * expressions at the call site. */
  def compactZorder(
      spark: SparkSession,
      path: String,
      dims: Seq[String],
      targetMB: Int = 512,
      bits: Int = 16
  ): Int =
    compactWith(spark, path, targetMB, (df, parts) => {
      import org.apache.spark.sql.functions.col
      df.withColumn("__z", graft.ops.Layout.zorderKey(dims.map(col), bits))
        .repartitionByRange(parts, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    })

  private def compactWith(
      spark: SparkSession,
      path: String,
      targetMB: Int,
      layout: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame
  ): Int = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir) && fs.getFileStatus(dir).isDirectory,
      s"not a directory: $path")
    val bytes = fs.getContentSummary(dir).getLength
    val parts = math.max(1L, bytes / (targetMB.toLong * 1024 * 1024)).toInt
    val tmp = new Path(path + ".compacting")
    val old = new Path(path + ".old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    layout(Lake.open(spark, path), parts)
      .write.mode("overwrite").parquet(tmp.toString)
    // Hadoop FileSystem.rename reports failure by RETURNING FALSE, not
    // throwing — unchecked, a failed rename-aside would report success
    // with the table unswapped, and a failed rename-in would let the
    // delete below destroy the renamed-aside original while `path` holds
    // no table (exactly the window the rename-aside design exists to
    // close). Check both; on a failed rename-in, restore the original
    // before raising so the caller is never left table-less.
    require(fs.rename(dir, old), s"compact: rename $dir -> $old failed")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // best-effort restore of the original
      throw new java.io.IOException(s"compact: rename $tmp -> $dir failed")
    }
    // only drop the aside copy once the new table is verifiably in place
    require(fs.exists(dir), s"compact: $dir missing after swap")
    fs.delete(old, true)
    parts
  }
}
