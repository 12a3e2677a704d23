package graft.core

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Thin accessor over a directory of parquet tables (one file/dir per table),
  * the layout of both the driver's synthetic test data
  * (/root/testdata/sf0.01/&lt;table&gt;.parquet, TESTDATA.md) and the reference's
  * "gold" layer (one parquet per view per school year,
  * reference parquet/Common/pandasWrapper.py:128-135).
  *
  * Tables open through [[Lake.open]]: one footer read on the driver, then
  * `spark.read.schema(s).parquet`. Catalyst keeps full pushdown: filters
  * and column pruning reach the scan (`PushedFilters`/`ReadSchema`), which
  * is the property that matters at 100 TB — a query that touches 2 of 16
  * lineitem columns must only read 2 column chunks.
  */
final case class Lake(spark: SparkSession, dir: String) {
  /** One normalization point for the whole engine: every TIMESTAMP_NTZ
    * column is cast to TIMESTAMP at scan time. The driver's generator writes
    * parquet `timestamp[us]` with `isAdjustedToUTC=false`, which Spark 4
    * infers as TIMESTAMP_NTZ — a type `unix_micros()` and friends reject at
    * analysis time (the round-5 five-query regression). The session TZ is
    * pinned UTC (GraftSession), so the cast is a deterministic wall-clock
    * identity, and the DuckDB oracle (which reads the same parquet as naive
    * timestamps) sees identical values. The cast happens BEFORE any filter,
    * and Catalyst still pushes predicates on untouched columns to the scan;
    * timestamp predicates compare post-cast, same as the pre-drift plans. */
  def table(name: String): DataFrame = {
    val df = Lake.open(spark, s"$dir/$name.parquet")
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.col(c).cast("timestamp")))
  }

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  /** Normalizes `ts` to TimestampType no matter which parquet encoding the
    * generator used. Encodings observed across testdata regenerations:
    *   - TIMESTAMP(NANOS) → long nanos under
    *     spark.sql.legacy.parquet.nanosAsLong (no native Spark type),
    *     converted losslessly here (the data is micro-aligned);
    *   - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ, handled by
    *     [[table]]'s generic NTZ cast;
    *   - plain TIMESTAMP, passed through.
    * Downstream micro-arithmetic (sessionization, as-of/range joins,
    * funnels, SCD2) relies on this contract; LakeSpec pins it so the next
    * encoding drift fails at the Lake layer with a clear message, not five
    * queries deep. */
  def events: DataFrame = {
    val e = table("events")
    import org.apache.spark.sql.functions.expr
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        e.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => e
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Lake {
  /** Opens a parquet table without a Spark job. Plain `spark.read.parquet`
    * infers the schema inside a one-task job that reads one footer
    * (`SchemaMergeUtils.mergeSchemasInParallel`), so every open costs a
    * job before the query starts: on a gold point lookup, half its time.
    *
    * The one-footer contract, the same as Spark's non-merging inference:
    *   - data files are listed through the Hadoop `FileSystem`; names
    *     starting with `_` (unless they hold `=`) or `.` are skipped, and
    *     `k=v` partition directories are walked into;
    *   - the schema is that of the first data file by path, read on the
    *     driver with Spark's own footer-to-schema code ([[FooterSchema]]);
    *   - it is handed to `spark.read.schema(s).parquet(path)`, so partition
    *     columns are still discovered from the paths, and filters, column
    *     pruning and `PushedFilters` are what inference would give.
    *
    * Whenever the shortcut cannot apply — no data file, a missing path, an
    * unreadable footer, or `spark.sql.parquet.mergeSchema` on — the call
    * is plain `spark.read.parquet(path)`, so users see the same schema or
    * the same error as before. Nothing is memoized: each open sees the
    * files on disk at that moment. */
  def open(spark: SparkSession, path: String): DataFrame = {
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else Try {
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        dataFiles(fs, fs.getFileStatus(root)).minByOption(_.getPath.toString)
          .map(FooterSchema.read(spark, _))
      }.toOption.flatten
    schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
  }

  private def dataFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isFile) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot { c =>
        val n = c.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
      }
      .flatMap(dataFiles(fs, _))
}
