package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reads the "silver" layer: one directory per endpoint per school year
  * holding JSON-array files (reference helper/helper.py:35-47 layout
  * `SILVER_DATA_LOCATION/<schoolYear>/<endpoint>/<endpoint>_<version>.json`).
  *
  * - Explicit schema from [[EndpointCatalog]]: declared columns always
  *   exist, malformed rows become nulls — the structural replacement for
  *   the reference's empty-frame machinery (pandasWrapper.py:58-61, 84-85).
  * - `multiLine` because each file is a pretty-printed JSON array
  *   (reference saves with `json.dumps(indent=4)`).
  * - A missing endpoint directory yields an EMPTY frame with the full
  *   schema (the reference returns '' and downstream conjures columns;
  *   SURVEY §7.4.1) — views then produce zero rows instead of failing.
  *
  * Scale: one scan task per file; at 100 TB the per-endpoint directories
  * are the partition unit (school year × endpoint), so selective loads
  * prune at the path level without touching data.
  */
final case class SilverReader(spark: SparkSession, silverRoot: String, schoolYear: String) {

  def endpointDir(endpoint: String): String =
    if (schoolYear.isEmpty) s"$silverRoot/$endpoint"
    else s"$silverRoot/$schoolYear/$endpoint"

  def read(endpoint: String): DataFrame = {
    val schema = EndpointCatalog.schema(endpoint)
    val dir = endpointDir(endpoint)
    // existence goes through the Hadoop FileSystem API, not java.nio:
    // nio sees only the local filesystem, so an s3://
    // silver root would read as "missing" for EVERY endpoint and
    // silently turn the whole lake into empty frames
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path) && fs.getFileStatus(path).isDirectory)
      spark.read.schema(schema).option("multiLine", "true").json(dir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
