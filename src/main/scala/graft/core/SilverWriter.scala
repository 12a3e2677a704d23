package graft.core

import org.apache.spark.sql.DataFrame

/** Writes the "silver" layer: JSON-array files per endpoint directory, the
  * layout [[SilverReader]] scans (reference helper/helper.py:35-47 saves a
  * pretty-printed JSON array per extraction drop).
  *
  * Distributed by construction: each task serializes its partition to ONE
  * JSON array string and the text sink writes one file per partition — no
  * driver collect, so a 100 TB endpoint fans out across executors and the
  * file count tracks the partition count (pair with
  * [[Compaction]] when repeated drops leave many small files).
  */
object SilverWriter {

  /** Register `root` for recursive deletion at JVM exit. For fixture
    * trees that must outlive the lazy DataFrames reading them (deleting
    * eagerly would break later materialization) but should not accumulate
    * across verify/bench runs. deleteOnExit deletes in reverse
    * registration order, so parents are registered before children. */
  def deleteOnExit(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.forEach(f => f.toFile.deleteOnExit())
      finally s.close()
    }
  }

  /** Write `df` as silver-layout JSON under `dir` (one array file per
    * non-empty partition). Round-trips through [[SilverReader.read]]'s
    * multiLine scan: `read(write(df)) == df` modulo the endpoint schema's
    * column set.
    *
    * Each file's array is assembled as ONE in-memory string per task, so
    * partition size bounds task memory: `maxRowsPerFile` caps it by
    * ALWAYS round-robin repartitioning to the computed file count —
    * comparing partition COUNTS instead would let one skewed incoming
    * partition (post-groupBy input) carry arbitrarily many rows and
    * build an unbounded string; round-robin is the only distribution
    * that makes the per-task bound hold regardless of input shape. The
    * count pass and shuffle are cheap next to the write itself. */
  def write(df: DataFrame, dir: String, maxRowsPerFile: Long = 500000): Unit = {
    import df.sparkSession.implicits._
    val json = df.toJSON
    val needed = math.max(1L,
      math.ceil(json.count().toDouble / maxRowsPerFile).toLong).toInt
    json.repartition(needed)
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else Iterator(it.mkString("[\n", ",\n", "\n]"))
      }
      .write.mode("overwrite").text(dir)
  }
}
