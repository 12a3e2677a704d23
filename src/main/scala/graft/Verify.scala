package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure contract (round-6 hardening): a query that throws — including at
  * ANALYSIS time, before any job runs — must leave a loud, machine-readable
  * trace, not silently vanish. Round 5's lesson: a testdata encoding drift
  * made five queries fail analysis; they disappeared from the correctness
  * file and their fail-fast times were recorded as bench minima. Now every
  * failure lands in `outDir/errors.json` (name → exception message) and the
  * run ends with a summary line; `VerifyCore.runQueries` is the testable
  * seam (VerifySpec registers a deliberately-broken query against it). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name-prefix filter for local
    // single-query checks (the driver always runs the full registry)
    val Array(sfDir, outDir) = args.take(2)
    val prefixes = args.drop(2).headOption.map(_.split(',').toSeq)
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    def selected[V](m: Map[String, V]): Map[String, V] = prefixes match {
      case Some(ps) => m.filter { case (k, _) => ps.exists(k.startsWith) }
      case None => m
    }
    val errors = VerifyCore.runQueries(
      spark, sfDir, outDir, selected(SparkEntry.queries))
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${VerifyCore.q(k)}: ${VerifyCore.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size} QUERIES FAILED (see $outDir/errors.json): " +
          errors.keys.toSeq.sorted.mkString(", "))
    }
    spark.stop()
  }
}

/** Testable core of [[Verify]]: run each query, dump parquet, and write an
  * `errors.json` artifact for any that throw (analysis or execution). */
object VerifyCore {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Runs every query; returns name → error message for the failures.
    * Always (re)writes `outDir/errors.json` — an empty `{}` on a clean run,
    * so a stale file from a previous bad run can't masquerade as current. */
  def runQueries(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]
  ): Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg.take(500)
      } finally
        // a few queries persist() intermediates (q302/q306 pair frames,
        // Dedup.jaccardPairs internals); without this, a full-registry
        // sweep accumulates every cached RDD of all 300+ queries
        spark.catalog.clearCache()
    }
    val body = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), body)
    errors.toMap
  }

  /** Output-schema contract for the hash gate: the driver loads each
    * result into pandas, sorts rows by every column, and hashes the typed
    * values against DuckDB's. Two type families survive the round trip
    * with values equal but hashes broken, and both burned a round-6 query:
    * DecimalType (Spark decimal128 ≠ DuckDB HUGEINT in the driver's typed
    * compare — q253) and nested containers (pandas sort_values throws on
    * ndarray cells — q207). Binary cells don't reach pandas comparably
    * either. Queries must flatten to the hashable scalars: integral,
    * floating, string, boolean, date/timestamp. Returns the offending
    * `column: type` strings; VerifySpec sweeps every registered query's
    * schema through this at build time so the class of failure cannot
    * recur. */
  def unhashableColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.toSeq.collect {
      case f if (f.dataType match {
        case _: DecimalType | _: ArrayType | _: MapType | _: StructType |
             BinaryType => true
        case _ => false
      }) => s"${f.name}: ${f.dataType.simpleString}"
    }
  }
}
