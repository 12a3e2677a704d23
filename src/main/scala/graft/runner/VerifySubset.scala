package graft.runner

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, VerifyCore}
import graft.core.GraftSession

/** Builder-side iteration aid: run ONLY the named queries through the
  * Verify dump (parquet + oracle_sql.json subset), so a new gate can be
  * checked against `scripts/check_oracles.py` in seconds instead of
  * re-running the full registry. Same code path as [[graft.Verify]] —
  * VerifyCore is the shared seam — so a green subset here is exactly
  * what the driver's t2 gate will see for those queries.
  *
  * Run: `graft.runner.VerifySubset <sfDir> <outDir> <queryName> [...]`
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifySubset <sfDir> <outDir> <q> [...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(appName = "graft-verify-subset")
    new java.io.File(outDir).mkdirs()
    val subset = SparkEntry.queries.filter { case (k, _) => names(k) }
    val errors = VerifyCore.runQueries(spark, sfDir, outDir, subset)
    val json = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${VerifyCore.q(k)}: ${VerifyCore.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty)
      System.err.println(s"[verify-subset] FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
