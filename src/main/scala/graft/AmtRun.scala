package graft

import graft.core.GraftSession
import graft.runner.AmtPipeline

/** CLI entry for the AMT gold pipeline — the Spark equivalent of the
  * reference's `generate_parquet` Dagster op (amt_parquet.py:20-41):
  * read silver JSON for each school year, build every registered view,
  * write gold parquet.
  *
  * Usage: AmtRun <silverRoot> <goldRoot> <schoolYear>...
  *               [--loop <seconds> | --sensor]
  *
  * With `--loop`, the process stays up and refreshes on the interval —
  * the reference's hourly schedule (dagster_config/schedules/
  * schedule.py:8-10) without the Dagster daemon — and each iteration
  * skips years whose silver tree is byte-identical to the last build
  * ([[graft.runner.AmtLoop]] fingerprints; the reference rebuilds
  * unconditionally every hour). With `--sensor`, the process blocks on a
  * filesystem watch over the silver tree and refreshes when files
  * actually land — the reference's always-true sensor
  * (dagster_config/sensors/sensor.py:8-12) made event-driven instead of
  * poll-and-rebuild. Without either it runs once, which is the
  * cron/Airflow shape: the fingerprint state persists under
  * `<goldRoot>/_state/`, so even cron-driven runs no-op on unchanged
  * silver.
  */
object AmtRun {
  def main(args: Array[String]): Unit = {
    val loopIdx = args.indexOf("--loop")
    val sensorMode = args.contains("--sensor")
    val (positional, intervalSec) =
      if (loopIdx >= 0) {
        require(loopIdx + 1 < args.length, "--loop requires <seconds>")
        (args.take(loopIdx) ++ args.drop(loopIdx + 2),
          Some(args(loopIdx + 1).toLong))
      } else (args.filterNot(_ == "--sensor"), None)
    require(positional.length >= 3,
      "usage: AmtRun <silverRoot> <goldRoot> <schoolYear>... " +
        "[--loop <seconds> | --sensor]")
    require(!(sensorMode && intervalSec.isDefined),
      "--loop and --sensor are mutually exclusive")
    val silverRoot = positional(0)
    val goldRoot = positional(1)
    val years = positional.drop(2).toSeq
    val spark = GraftSession.local(appName = "graft-amt")
    intervalSec match {
      case None if sensorMode =>
        println(s"[amt] file-arrival sensor on $silverRoot over years " +
          years.mkString(", "))
        graft.runner.AmtLoop.sensor(spark, silverRoot, goldRoot, years)
      case None =>
        years.foreach { year =>
          val built = graft.runner.AmtLoop.runOnce(spark, silverRoot, goldRoot, year)
          println(s"[amt] school year $year -> $goldRoot/$year" +
            (if (built) "" else " (unchanged, skipped)"))
        }
      case Some(sec) =>
        println(s"[amt] refresh loop every ${sec}s over years ${years.mkString(", ")}")
        graft.runner.AmtLoop.loop(
          spark, silverRoot, goldRoot, years, sec * 1000L)
    }
    spark.stop()
  }
}
