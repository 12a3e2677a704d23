package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Continuous-refresh orchestration for the AMT gold pipeline — the engine's
  * answer to the reference's hourly Dagster schedule + always-true sensor
  * (reference dagster_config/schedules/schedule.py:8-10,
  * sensors/sensor.py:8-12), which rebuilds every view every hour whether or
  * not anything changed.
  *
  * Here a refresh is INCREMENTAL at three levels:
  *   - per iteration: the silver tree is fingerprinted PER ENDPOINT
  *     (file name, size, mtime under each `<silverRoot>/<year>/<endpoint>`
  *     directory), and an unchanged year skips entirely — the no-op costs
  *     one directory walk, no Spark jobs. The reference has no such check;
  *     its hourly cron re-reads and re-writes all 41 views unconditionally.
  *   - per view: when only SOME endpoints drifted (the delta-delivery
  *     norm), only the views those endpoints reach — directly or through
  *     view-on-view dependencies ([[affectedViews]] fixpoint) — are
  *     rebuilt and rewritten; untouched views' gold files are not opened.
  *   - per year (upstream): ingest driven by the change-version window
  *     ([[graft.ingest.ChangeVersionStore]]) only writes silver when the ODS
  *     advanced, which is exactly what makes the fingerprint short-circuit
  *     effective in a cron/loop deployment.
  *
  * Deployment shapes (README "Refresh loop"): `AmtRun ... --loop 3600` for a
  * self-contained hourly loop, or plain `AmtRun` from cron/Airflow — the
  * fingerprint state lives in `<goldRoot>/_state/`, so skip detection works
  * identically across process restarts.
  */
object AmtLoop {

  /** Per-ENDPOINT digests for one year: silver directory name → md5 of its
    * files' (name, size, mtime). The unit of change detection — a delta
    * delivery touches few endpoints, and only views reachable from those
    * endpoints need rebuilding. */
  def endpointFingerprints(
      silverRoot: String, schoolYear: String): Map[String, String] = {
    val root = Paths.get(silverRoot, schoolYear)
    if (!Files.isDirectory(root)) return Map.empty
    Files.list(root).iterator().asScala
      .filter(Files.isDirectory(_))
      .map { dir =>
        val entries = Files.list(dir).iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted
        val md = MessageDigest.getInstance("MD5")
        entries.foreach(e => md.update(e.getBytes("UTF-8")))
        dir.getFileName.toString -> md.digest().map("%02x".format(_)).mkString
      }
      .toMap
  }

  /** Views that must rebuild when `changed` endpoints drifted: direct
    * consumers plus the transitive view-on-view dependents (fixpoint over
    * the registry — e.g. a gradingPeriods delta reaches
    * mostRecentGradingPeriod through gradingPeriodDim). */
  def affectedViews(changed: Set[String]): Seq[String] = {
    var affected = AmtRegistry.all
      .filter(_.endpointDeps.exists(changed)).map(_.name).toSet
    var grown = true
    while (grown) {
      val next = AmtRegistry.all
        .filter(v => !affected(v.name) && v.viewDeps.exists(affected))
        .map(_.name)
      grown = next.nonEmpty
      affected ++= next
    }
    AmtRegistry.all.map(_.name).filter(affected) // registry order
  }

  private def readFingerprints(marker: Path): Option[Map[String, String]] = {
    if (!Files.exists(marker)) return None
    val lines = Files.readString(marker).linesIterator.toSeq.filter(_.nonEmpty)
    // legacy single-hash files (no per-endpoint rows) → unknown state
    if (!lines.forall(_.contains('|'))) return None
    Some(lines.map { l =>
      val i = l.lastIndexOf('|'); l.take(i) -> l.drop(i + 1)
    }.toMap)
  }

  private def writeFingerprints(marker: Path, fps: Map[String, String]): Unit = {
    Files.createDirectories(marker.getParent)
    Files.writeString(marker,
      fps.toSeq.sorted.map { case (k, v) => s"$k|$v" }.mkString("\n"))
  }

  private def stateFile(goldRoot: String, schoolYear: String): Path =
    Paths.get(goldRoot, "_state", s"$schoolYear.fingerprint")

  /** Build + write gold for one year IF its silver changed since the last
    * recorded build. Returns true when a rebuild ran, false on the no-op
    * path. The fingerprint is recorded only AFTER a successful writeAll, so
    * a crashed build retries on the next iteration rather than being
    * skipped.
    *
    * Overlap guard: a cron schedule whose interval is shorter than a build
    * (the reference's hourly job has exactly this failure mode — two
    * Dagster runs racing the same gold folder) is fenced by a per-year
    * lock file created atomically; a second runner skips the year, and a
    * crashed holder's lock goes stale after `lockStaleMillis` and is taken
    * over rather than wedging the pipeline forever. */
  def runOnce(
      spark: SparkSession,
      silverRoot: String,
      goldRoot: String,
      schoolYear: String,
      lockStaleMillis: Long = 6 * 3600 * 1000L
  ): Boolean = {
    val fps = endpointFingerprints(silverRoot, schoolYear)
    val marker = stateFile(goldRoot, schoolYear)
    val previous = readFingerprints(marker)
    // changed in EITHER direction: new/modified endpoints and removals
    val changed = previous match {
      case None => fps.keySet // plus "rebuild everything" below
      case Some(prev) =>
        (fps.keySet ++ prev.keySet).filter(k => fps.get(k) != prev.get(k))
    }
    if (previous.isDefined && changed.isEmpty) return false
    // selective rebuild: first-ever build (or legacy/unknown state) takes
    // every view; an incremental delta takes only the views the changed
    // endpoints reach (directly or through view-on-view deps)
    val views = previous match {
      case None => AmtRegistry.all.map(_.name)
      case Some(_) => affectedViews(changed)
    }
    if (views.isEmpty) { // drifted endpoints that no view consumes
      writeFingerprints(marker, fps)
      return false
    }
    val lock = Paths.get(goldRoot, "_state", s"$schoolYear.lock")
    Files.createDirectories(lock.getParent)
    if (!acquireLock(lock, lockStaleMillis)) return false
    try {
      val pipeline = new AmtPipeline(spark, silverRoot, schoolYear)
      try pipeline.writeViews(views, goldRoot)
      finally pipeline.release()
      writeFingerprints(marker, fps)
      true
    } finally Files.deleteIfExists(lock)
  }

  /** Atomically create the lock file; on failure, take over only a STALE
    * lock (mtime older than `staleMillis` — a crashed holder). */
  private def acquireLock(lock: Path, staleMillis: Long): Boolean = {
    def tryCreate(): Boolean =
      try { Files.createFile(lock); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (tryCreate()) return true
    val stale =
      try System.currentTimeMillis() -
        Files.getLastModifiedTime(lock).toMillis > staleMillis
      catch { case _: java.nio.file.NoSuchFileException => true }
    if (!stale) return false
    Files.deleteIfExists(lock)
    tryCreate()
  }

  /** Run `runOnce` for every year, sleep, repeat. `maxIterations` bounds the
    * loop for tests and one-shot catch-ups; `Int.MaxValue` = run forever
    * (the cron-less deployment). `sleep` is injectable so tests don't wait.
    * Returns per-iteration rebuild counts (how many years actually built). */
  def loop(
      spark: SparkSession,
      silverRoot: String,
      goldRoot: String,
      years: Seq[String],
      intervalMillis: Long,
      maxIterations: Int = Int.MaxValue,
      sleep: Long => Unit = Thread.sleep
  ): Seq[Int] = {
    val counts = Seq.newBuilder[Int]
    var i = 0
    while (i < maxIterations) {
      val rebuilt = years.count(y => runOnce(spark, silverRoot, goldRoot, y))
      counts += rebuilt
      i += 1
      if (i < maxIterations) sleep(intervalMillis)
    }
    counts.result()
  }

  /** File-arrival sensor — the event-driven twin of [[loop]] and the
    * engine's answer to the reference's always-true Dagster sensor
    * (reference dagster_config/sensors/sensor.py:8-12, which ticks every
    * 30s and rebuilds unconditionally): block on a filesystem
    * WatchService over the silver tree, and refresh ONLY when something
    * actually lands. Each wake runs the same [[runOnce]] change
    * detection, so a burst of deliveries that nets out to no endpoint
    * drift still no-ops, and a single dropped file rebuilds exactly the
    * views its endpoint reaches.
    *
    * Mechanics: every directory under `silverRoot` is registered
    * (new directories are registered as their create events arrive, so a
    * brand-new endpoint folder is watched from birth); after the first
    * event of a batch, the sensor lets the delivery SETTLE for
    * `settleMillis` and drains everything queued (multi-file drops fire
    * one refresh, not one per file). Returns the per-wake rebuild counts.
    * `maxEvents` bounds the life of the sensor for tests/one-shot
    * deployments; `idleTimeoutMillis` ends it after a quiet period. */
  def sensor(
      spark: SparkSession,
      silverRoot: String,
      goldRoot: String,
      years: Seq[String],
      maxEvents: Int = Int.MaxValue,
      idleTimeoutMillis: Long = Long.MaxValue,
      settleMillis: Long = 100L
  ): Seq[Int] = {
    import java.nio.file.StandardWatchEventKinds._
    val watcher = Paths.get(silverRoot).getFileSystem.newWatchService()
    def register(dir: Path): Unit =
      dir.register(watcher, ENTRY_CREATE, ENTRY_MODIFY, ENTRY_DELETE)
    // The walk stream must be closed (it holds directory handles), and a
    // racing delete mid-walk surfaces as NoSuchFileException /
    // UncheckedIOException — swallow it: the deleted directory needs no
    // watch, and the sensor must outlive the race.
    def registerTree(root: Path): Unit =
      if (Files.isDirectory(root)) {
        try {
          val walk = Files.walk(root)
          try walk.iterator().asScala
            .filter(Files.isDirectory(_)).foreach(register)
          finally walk.close()
        } catch {
          case _: java.nio.file.NoSuchFileException => ()
          case _: java.io.UncheckedIOException => ()
        }
      }
    registerTree(Paths.get(silverRoot))
    val counts = Seq.newBuilder[Int]
    var handled = 0
    try {
      while (handled < maxEvents) {
        val key = watcher.poll(idleTimeoutMillis,
          java.util.concurrent.TimeUnit.MILLISECONDS)
        if (key == null) return counts.result() // quiet period: sensor ends
        // settle, then drain the whole delivery burst into ONE refresh;
        // register any new directories so future drops inside them wake us
        Thread.sleep(settleMillis)
        var k = key
        while (k != null) {
          val dir = k.watchable().asInstanceOf[Path]
          k.pollEvents().asScala.foreach { ev =>
            ev.context() match {
              case p: Path =>
                val child = dir.resolve(p)
                if (Files.isDirectory(child)) registerTree(child)
              case _ => ()
            }
          }
          k.reset()
          k = watcher.poll()
        }
        counts += years.count(y => runOnce(spark, silverRoot, goldRoot, y))
        handled += 1
      }
      counts.result()
    } finally watcher.close()
  }
}
