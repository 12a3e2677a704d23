package graft.runner

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lake, SilverWriter}
import graft.ops.{Dedup, IncrementalGold, Stats}
import graft.views.ViewContext
import graft.runner.Measure.{minOf, noop, sfDir}

/** The parameter sets behind `Measure probe <name> [args]`: the scale
  * questions that an open ROADMAP item still asks. Each prints one JSON
  * line (scale also prints a key-skew table). Probes whose questions are
  * answered were retired; BENCH_NOTES "Retired measurement probes" names
  * each one's question and where its numbers are recorded.
  *
  *   - `concurrency` — writeAll at 1/2/4/8 writer threads.
  *   - `scale [k]` — the view spine at k× students (skew).
  *   - `incremental-gold [students1x] [deltaStudents] [deleteCount]` —
  *     full rebuild vs incremental gold refresh.
  *   - `dedup-scale [replicas]` — q169/q171/q306 growth factors. */
object Probes {
  def run(spark: SparkSession, name: String, args: Seq[String]): Unit = {
    def arg(i: Int, default: Long): Long = args.lift(i).fold(default)(_.toLong)
    name match {
      case "concurrency" => concurrency(spark)
      case "scale" => scale(spark, arg(0, 10).toInt)
      case "incremental-gold" =>
        incrementalGold(spark, arg(0, 100000L), arg(1, 1000L), arg(2, 200L))
      case "dedup-scale" => dedupScale(spark, arg(0, 10).toInt)
      case other => sys.error(s"unknown probe: $other")
    }
  }

  private def tempDir(prefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    SilverWriter.deleteOnExit(tmp)
    tmp
  }

  private def emptyEndpoint(spark: SparkSession, name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], graft.core.EndpointCatalog.schema(name))

  /** Does the 41-view writeAll keep executors busy from several driver
    * threads? The full writeAll over the bench's derived silver tree at
    * parallelism 1/2/4/8, a fresh [[AmtPipeline]] (cold memoized DAG) and
    * gold dir per run, min of 3. The speedup stays well below Amdahl's
    * ideal: the memoized `view` resolver is synchronized and the deep
    * EWS/chrab DAG shares its spine across most views. Results:
    * BENCH_NOTES "writeAll spine scheduling" and the writeAll scaladoc. */
  private def concurrency(spark: SparkSession): Unit = {
    val sf = sfDir("sf0.1")
    val tmp = tempDir("graft-conc-probe")
    graft.Bench.deriveSilver(spark, sf, s"$tmp/silver")
    var goldN = 0
    def run(par: Int): Unit = {
      goldN += 1
      new AmtPipeline(spark, s"$tmp/silver", "1995").writeAll(s"$tmp/gold$goldN", parallelism = par)
    }
    val results = Seq(1, 2, 4, 8).map { par =>
      run(par) // warm plan/codegen paths
      f""""par$par":${minOf(spark, 3)(run(par))}%.3f"""
    }
    println(s"""{"probe":"view-concurrency","sf":"$sf",${results.mkString(",")}}""")
  }

  /** How do the deep spine views (EWS fact, chrab fact) behave when the
    * bench's enrollment/calendar/attendance endpoints carry k× the
    * students over a fixed school set? The hot school's key weight grows
    * k×, so this exercises the skew path, not just volume; the key-skew
    * table of the spine key at k× is the input to a salting decision.
    * Results: the StudentEarlyWarningFact scaladoc. */
  private def scale(spark: SparkSession, k: Int): Unit = {
    val sf = sfDir("sf0.01")
    val spine = Set("studentSchoolAssociations", "calendarDates", "studentSchoolAttendanceEvents")
    def endpoints(k: Int) = graft.Bench.silverFrames(spark, sf, k).filter(e => spine(e._1))
    def runView(k: Int, view: String): (Double, Long) = {
      val eps = endpoints(k)
      lazy val ctx: ViewContext = ViewContext(spark,
        endpoint = n => eps.getOrElse(n, emptyEndpoint(spark, n)),
        view = n => AmtRegistry.byName(n).build(ctx))
      val t0 = System.nanoTime()
      val rows = ctx.view(view).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    Seq("ews_studentEarlyWarningFact", "chrab_chronicAbsenteeismAttendanceFact").foreach { view =>
      val (w1, r1) = runView(1, view) // warm plan paths
      val (t1, _) = runView(1, view)
      val (tk, rk) = runView(k, view)
      println(f"""{"view":"$view","rows_1x":$r1,"t_1x":$t1%.2f,"rows_${k}x":$rk,"t_${k}x":$tk%.2f,"factor":${tk / t1}%.2f,"warm":$w1%.2f}""")
    }
    // the hot school's share of the spine key at k×
    val enr = endpoints(k)("studentSchoolAssociations")
      .select(col("schoolReference.schoolId").as("schoolId"))
    Stats.keySkew(enr, "schoolId", topN = 3).show(false)
  }

  /** How does [[IncrementalGold.refreshView]] grow against a full
    * rebuild? The EWS fact advanced by a FIXED-SIZE change batch against a
    * student corpus at 1× and 10×, two arms:
    *
    *   - `full`: recompute the whole view over the post-CDC endpoints;
    *   - `incr`: [[IncrementalGold.refreshView]] — rebuild only the
    *     affected students' slice and anti-merge it into the old gold
    *     (shuffle-free but scan-bound: every corpus parquet read whole).
    *
    * The probe prints the layout MB with the arm times. Standing state
    * (old gold, endpoint snapshots) is untimed.
    *
    * Fixture: student i enrolled at school i%25, a 31-day January-1995
    * calendar (every 5th day a holiday), 4 attendance events per student.
    * The batch upserts 4 fresh events for `deltaStudents` students and
    * deletes `deleteCount` enrollments through the `/deletes` id feed.
    * Results: IncrementalGold's scaladoc and BENCH_NOTES "Incremental
    * gold: one refresh path". */
  private def incrementalGold(
      spark: SparkSession, n1x: Long, deltaStudents: Long, deleteCount: Long): Unit = {
    def ssaRows(until: Long): DataFrame = spark.range(0L, until).select(
      col("id").cast("string").as("id"),
      struct((col("id") % 25).as("schoolId")).as("schoolReference"),
      struct(lit(1995L).as("schoolYear")).as("schoolYearTypeReference"),
      struct(col("id").cast("string").as("studentUniqueId")).as("studentReference"),
      lit("1995-01-05").as("entryDate"),
      lit(null).cast("string").as("exitWithdrawDate"))
    // 4 events per student; `gen` keeps delta event ids apart from initial
    def attRows(until: Long, gen: Long): DataFrame =
      spark.range(0L, until).select(col("id"), explode(sequence(lit(0L), lit(3L))).as("j"))
        .select(
          concat(lit(s"g$gen-"), col("id"), lit("-"), col("j")).as("id"),
          struct((col("id") % 25).as("schoolId")).as("schoolReference"),
          struct(col("id").cast("string").as("studentUniqueId")).as("studentReference"),
          concat(lit("1995-01-"),
            lpad(((col("id") + col("j") + gen) % 20 + 6).cast("string"), 2, "0"))
            .as("eventDate"),
          concat(lit("uri://ed-fi.org/AttendanceEventCategoryDescriptor#"),
            element_at(array(lit("In Attendance"), lit("Tardy"),
              lit("Excused Absence"), lit("Unexcused Absence")),
              ((col("id") + col("j")) % 4 + 1).cast("int")))
            .as("attendanceEventCategoryDescriptor"))
    val cal = spark.range(1, 32).crossJoin(spark.range(0, 25).toDF("school"))
      .select(
        struct(col("school").as("schoolId"), lit(1995L).as("schoolYear"))
          .as("calendarReference"),
        concat(lit("1995-01-"), lpad(col("id").cast("string"), 2, "0")).as("date"),
        array(struct(
          when(col("id") % 5 =!= 0,
            "uri://ed-fi.org/CalendarEventDescriptor#Instructional day")
            .otherwise("uri://ed-fi.org/CalendarEventDescriptor#Holiday")
            .as("calendarEventDescriptor"))).as("calendarEvents"))

    val tmp = tempDir("graft-igold")
    val view = graft.views.ews.StudentEarlyWarningFact
    val scope = IncrementalGold.ewsFactScope
    val studentOf = (df: DataFrame) => df("studentReference.studentUniqueId")
    def spineOver(ssa: DataFrame, att: DataFrame): String => DataFrame = {
      val eps = Map("studentSchoolAssociations" -> ssa, "calendarDates" -> cal,
        "studentSchoolAttendanceEvents" -> att)
      n => eps.getOrElse(n, emptyEndpoint(spark, n))
    }
    def buildOver(ssa: DataFrame, att: DataFrame): DataFrame = view.build(ViewContext(spark,
      endpoint = spineOver(ssa, att), view = n => sys.error(s"unexpected view dep: $n")))
    def dirBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
    }

    val results = Seq(1 -> n1x, 10 -> n1x * 10).map { case (x, n) =>
      // ---- untimed: the standing lake state at this corpus size
      val Seq(ssaPath, attPath, goldPath) = Seq("ssa", "att", "gold").map(l => s"$tmp/${l}_$x")
      ssaRows(n).write.mode("overwrite").parquet(ssaPath)
      attRows(n, 0L).write.mode("overwrite").parquet(attPath)
      val ssa = Lake.open(spark, ssaPath)
      val att = Lake.open(spark, attPath)
      buildOver(ssa, att).write.mode("overwrite").parquet(goldPath)
      val oldGold = Lake.open(spark, goldPath)
      val layoutBytes = Seq(ssaPath, attPath, goldPath).map(dirBytes)

      // ---- the fixed-size CDC batch (same absolute size at every scale)
      val attUpserts = attRows(deltaStudents, 1L)
      val ssaDelIds = spark.range(n - deleteCount, n).select(col("id").cast("string").as("id"))
      val attBatch = IncrementalGold.CdcBatch(attUpserts, att.select(col("id")).limit(0))
      val ssaBatch = IncrementalGold.CdcBatch(ssa.limit(0), ssaDelIds)
      def newSsa = IncrementalGold.applyCdc(ssa, ssaBatch)
      def newAtt = IncrementalGold.applyCdc(att, attBatch)

      def runFull(): Unit = noop(buildOver(newSsa, newAtt))
      def runIncr(): Unit = {
        val affected = IncrementalGold.affectedScopes(Seq((attUpserts, studentOf)), spark)
          .unionByName(IncrementalGold.deleteScopes(ssa, ssaDelIds, studentOf))
          .distinct()
        noop(IncrementalGold.refreshView(scope, oldGold,
          newEndpoint = spineOver(newSsa, newAtt), affected = affected))
      }
      runFull(); runIncr() // warm plan paths
      val fu = minOf(spark, 3)(runFull())
      val in = minOf(spark, 3)(runIncr())
      f""""x$x":{"students":$n,"layout_mb":[${layoutBytes.map(b => f"${b / 1e6}%.1f").mkString(",")}],"full":$fu%.3f,"incr":$in%.3f}"""
    }
    println(s"""{"probe":"incremental-gold","deltaStudents":$deltaStudents,"deleteCount":$deleteCount,${results.mkString(",")}}""")
  }

  /** How do the dedup heavyweights grow at N× corpus? q169 shared spans,
    * q171 ensemble dedup (exact + Jaccard + span pairs into one CC) and
    * q306 threshold profile (one ≥0.70 pair frame, three CC passes), plus
    * the q309/q313 sampled-recall and tuning-report shapes; all expected
    * ~linear, since every pair source is df- or threshold-bounded.
    *
    * Replicating documents verbatim would give every doc N−1 duplicates
    * and grow pairs ~N² by construction. Replica k instead prefixes every
    * word with `r<k>_`, keeping shingle spaces disjoint: the N× corpus has
    * N× the rows AND N× the true pairs. Every 25th doc gets a planted
    * phrase tail (the q169/q171 fixture) so multi-shingle spans occur.
    * Results: BENCH_NOTES "Round-9 scale probe (DedupScaleProbe …)" and
    * the query scaladocs. */
  private def dedupScale(spark: SparkSession, replicas: Int): Unit = {
    val sf = sfDir("sf0.1")
    val phraseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val phraseB = "north south east west upper lower inner outer front back"
    def plain: DataFrame = Lake(spark, sf).documents.select("doc_id", "text", "n_chars")
    def phrased: DataFrame = Lake(spark, sf).documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(25)) === 0,
        concat(col("text"), lit(" "),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(phraseA)).otherwise(lit(phraseB))))
        .otherwise(col("text")).as("text"),
      col("n_chars"))
    def docsNx(base: DataFrame, n: Int): DataFrame =
      base.crossJoin(broadcast(spark.range(n.toLong).select(col("id").as("replica"))))
        .select(
          (col("doc_id") + col("replica") * 700000L).as("doc_id"),
          concat(lit("r"), col("replica"), lit("_"),
            regexp_replace(col("text"), lit(" "),
              concat(lit(" r"), col("replica"), lit("_")))).as("text"),
          col("n_chars"))

    def spans(d: DataFrame): DataFrame = Dedup.sharedSpans(d, "doc_id", "text", n = 3, maxDf = 30L)
    def ensemble(d: DataFrame): DataFrame = {
      val jac = Dedup.jaccardPairs(Dedup.shingles(d, "doc_id", "text", 3), 0.8)
        .select("doc_a", "doc_b")
      val fp = d.select(col("doc_id"), md5(col("text")).as("__fp"))
      val exact = fp.as("a")
        .join(fp.as("b"), col("a.__fp") === col("b.__fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val sp = spans(d).filter(col("longest_span_tokens") >= 6).select("doc_a", "doc_b")
      val clusters = Dedup.dupClusters(d.select("doc_id"),
        jac.unionByName(exact).unionByName(sp).distinct())
      Dedup.keepCanonical(clusters, d.select("doc_id", "n_chars"), "n_chars")
    }
    def thresholdProfile(d: DataFrame): DataFrame = {
      val allPairs = Dedup.jaccardPairs(Dedup.shingles(d, "doc_id", "text", 3), 0.70)
        .select("doc_a", "doc_b", "jaccard")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Seq(70, 80, 90).map { pct =>
        val pairsT = allPairs.filter(col("jaccard") >= pct / 100.0).select("doc_a", "doc_b")
        Dedup.dupClusters(d.select("doc_id"), pairsT)
          .groupBy("cluster_id").agg(first(col("cluster_size")).as("csz"))
          .agg(
            coalesce(sum(when(col("csz") > 1, col("csz"))), lit(0L)).as("docs_in_dups"),
            sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_clusters"),
            max(col("csz")).as("max_cluster_size"))
          .crossJoin(broadcast(pairsT.agg(count(lit(1)).as("n_pairs"))))
          .select(lit(pct.toLong).as("threshold_pct"), col("n_pairs"),
            col("docs_in_dups"), col("n_clusters"), col("max_cluster_size"))
      }.reduce(_.unionByName(_))
    }

    val arms: Seq[(String, Int => DataFrame)] = Seq(
      "shared_spans" -> (n => spans(docsNx(phrased, n))),
      "sampled_recall" -> (n => Dedup.lshRecallSampled(docsNx(plain, n),
        "doc_id", "text", frac = 0.5, salt = "probe")),
      "tuning_report" -> (n => Dedup.tuningReport(docsNx(plain, n),
        "doc_id", "text", frac = 0.5, salt = "probe")),
      "ensemble_dedup" -> (n => ensemble(docsNx(phrased, n))),
      "threshold_profile" -> (n => thresholdProfile(docsNx(plain, n))))
    val results = arms.map { case (name, arm) =>
      noop(arm(1)) // warm plan/codegen once
      val t1 = minOf(spark, 1)(noop(arm(1)))
      val tn = minOf(spark, 1)(noop(arm(replicas)))
      f""""$name":{"sec_1x":$t1%.3f,"sec_${replicas}x":$tn%.3f,"factor":${tn / t1}%.1f}"""
    }
    println(f"""{"probe":"dedup-scale","sf":"$sf","replicas":$replicas,${results.mkString(",")}}""")
  }
}
