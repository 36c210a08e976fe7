package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by run.py:
  *
  *   --workload table_churn|scan_mix|corpus_pipeline --seed N --seconds S
  *   --trace 0|1 --work DIR [--spans FILE] [--corrupt 1]
  *
  * Prints human-readable report lines, then one `GRAFTBENCH {json}` line
  * with the raw metric values; run.py turns that into the result line.
  * `--corrupt 1` perturbs one expected value of the output check, which
  * must then fail the run (the benchmark's self-test). */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")
    val corrupt = opts.get("corrupt").contains("1")
    val make: (Ctx, String) => Workload = opts("workload") match {
      case "table_churn" => new TableChurn(_, _)
      case "scan_mix" => new ScanMix(_, _)
      case "corpus_pipeline" => new CorpusPipeline(_, _)
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, seed, CountingLogStore.installed)
    val sc = spark.sparkContext

    // Stage several times from scratch and keep the last instance, then
    // warm it up once at the measured size; setup_s is the one-off
    // session start plus the median staging time plus the warmup.
    var wl: Workload = null
    var prevDir: Option[String] = None
    val repS = (1 to SetupReps).map { i =>
      prevDir.foreach(d => Main.deleteTree(new java.io.File(d)))
      val dir = s"$work/rep$i"
      prevDir = Some(dir)
      val t0 = System.nanoTime()
      wl = make(ctx, dir)
      wl.stage()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(repS) + warmupS
    System.err.println(f"graftbench: set-up done in ${setupS}%.1f s")

    def phase(): Double = {
      ctx.rec.reset()
      ctx.obs.clear()
      System.gc()
      val t0 = System.nanoTime()
      wl.run(t0 + seconds * 1000000000L)
      (System.nanoTime() - t0) / 1e9
    }

    val untracedS = phase()
    var attempted = ctx.rec.attempted.get
    var failed = ctx.rec.failed.get
    val (p, s, w) = wl.endToEnd(untracedS)
    val values = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS, "primary_p50_ms" -> p.value, "secondary_p50_ms" -> s.value,
      "work_per_s" -> w.value)
    val report = scala.collection.mutable.ArrayBuffer[Metric](
      Metric("setup_s", setupS, "s", SetupReps),
      Metric("session_start_s", sessionS, "s", 1),
      Metric("stage_s", Stats.median(repS), "s", SetupReps),
      Metric("warmup_s", warmupS, "s", 1)) ++ wl.named(untracedS)
    val untracedPrimary = ctx.rec.of(wl.primaryKind)

    if (trace) {
      val listener = new JobListener
      sc.addSparkListener(listener)
      ctx.tracer = new Tracer(true, sc)
      val c0 = LogCounters.now()
      val puts0 = ctx.store.snapshot.size
      val att0 = ctx.store.attempts.get
      val conf0 = ctx.store.conflicts.get
      val tracedS = phase()
      attempted += ctx.rec.attempted.get
      failed += ctx.rec.failed.get
      listener.drain()
      val spans = ctx.tracer.spans
      opts.get("spans").foreach(f => writeSpans(f, s"${opts("workload")}-$seed", spans))
      val roots = spans.filter(_.parent == 0L)
      val nRoots = math.max(roots.size, 1).toDouble
      val lv = scala.collection.mutable.LinkedHashMap[String, Double]()
      spans.filter(_.parent != 0L).groupBy(_.name).foreach { case (name, ss) =>
        lv(s"${name}_ms") = ss.map(_.ms).sum / ss.size
      }
      val dc = LogCounters.now() - c0
      val puts = ctx.store.snapshot.drop(puts0)
      lv("log.commit_json_reads") = dc.commitReads / nRoots
      lv("log.checkpoint_action_reads") = dc.checkpointReads / nRoots
      lv("log.listings") = dc.listings / nRoots
      lv("log.commit_attempts") = (ctx.store.attempts.get - att0) / nRoots
      lv("log.commit_conflicts") = (ctx.store.conflicts.get - conf0) / nRoots
      if (puts.nonEmpty) {
        lv("log.put_ms") = puts.map(_.ms).sum / puts.size
        lv("log.bytes_per_commit") = puts.map(_.bytes.toDouble).sum / puts.size
      }
      lv ++= sparkLayer(listener, spans, nRoots)
      val returned = ctx.obs.sum("scan.rows_returned")
      if (returned > 0) lv("scan.rows_read_per_row_returned") = lv("scan.records_read") / returned
      ctx.obs.names.foreach(k => lv(k) = ctx.obs.mean(k).get)
      val self = Tracer.selfTimes(spans)
      spans.groupBy(_.layer).foreach { case (layer, ss) =>
        lv(s"self.${layer}_ms") = ss.map(x => self(x.id)).sum / 1e6 / nRoots
      }
      // share of each client's traced wall time its op spans (and so the
      // self times of their trees) account for
      val busy = roots.map(r => r.end - r.start).sum / 1e9
      lv("trace.accounted_ratio") = busy / (wl.clients * tracedS)
      val tracedPrimary = ctx.rec.of(wl.primaryKind)
      if (untracedPrimary.nonEmpty && tracedPrimary.nonEmpty)
        lv("trace.overhead_pct") =
          (Stats.median(tracedPrimary) / Stats.median(untracedPrimary) - 1) * 100
      lv("session.persisted_rdds") = sc.getPersistentRDDs.size.toDouble
      lv("session.storage_bytes") =
        sc.getRDDStorageInfo.map(r => (r.memSize + r.diskSize).toDouble).sum
      lv ++= wl.layers(spans)
      values.clear()
      values ++= lv
      report += Metric("traced_wall_s", tracedS, "s", roots.size.toLong)
    }

    val failedChecks = wl.check(corrupt)
    val ok = failedChecks.isEmpty
    val totalFailed = failed + failedChecks.size
    val totalAttempted = math.max(attempted, 1L)
    report += Metric("error_ratio", totalFailed.toDouble / totalAttempted, "ratio", totalAttempted)
    report.filterNot(_.value.isNaN).foreach { m =>
      println(f"graftbench: ${m.name}%-22s ${m.value}%14.4f ${m.unit}%-6s n=${m.samples}")
    }
    (ctx.rec.errors.asScala ++ failedChecks).foreach(e => println(s"graftbench: FAILED $e"))

    val json = new StringBuilder
    json ++= s"""{"correct": $ok, "attempted": $totalAttempted, "failed": $totalFailed, "values": {"""
    json ++= values.filterNot(_._2.isNaN).map { case (k, v) => s""""$k": ${jsonNum(v)}""" }
      .mkString(", ")
    json ++= "}}"
    println("GRAFTBENCH " + json)
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def jsonNum(v: Double): String =
    if (v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Spark cost of the traced phase, per root op. */
  private def sparkLayer(l: JobListener, spans: Seq[Span], nRoots: Double): Map[String, Double] = {
    val root = Tracer.rootOf(spans)
    val jobs = l.jobs.values.asScala.toSeq.filter(j => root.contains(j.span) && j.end > 0)
    val stageIds = jobs.flatMap(_.stages).toSet
    val st = stageIds.toSeq.flatMap(id => Option(l.stages.get(id)))
    def tot(f: StageStat => Double) = st.map(f).sum / nRoots
    val skews = st.filter(_.taskMs.size >= 2).map { s =>
      s.taskMs.max.toDouble / math.max(Stats.median(s.taskMs.map(_.toDouble).toSeq), 1.0)
    }
    val byRoot = jobs.groupBy(j => root(j.span))
    val driverOnly = spans.filter(_.parent == 0L).map { r =>
      val iv = byRoot.getOrElse(r.id, Nil).map(j => (j.start max r.start, j.end min r.end))
        .filter { case (a, b) => b > a }
      (r.end - r.start - (if (iv.isEmpty) 0L else Tracer.unionLength(iv))) / 1e6
    }
    Map(
      "spark.jobs" -> jobs.size / nRoots,
      "spark.stages" -> st.size / nRoots,
      "spark.tasks" -> tot(_.tasks.toDouble),
      "spark.exec_run_ms" -> tot(_.runMs.toDouble),
      "spark.exec_cpu_ms" -> tot(_.cpuNs / 1e6),
      "spark.gc_ms" -> tot(_.gcMs.toDouble),
      "spark.shuffle_read_bytes" -> tot(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> tot(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> tot(_.spill.toDouble),
      "spark.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "spark.driver_only_ms" -> (if (driverOnly.isEmpty) 0.0 else driverOnly.sum / driverOnly.size)
    ) ++ spanInput(l, jobs, spans)
  }

  /** Input records and bytes read by the jobs under `scan.exec` spans,
    * and the Spark jobs per connected-components call. */
  private def spanInput(l: JobListener, jobs: Seq[JobStat], spans: Seq[Span]): Map[String, Double] = {
    def ids(name: String) = spans.filter(_.name == name).map(_.id).toSet
    val scanIds = ids("scan.exec")
    val stages = jobs.filter(j => scanIds.contains(j.span)).flatMap(_.stages).distinct
      .flatMap(id => Option(l.stages.get(id)))
    val ccIds = ids("op.cc")
    Map("scan.records_read" -> stages.map(_.recordsRead.toDouble).sum,
      "scan.bytes_read" -> stages.map(_.bytesRead.toDouble).sum / math.max(scanIds.size, 1),
      "op.cc_jobs" -> jobs.count(j => ccIds.contains(j.span)).toDouble / math.max(ccIds.size, 1))
  }

  /** The traced phase's spans, one JSON object per line, times in ms
    * from the first span. */
  private def writeSpans(file: String, runId: String, spans: Seq[Span]): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val out = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""client": "${s.client}", "start_ms": ${(s.start - t0) / 1e6}, "end_ms": ${(s.end - t0) / 1e6}}""")
    } finally out.close()
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
