package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.delta._

/** table_churn: two closed-loop clients on one key-clustered Delta table
  * that grows during the run. Client A does small blind appends at the
  * top of its own key range; client B cycles DV delete, DV update, MERGE
  * upsert of its newest keys, time-travel lookup and cold read over a
  * disjoint key range, with an OPTIMIZE every [[TableChurn.BCycle]]-th
  * op. Disjoint ranges mean every conflict is rebasable, so any conflict
  * that reaches a caller is a failed op.
  *
  * The model of the table (count, key sum, value sum per committed
  * version) is kept here, from the keys each op wrote, never from what
  * the engine reports. */
final class TableChurn(ctx: Ctx, dir: String) extends Workload {
  import TableChurn._

  private val spark = ctx.spark
  private val path = s"$dir/churn"
  private val rnd = new scala.util.Random(ctx.seed)
  private val seedMix = math.abs(ctx.seed % 1000)

  // A's model: appended keys are exactly [0, aNext). B's model: its live
  // keys with their current values.
  @volatile private var aNext = 0L
  private val bLive = mutable.TreeMap.empty[Long, Long]
  private var bNext = BBase
  private var bStep = 0
  /** (version, Δcount, Δkey sum, Δval sum) per committed op. */
  private val deltas = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val aVersions = mutable.ArrayBuffer.empty[Long]
  private var mergeMisreports = 0
  private var merges = 0

  def clients: Int = 2
  def primaryKind: String = "append"

  private def valOf(k: Long): Long = (k * 7919 + seedMix) % 1000
  private def rows(lo: Long, hi: Long, parts: Int): DataFrame =
    spark.range(lo, hi, 1, parts).select(
      col("id").as("key"),
      ((col("id") * 7919 + seedMix) % 1000).as("val"),
      concat(lit("t"), (col("id") % 97).cast("string")).as("tag"))

  private def record(landed: Seq[Put], dc: Long, dk: Long, dv: Long): Unit = deltas.synchronized {
    if (landed.isEmpty) {
      if (dc != 0 || dk != 0 || dv != 0) mismatches += s"op with effect ($dc,$dk,$dv) landed no commit"
    } else deltas += ((landed.map(_.version).max, dc, dk, dv))
  }

  private def range(lo: Long, hi: Long) = Seq(Seq(Predicate("key", ">=", lo), Predicate("key", "<", hi)))

  // ---- client A --------------------------------------------------------

  private def append(): Unit = {
    val lo = aNext
    val hi = lo + AppendRows
    val df = rows(lo, hi, 1)
    ctx.store.takeLanded()
    ctx.rec.op("append") {
      ctx.span("client.append")(ctx.span("write.append")(GraftDelta.toDelta(df, path, mode = "append")))
    }.foreach { _ =>
      val landed = ctx.store.takeLanded()
      aNext = hi
      record(landed, hi - lo, (lo + hi - 1) * (hi - lo) / 2, (lo until hi).map(valOf).sum)
      deltas.synchronized(aVersions ++= landed.map(_.version))
      landed.lastOption.foreach { p =>
        val ms = ctx.rec.of("append").last
        ctx.obs.add(if (p.version % 10 == 0) "log.ckpt_append_ms" else "log.plain_append_ms", ms)
        ctx.obs.add("write.files_per_commit", p.addFiles)
        ctx.obs.add("write.bytes_per_user_byte",
          (p.addBytes + p.bytes).toDouble / ((hi - lo) * UserRowBytes))
      }
    }
  }

  // ---- client B --------------------------------------------------------

  private def pickLo(): Long = BBase + (rnd.nextDouble() * (bNext - BBase - Span)).toLong

  private def dvDelete(): Unit = {
    val lo = pickLo()
    val gone = bLive.range(lo, lo + Span).toList
    ctx.store.takeLanded()
    ctx.rec.op("dv_delete") {
      ctx.span("client.dv_delete")(ctx.span("dml.dv_delete")(
        DeltaDml.deleteWithDv(spark, path, range(lo, lo + Span))))
    }.foreach { r =>
      val landed = ctx.store.takeLanded()
      if (r.affectedRows != gone.size) mismatch(s"DV delete [$lo,+$Span) hit ${r.affectedRows}, model ${gone.size}")
      gone.foreach { case (k, _) => bLive.remove(k) }
      record(landed, -gone.size, -gone.map(_._1).sum, -gone.map(_._2).sum)
      dmlObs(landed, r.affectedRows, r.rewrittenFiles)
    }
  }

  private def dvUpdate(): Unit = {
    val lo = pickLo()
    val hit = bLive.range(lo, lo + Span).toList
    ctx.store.takeLanded()
    ctx.rec.op("dv_update") {
      ctx.span("client.dv_update")(ctx.span("dml.dv_update")(
        DeltaDml.updateWithDv(spark, path, range(lo, lo + Span), Map("val" -> (col("val") + 1)))))
    }.foreach { r =>
      val landed = ctx.store.takeLanded()
      if (r.affectedRows != hit.size) mismatch(s"DV update [$lo,+$Span) hit ${r.affectedRows}, model ${hit.size}")
      hit.foreach { case (k, v) => bLive(k) = v + 1 }
      record(landed, 0, 0, hit.size)
      dmlObs(landed, r.affectedRows, r.rewrittenFiles)
    }
  }

  private def merge(): Unit = {
    val keys = bLive.range(bNext - MergeWindow, bNext).keys.toIndexedSeq
    val upd = Seq.fill(MergeRows)(keys(rnd.nextInt(keys.size))).distinct.sorted
    val ins = (bNext until bNext + MergeRows).toList
    val src = (upd.map(k => (k, (bLive(k) + 7) % 1000)) ++ ins.map(k => (k, valOf(k))))
      .map { case (k, v) => (k, v, s"t${k % 97}") }
    val df = spark.createDataFrame(src).toDF("key", "val", "tag")
    ctx.store.takeLanded()
    ctx.rec.op("merge") {
      ctx.span("client.merge")(ctx.span("dml.merge")(GraftDelta.mergeInto(spark, path, df, Seq("key"))))
    }.foreach { r =>
      val landed = ctx.store.takeLanded()
      if (r.matchedRows != upd.size) mismatch(s"MERGE matched ${r.matchedRows}, model ${upd.size}")
      // MergeResult.insertedRows is derived from file stats and reads low
      // when the merge rewrites files that carry deletion vectors; the
      // table itself is checked against the model at the end
      val misreport = r.insertedRows != ins.size
      ctx.obs.add("dml.merge_inserted_misreport", if (misreport) 1 else 0)
      if (misreport) mergeMisreports += 1
      merges += 1
      val dv = upd.map(k => (bLive(k) + 7) % 1000 - bLive(k)).sum + ins.map(valOf).sum
      upd.foreach(k => bLive(k) = (bLive(k) + 7) % 1000)
      ins.foreach(k => bLive(k) = valOf(k))
      bNext += MergeRows
      record(landed, ins.size, ins.sum, dv)
      dmlObs(landed, r.matchedRows + r.insertedRows, r.removedFiles)
    }
  }

  private def dmlObs(landed: Seq[Put], rows: Long, rewritten: Int): Unit = {
    ctx.obs.add("dml.rows_affected", rows)
    ctx.obs.add("dml.files_rewritten", rewritten)
    if (rows > 0) ctx.obs.add("dml.bytes_rewritten_per_row", landed.map(_.addBytes).sum.toDouble / rows)
  }

  /** Pruned key lookup through DeltaRead on a given snapshot. */
  private def lookup(s: org.apache.spark.sql.SparkSession, snap: Snapshot, k: Long): Array[Long] = {
    val df = ctx.span("scan.plan")(DeltaRead.fromSnapshot(s, path, snap,
      filters = Seq(Seq(Predicate("key", "==", k)))))
    val out = ctx.span("scan.exec")(df.select("val").collect().map(_.getLong(0)))
    if (ctx.tracer.enabled) scanObs(df, snap, out.length)
    out
  }

  private def scanObs(df: DataFrame, snap: Snapshot, returned: Int): Unit = {
    val kept = df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    ctx.obs.add("scan.files_kept_ratio", kept.size.toDouble / math.max(snap.activeFiles.size, 1))
    ctx.obs.add("scan.dv_files", snap.activeFiles.count(f =>
      f.deletionVector.isDefined && kept.contains(f.path.substring(f.path.lastIndexOf('/') + 1))))
    ctx.obs.add("scan.rows_returned", returned)
  }

  private def timeTravel(): Unit = {
    val k = (rnd.nextDouble() * aNext).toLong
    ctx.rec.op("time_travel") {
      ctx.span("client.time_travel") {
        val log = DeltaLog.forTable(spark, path)
        val latest = ctx.span("log.snapshot_warm")(log.snapshot())
        val snap = ctx.span("log.snapshot_pinned")(log.snapshot(Some(math.max(0L, latest.version - 5))))
        lookup(spark, snap, k)
      }
    }
  }

  private def coldRead(): Unit = {
    val keys = bLive.keys.toIndexedSeq
    val k = keys(rnd.nextInt(keys.size))
    ctx.rec.op("cold_read") {
      ctx.span("client.cold_read") {
        val s2 = spark.newSession()
        val snap = ctx.span("log.snapshot_cold")(DeltaLog.forTable(s2, path).snapshot())
        lookup(s2, snap, k)
      }
    }.foreach { got =>
      if (!(got.toSeq == Seq(bLive(k)))) mismatch(s"cold read of key $k gave ${got.toSeq}, model ${bLive(k)}")
    }
  }

  private def optimize(): Unit = {
    ctx.store.takeLanded()
    ctx.rec.op("optimize") {
      ctx.span("client.optimize")(ctx.span("maint.optimize")(
        DeltaMaintenance.compact(spark, path, targetFileBytes = CompactBytes, sortBy = Seq("key"))))
    }.foreach { case (in, out) =>
      record(ctx.store.takeLanded(), 0, 0, 0)
      ctx.obs.add("maint.files_in", in)
      ctx.obs.add("maint.files_out", out)
    }
  }

  private def bOp(): Unit = {
    bStep match {
      case s if s == BCycle - 1 => optimize()
      case s => s % 5 match {
        case 0 => dvDelete()
        case 1 => dvUpdate()
        case 2 => merge()
        case 3 => timeTravel()
        case _ => coldRead()
      }
    }
    bStep = (bStep + 1) % BCycle
  }

  private def mismatch(m: String): Unit = deltas.synchronized(mismatches += m)

  // ---- harness ---------------------------------------------------------

  def stage(): Unit = {
    GraftDelta.toDelta(rows(BBase, BBase + BInit, 8).repartitionByRange(8, col("key")), path)
    record(ctx.store.takeLanded(), BInit, (2 * BBase + BInit - 1) * BInit / 2,
      (BBase until BBase + BInit).map(valOf).sum)
    (BBase until BBase + BInit).foreach(k => bLive(k) = valOf(k))
    bNext = BBase + BInit
    // the first DV delete upgrades the table protocol, which no concurrent
    // commit can rebase over: do it before the clients start
    dvDelete()
    aNext = 0L
    (0 until 4).foreach(_ => append())
  }

  def warmup(): Unit = run(Long.MaxValue)

  /** Runs both clients until `deadlineNs`; with no deadline, until B has
    * run one full op cycle (the warmup at the measured size). */
  def run(deadlineNs: Long): Unit = {
    val warmup = deadlineNs == Long.MaxValue
    @volatile var bDone = false
    def go(body: => Unit): Thread = {
      val t = new Thread(() => body)
      t.setDaemon(true)
      t.start()
      t
    }
    val b = go {
      ctx.tracer.setClient("B")
      if (warmup) (0 until BCycle).foreach(_ => bOp())
      else while (System.nanoTime() < deadlineNs) bOp()
      bDone = true
    }
    val a = go {
      ctx.tracer.setClient("A")
      while (if (warmup) !bDone else System.nanoTime() < deadlineNs) append()
    }
    b.join()
    a.join()
  }

  private def phaseCommits: Long = ctx.rec.of("append", "dv_delete", "dv_update", "merge", "optimize").size

  /** DML latency: the mean of the DV delete, DV update and MERGE medians,
    * so a shift in how many of each a run completes does not move it. */
  private def dmlP50: Metric = {
    val kinds = Seq("dv_delete", "dv_update", "merge").map(k => ctx.rec.of(k))
    Metric("dml_p50_ms", kinds.map(Stats.median).sum / kinds.size, "ms", kinds.map(_.size).sum)
  }

  def endToEnd(elapsedS: Double): (Metric, Metric, Metric) = {
    val ap = ctx.rec.of("append")
    (Metric("append_p50_ms", Stats.median(ap), "ms", ap.size), dmlP50,
      Metric("commits_per_s", phaseCommits / elapsedS, "1/s", phaseCommits))
  }

  def named(elapsedS: Double): Seq[Metric] = {
    val (a, d, c) = endToEnd(elapsedS)
    val ap = ctx.rec.of("append")
    val dml = ctx.rec.of("dv_delete", "dv_update", "merge")
    Seq(a) ++ tail("append_p90_ms", ap) ++ Seq(d) ++ tail("dml_p90_ms", dml) ++
      Seq("dv_delete", "dv_update", "merge", "time_travel", "cold_read", "optimize").map { k =>
        val xs = ctx.rec.of(k)
        Metric(s"${k}_p50_ms", Stats.median(xs), "ms", xs.size)
      } ++ Seq(c, Metric("merge_inserted_misreports", mergeMisreports, "count", merges))
  }

  def layers(spans: Seq[Span]): Map[String, Double] = Map.empty

  def check(corrupt: Boolean): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String] ++ mismatches
    def modelAt(v: Long): (Long, Long, Long) = {
      val in = deltas.filter(_._1 <= v)
      (in.map(_._2).sum, in.map(_._3).sum, in.map(_._4).sum)
    }
    def actual(version: Option[Long]): (Long, Long, Long) = {
      val r = GraftDelta.readDelta(spark, path, version = version)
        .agg(count(lit(1)), sum("key"), sum("val")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val latest = DeltaLog.forTable(spark, path).snapshot().version
    val expect = modelAt(latest)
    val expected = if (corrupt) expect.copy(_1 = expect._1 + 1) else expect
    val got = actual(None)
    if (got != expected) failures += s"final (count, key sum, val sum) $got, model $expected"
    val vt = aVersions.sorted.apply(aVersions.size / 2)
    val gotTt = actual(Some(vt))
    if (gotTt != modelAt(vt)) failures += s"version $vt (count, key sum, val sum) $gotTt, model ${modelAt(vt)}"
    failures.toSeq
  }
}

object TableChurn {
  /** B's key range starts far above anything A appends in a run. */
  val BBase = 1000000000L
  val BInit = 20000
  val AppendRows = 200
  /** Keys per DV delete/update range and rows per MERGE side. */
  val Span = 16
  val MergeRows = 16
  /** A MERGE updates keys among the newest this many of B's key range. */
  val MergeWindow = 512L
  /** B runs five op kinds twice, then one OPTIMIZE. */
  val BCycle = 11
  /** OPTIMIZE target. A 20 s run's table stays below it, so OPTIMIZE
    * compacts to one file and lookups read the whole table until appends
    * add files again (see scan.rows_read_per_row_returned). */
  val CompactBytes = 128L * 1024
  /** key + val longs plus an average tag of three characters. */
  val UserRowBytes = 19L

  private def tail(name: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.size >= 100) Seq(Metric(name, Stats.pct(xs, 90), "ms", xs.size)) else Nil
}
