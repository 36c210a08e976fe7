package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.delta._

/** scan_mix: read-only, one closed-loop client over a staged table. The
  * table is partitioned by a four-valued column, written as key-range
  * clustered files (so min/max stats prune key lookups), carries
  * deletion vectors on part of its files, has a checkpoint plus a tail
  * commit, and has a small dimension table beside it. The loop repeats
  * a fixed query list; the commit path never runs and every snapshot is
  * a handle-cache hit. */
final class ScanMix(ctx: Ctx, dir: String) extends Workload {
  import ScanMix._

  private val spark = ctx.spark
  private val path = s"$dir/facts"
  private val dimPath = s"$dir/dim"
  private val seedMix = math.abs(ctx.seed % 1000)
  private val rnd = new scala.util.Random(ctx.seed)
  /** DV-deleted key ranges, one pair per delete commit (versions 1..3). */
  private val deleted: Seq[Seq[(Long, Long)]] = {
    val r = new scala.util.Random(ctx.seed ^ 0x5ca1ab1eL)
    Seq.fill(DeleteCommits)(Seq.fill(2) {
      val lo = (r.nextDouble() * (Rows - DeleteWidth)).toLong
      (lo, lo + DeleteWidth)
    })
  }
  private var round = 0

  def clients: Int = 1
  def primaryKind: String = "lookup"

  /** The generated rows, in plain Spark: the oracle's source. */
  private def source(lo: Long, hi: Long, parts: Int): DataFrame =
    spark.range(lo, hi, 1, parts).select(
      col("id").as("key"),
      ((col("id") * 2654435761L + seedMix) % 100000).as("val"),
      concat(lit("c"), ((col("id") * 2654435761L + seedMix) % 100000 % 8).cast("string")).as("cat"),
      (col("id") % 100).cast("int").as("bucket"),
      concat(lit("p"), ((col("id") + seedMix) % Parts).cast("string")).as("part"))

  private def dim: DataFrame = spark.range(0, 100, 1, 1).select(
    col("id").cast("int").as("bucket"),
    concat(lit("d"), ((col("id") * 7 + seedMix) % 10).cast("string")).as("name"),
    (col("id") % 13 + 1).as("weight"))

  private def keyIs(k: Long) = Seq(Seq(Predicate("key", "==", k)))

  private def inRanges(rs: Seq[(Long, Long)]) =
    rs.map { case (lo, hi) => col("key") >= lo && col("key") < hi }.reduce(_ || _)

  /** Oracle frames at the latest version and at version 1. */
  private def oracleLatest: DataFrame =
    source(0, Rows, Files).filter(!inRanges(deleted.flatten)).union(source(Rows, Rows + TailRows, 1))
  private def oracleV1: DataFrame = source(0, Rows, Files).filter(!inRanges(deleted.head))

  def stage(): Unit = {
    GraftDelta.toDelta(source(0, Rows, Files).repartitionByRange(Files, col("key")), path,
      partitionBy = Seq("part"))
    deleted.foreach { rs =>
      DeltaDml.deleteWithDv(spark, path,
        rs.map { case (lo, hi) => Seq(Predicate("key", ">=", lo), Predicate("key", "<", hi)) })
    }
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(log.snapshot().version)
    GraftDelta.toDelta(source(Rows, Rows + TailRows, 1), path, mode = "append")
    GraftDelta.toDelta(dim, dimPath)
    ctx.store.takeLanded()
  }

  def warmup(): Unit = run(Long.MaxValue)

  // ---- the query list --------------------------------------------------

  private def snap(version: Option[Long] = None): Snapshot =
    ctx.span("log.snapshot_warm")(DeltaLog.forTable(spark, path).snapshot(version))

  private def scan(s: Snapshot, filters: Seq[Seq[Predicate]] = Nil): DataFrame = {
    val df = ctx.span("scan.plan")(DeltaRead.fromSnapshot(spark, path, s, filters = filters))
    if (ctx.tracer.enabled) {
      val kept = df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
      ctx.obs.add("scan.files_kept_ratio", kept.size.toDouble / s.activeFiles.size)
      ctx.obs.add("scan.dv_files",
        s.activeFiles.count(f => f.deletionVector.isDefined && kept.contains(name(f.path))))
    }
    df
  }

  private def exec(df: DataFrame): Array[Row] = {
    val rows = ctx.span("scan.exec")(df.collect())
    ctx.obs.add("scan.rows_returned", rows.length)
    rows
  }

  private def lookupQ(k: Long)(t: DataFrame): DataFrame =
    t.filter(col("key") === k).select("key", "val", "cat", "part")
  private def partAggQ(p: String)(t: DataFrame): DataFrame =
    t.filter(col("part") === p).groupBy("cat").agg(count(lit(1)).as("n"), sum("val").as("s"))
      .orderBy("cat")
  private def fullAggQ(t: DataFrame): DataFrame =
    t.agg(count(lit(1)).as("n"), sum("val").as("s"), max("key").as("k"))
  private def joinQ(t: DataFrame, d: DataFrame): DataFrame =
    t.join(d, "bucket").groupBy("name")
      .agg(count(lit(1)).as("n"), sum(col("val") * col("weight")).as("s")).orderBy("name")
  private def ttQ(p: String)(t: DataFrame): DataFrame =
    t.filter(col("part") === p).agg(count(lit(1)).as("n"), sum("val").as("s"))

  private def timed(kind: String)(body: => Array[Row]): Option[Array[Row]] =
    ctx.rec.op(kind)(ctx.span(s"client.$kind")(body))

  private def runRound(): Unit = {
    val p = s"p${round % Parts}"
    (0 until LookupsPerRound).foreach { _ =>
      val k = (rnd.nextDouble() * (Rows + TailRows)).toLong
      timed("lookup") {
        exec(lookupQ(k)(scan(snap(), keyIs(k))))
      }
    }
    var covered = 0L
    timed("part_agg")(exec(partAggQ(p)(scan(snap(), Seq(Seq(Predicate("part", "==", p)))))))
      .foreach(rs => covered += rs.map(_.getLong(1)).sum)
    timed("full_agg")(exec(fullAggQ(scan(snap())))).foreach(rs => covered += rs.head.getLong(0))
    timed("join") {
      val d = DeltaRead.fromSnapshot(spark, dimPath, DeltaLog.forTable(spark, dimPath).snapshot())
      exec(joinQ(scan(snap()), d))
    }.foreach(rs => covered += rs.map(_.getLong(1)).sum)
    timed("time_travel")(exec(ttQ(p)(scan(snap(Some(1L)), Seq(Seq(Predicate("part", "==", p)))))))
      .foreach(rs => covered += rs.head.getLong(0))
    rowsCovered += covered
    round += 1
  }

  @volatile private var rowsCovered = 0L

  /** One round as warmup when there is no deadline. */
  def run(deadlineNs: Long): Unit = {
    rowsCovered = 0L
    if (deadlineNs == Long.MaxValue) runRound()
    else while (System.nanoTime() < deadlineNs) runRound()
  }

  def endToEnd(elapsedS: Double): (Metric, Metric, Metric) = {
    val lk = ctx.rec.of("lookup")
    val fa = ctx.rec.of("full_agg")
    (Metric("lookup_p50_ms", Stats.median(lk), "ms", lk.size),
      Metric("full_agg_p50_ms", Stats.median(fa), "ms", fa.size),
      Metric("scan_rows_per_s", rowsCovered / elapsedS, "1/s", round))
  }

  def named(elapsedS: Double): Seq[Metric] = {
    val (l, f, r) = endToEnd(elapsedS)
    val lk = ctx.rec.of("lookup")
    val tail = if (lk.size >= 100) Seq(Metric("lookup_p90_ms", Stats.pct(lk, 90), "ms", lk.size)) else Nil
    Seq(l) ++ tail ++ Seq(f, r) ++ Seq("part_agg", "join", "time_travel").map { k =>
      val xs = ctx.rec.of(k)
      Metric(s"${k}_p50_ms", Stats.median(xs), "ms", xs.size)
    }
  }

  def layers(spans: Seq[Span]): Map[String, Double] = Map.empty

  /** Each query once against the same query over the generated source. */
  def check(corrupt: Boolean): Seq[String] = {
    val latest = DeltaLog.forTable(spark, path).snapshot()
    def graft(v: Option[Long] = None, filters: Seq[Seq[Predicate]] = Nil) =
      DeltaRead.fromSnapshot(spark, path,
        v.map(x => DeltaLog.forTable(spark, path).snapshot(Some(x))).getOrElse(latest), filters = filters)
    val d = GraftDelta.readDelta(spark, dimPath)
    val keys = Seq.fill(8)((rnd.nextDouble() * (Rows + TailRows)).toLong) ++
      deleted.flatten.map(_._1) ++ Seq(Rows + TailRows - 1)
    val cases: Seq[(String, DataFrame, DataFrame)] =
      keys.map(k => (s"lookup $k", lookupQ(k)(graft(filters = keyIs(k))), lookupQ(k)(oracleLatest))) ++
        (0 until Parts).map(i => (s"part_agg p$i", partAggQ(s"p$i")(graft()), partAggQ(s"p$i")(oracleLatest))) ++
        Seq(("full_agg", fullAggQ(graft()), fullAggQ(oracleLatest)),
          ("join", joinQ(graft(), d), joinQ(oracleLatest, dim)),
          ("time_travel p1", ttQ("p1")(graft(Some(1L))), ttQ("p1")(oracleV1)))
    cases.flatMap { case (name, g, o) =>
      val got = g.collect().map(_.toSeq).toSeq
      val want0 = o.collect().map(_.toSeq).toSeq
      val want = if (corrupt && name == "full_agg") want0.map(r => r.updated(0, r.head.asInstanceOf[Long] + 1))
        else want0
      if (got.sortBy(_.toString) == want.sortBy(_.toString)) None
      else Some(s"scan_mix $name: graft ${got.take(3)} vs source ${want.take(3)}")
    }
  }
}

object ScanMix {
  val Rows = 200000L
  val TailRows = 2000L
  /** Key-range tasks of the staging write; each writes one file per part. */
  val Files = 16
  val Parts = 4
  val DeleteCommits = 3
  val DeleteWidth = 3000L
  val LookupsPerRound = 12
}
