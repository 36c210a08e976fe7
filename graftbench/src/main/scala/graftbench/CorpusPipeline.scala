package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.delta.GraftDelta
import graft.operators._

/** corpus_pipeline: one closed-loop client runs the LLM-data pipeline
  * over a generated corpus Delta table, again and again in one session:
  * readDelta → exact dedup → MinHash near-dups → connected components →
  * cluster keepers → text kernels → decontamination → semantic near-dups
  * → group-aware split → toDelta of train and eval.
  *
  * The corpus plants what the checks look for: exact-duplicate groups,
  * near-duplicate stars of skewed size and chains whose ends are not
  * near-duplicates (several CC rounds), clustered embeddings, and eval
  * docs that share a 20-word span with known corpus docs. */
final class CorpusPipeline(ctx: Ctx, dir: String) extends Workload {
  import CorpusPipeline._

  private val spark = ctx.spark
  private val corpusPath = s"$dir/corpus"
  private val trainPath = s"$dir/train"
  private val evalOutPath = s"$dir/eval"
  private val gen = new Generator(ctx.seed)
  private var docs = 0L

  def clients: Int = 1
  def primaryKind: String = "iteration"

  private val evalDf = {
    import spark.implicits._
    gen.evalTexts.toDF("text")
  }

  def stage(): Unit = {
    import spark.implicits._
    val rows = gen.docs.map(d => (d.id, d.text, d.pref, d.emb))
    GraftDelta.toDelta(rows.toDF("doc_id", "text", "pref", "emb").repartition(ctx.nproc), corpusPath)
    ctx.store.takeLanded()
    docs = rows.size
  }

  def warmup(): Unit = iteration()

  private val forcedRdds = mutable.Set.empty[Int]

  /** A pipeline stage. In the traced run every stage's output is
    * materialized (eager localCheckpoint) inside its span before the next
    * stage starts, so each span holds its stage's own work. Both runs cut
    * the lineage at `cut` stages: without that, every action of the later
    * stages re-plans, and re-renders for the SQL listener, the whole nested
    * pipeline, which dominated the pass. The checkpoint blocks are the
    * benchmark's own and are released at the end of the pass, so
    * session.persisted_rdds counts only what the operators leave behind. */
  private def stage(name: String, cut: Boolean = false)(body: => DataFrame): DataFrame =
    ctx.span(name) {
      if (!cut && !ctx.tracer.enabled) body
      else {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val out = body.localCheckpoint(true)
        forcedRdds ++= spark.sparkContext.getPersistentRDDs.keySet -- before
        out
      }
    }

  /** The near-dup clusters and split groups of the last completed pass,
    * collected outside the timed op, for the output checks. */
  private var captured: Option[Captured] = None

  /** One pipeline pass. */
  private def iteration(): Unit = {
    var frames: Option[(DataFrame, DataFrame)] = None
    ctx.rec.op("iteration") {
      ctx.span("client.iteration") {
        val df = stage("op.read")(GraftDelta.readDelta(spark, corpusPath))
        val t0 = System.nanoTime()
        val exact = stage("op.exact_dedup", cut = true)(Dedup.exact(df, Seq("text"), "doc_id"))
        val pairs = ctx.span("op.minhash")(Dedup.minhashNearDups(exact, "doc_id", "text", Threshold))
        val clusters = ctx.span("op.cc")(Dedup.nearDupClusters(pairs))
        val deduped = stage("op.keepers") {
          val keepers = Dedup.clusterKeepers(exact, clusters, "doc_id", "pref")
          val dropped = clusters.join(keepers, "cluster_id")
            .filter(col("doc_id") =!= col("keeper_id")).select("doc_id")
          exact.join(dropped, Seq("doc_id"), "left_anti")
        }
        ctx.rec.add("neardup", (System.nanoTime() - t0) / 1e6)
        val kerneled = stage("op.text_kernels")(deduped
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
          .withColumn("lang", TextAnalysis.langId(col("text")))
          .withColumn("clean", TextAnalysis.redactPii(col("text"))))
        if (ctx.tracer.enabled)
          ctx.obs.add("kernel.text_bytes", kerneled.agg(sum(length(col("text")))).head().getLong(0))
        val clean = stage("op.decontam", cut = true)(
          Decontamination.decontaminate(kerneled, "doc_id", "text", evalDf, "text", n = 13))
        val sem = ctx.span("op.ann")(
          Similarity.semanticNearDups(clean, "doc_id", "emb", SemThreshold))
        val groups = ctx.span("op.ann")(Dedup.nearDupClusters(
          sem.select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))))
        val split = stage("op.split")(Sampling.groupAwareSplit(clean, "doc_id", groups, 9000, 1000))
        ctx.span("op.write") {
          val out = split.select("doc_id", "text", "clean", "quality", "lang", "split")
          GraftDelta.toDelta(out.filter(col("split") === "train"), trainPath, mode = "overwrite")
          GraftDelta.toDelta(out.filter(col("split") === "eval"), evalOutPath, mode = "overwrite")
        }
        if (ctx.tracer.enabled) ctx.obs.add("op.verified_pairs", pairs.count())
        frames = Some((clusters, groups))
        Seq(pairs, sem).foreach(_.unpersist())
        forcedRdds.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist()))
        forcedRdds.clear()
      }
    }
    ctx.store.takeLanded()
    captured = frames.map { case (clusters, groups) =>
      Captured(clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
  }

  def run(deadlineNs: Long): Unit = while (System.nanoTime() < deadlineNs) iteration()

  def endToEnd(elapsedS: Double): (Metric, Metric, Metric) = {
    val it = ctx.rec.of("iteration")
    val nd = ctx.rec.of("neardup")
    (Metric("iteration_p50_ms", Stats.median(it), "ms", it.size),
      Metric("neardup_p50_ms", Stats.median(nd), "ms", nd.size),
      Metric("docs_per_s", docs * it.size / (it.sum / 1000), "1/s", it.size))
  }

  def named(elapsedS: Double): Seq[Metric] = {
    val (i, n, d) = endToEnd(elapsedS)
    Seq(d, i, n)
  }

  def layers(spans: Seq[Span]): Map[String, Double] = {
    val kernelS = spans.filter(_.name == "op.text_kernels").map(_.ms).sum / 1000
    val m = mutable.Map[String, Double]()
    if (kernelS > 0) m("kernel.text_mb_per_s") = ctx.obs.sum("kernel.text_bytes") / 1e6 / kernelS
    // LSH candidates before verification, counted once after the phase
    val exact = Dedup.exact(GraftDelta.readDelta(spark, corpusPath), Seq("text"), "doc_id")
    val cand = Dedup.candidatePairs(Dedup.minhashSignatures(exact, "doc_id", "text"))
    val n = cand.count().toDouble
    cand.unpersist()
    m("op.candidate_pairs") = n
    if (n > 0) m("op.pair_yield") = ctx.obs.mean("op.verified_pairs").getOrElse(0.0) / n
    m.toMap
  }

  def check(corrupt: Boolean): Seq[String] = {
    val cap = captured.getOrElse(return Seq("no pipeline pass completed"))
    val out = GraftDelta.readDelta(spark, trainPath).select("doc_id", "split")
      .union(GraftDelta.readDelta(spark, evalOutPath).select("doc_id", "split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val failures = mutable.ArrayBuffer.empty[String]
    gen.exactGroups.foreach { g =>
      val left = g.count(out.contains)
      if (left > 1) failures += s"exact-duplicate group ${g.head} kept $left copies"
    }
    val planted = gen.nearClusters
    val recovered = planted.map { m =>
      m.flatMap(cap.clusters.get).groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
    }.sum
    val recall = recovered.toDouble / planted.map(_.size).sum
    if (recall < NearDupRecall) failures += f"near-dup cluster recall $recall%.3f < $NearDupRecall"
    cap.groups.groupBy(_._2).foreach { case (cid, members) =>
      val splits = members.keys.flatMap(out.get).toSet
      if (splits.size > 1) failures += s"semantic cluster $cid straddles ${splits.mkString("/")}"
    }
    val mustDrop = if (corrupt) gen.overlapIds :+ out.keys.min else gen.overlapIds
    mustDrop.filter(out.contains).foreach(id => failures += s"eval-overlap doc $id was not dropped")
    println(f"graftbench: near-dup recall $recall%.4f over ${planted.size} planted clusters")
    failures.toSeq
  }
}

final case class Captured(clusters: Map[Long, Long], groups: Map[Long, Long])

object CorpusPipeline {
  val Threshold = 0.5
  val SemThreshold = 0.97
  /** Stated recall of planted near-duplicate clusters (doc level). */
  val NearDupRecall = 0.9

  final case class Doc(id: Long, text: String, pref: Int, emb: Array[Float])

  /** Seeded corpus with planted structure; every doc is 60 words. The
    * sizes of every planted group are fixed, only their content is drawn. */
  final class Generator(seed: Long) {
    private val r = new scala.util.Random(seed)
    private val stop = Array("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
    private def word(): String =
      if (r.nextDouble() < 0.3) stop(r.nextInt(stop.length))
      else "w" + java.lang.Integer.toString((math.pow(r.nextDouble(), 2) * Vocab).toInt, 36)
    private def text(): Array[String] = {
      val w = Array.fill(Words)(word())
      r.nextInt(10) match {
        case 0 => w(r.nextInt(Words)) = s"user${r.nextInt(9999)}@example.com"
        case 1 => w(r.nextInt(Words)) = (1000000000L + r.nextInt(999999999)).toString
        case _ =>
      }
      w
    }
    /** The `i`-th variant: fresh words at fixed positions, so the overlap
      * between any two planted docs is the same for every seed. */
    private def mutate(w: Array[String], i: Int): Array[String] = {
      val c = w.clone()
      (0 until Mutations).foreach(j => c((i * Mutations + j) % Words) = word())
      c
    }
    private def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    private def randomVec(): Array[Double] = Array.fill(Dim)(r.nextGaussian())

    private val out = mutable.ArrayBuffer.empty[(Array[String], Array[Float])]
    private def add(w: Array[String]): Long = { out += ((w, unit(randomVec()))); out.size - 1L }

    private val bases = (0 until BaseDocs).map(_ => text())
    bases.foreach(add)
    private val free = mutable.Queue(r.shuffle((0 until BaseDocs).toList): _*)

    /** Stars of skewed size, then chains; each list starts at its base. */
    val nearClusters: Seq[Seq[Long]] = {
      val stars = StarSizes.map { size =>
        val b = free.dequeue()
        b.toLong +: (1 until size).map(i => add(mutate(bases(b), i)))
      }
      val chains = (0 until Chains).map { _ =>
        val b = free.dequeue()
        var cur = bases(b)
        b.toLong +: (1 until ChainLength).map { i => cur = mutate(cur, i); add(cur) }
      }
      stars ++ chains
    }
    val exactGroups: Seq[Seq[Long]] = (0 until ExactGroups).map { i =>
      val b = free.dequeue()
      b.toLong +: (0 until 1 + i % 2).map(_ => add(bases(b)))
    }
    /** Docs sharing a 20-word span with an eval text; all must be dropped. */
    val overlapIds: Seq[Long] = (0 until Overlaps).map(_ => free.dequeue().toLong)
    val evalTexts: Seq[String] =
      overlapIds.map { id =>
        val at = r.nextInt(Words - 20)
        (bases(id.toInt).slice(at, at + 20) ++ Array.fill(10)(word())).mkString(" ")
      } ++ (0 until 20).map(_ => text().mkString(" "))

    // clustered embeddings on free docs: tight groups around random centers
    (0 until EmbClusters).foreach { i =>
      val c = randomVec()
      (0 until 3 + i % 6).foreach { _ =>
        if (free.nonEmpty) {
          val id = free.dequeue()
          out(id) = (out(id)._1, unit(c.map(_ + r.nextGaussian() * 0.02)))
        }
      }
    }

    val docs: Seq[Doc] = out.zipWithIndex.map { case ((w, e), i) =>
      Doc(i.toLong, w.mkString(" "), r.nextInt(1000), e)
    }.toSeq
  }

  val Vocab = 3000
  val Words = 60
  val Mutations = 2
  val Dim = 16
  val BaseDocs = 600
  /** Near-duplicate star sizes: skewed, and the same for every seed so
    * that seeds change the content but not the amount of work. */
  val StarSizes: Seq[Int] = Seq(32, 16, 11, 8, 6, 5, 4, 4) ++ Seq.fill(6)(3) ++ Seq.fill(6)(2)
  val Chains = 5
  val ChainLength = 8
  val ExactGroups = 30
  val Overlaps = 15
  val EmbClusters = 15
}
