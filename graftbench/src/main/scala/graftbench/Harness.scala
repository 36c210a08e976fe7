package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a run shares with its workload: the session, the seed, the
  * tracer, the commit counter and the op recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val store: CountingLogStore) {
  @volatile var tracer: Tracer = new Tracer(false, spark.sparkContext)
  val rec = new Recorder
  val obs = new Obs
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Latencies per op kind plus attempted/failed op counts. */
final class Recorder {
  private val lat = new ConcurrentHashMap[String, mutable.ArrayBuffer[Double]]()
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failed = new java.util.concurrent.atomic.AtomicLong
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Time `body` as one op of `kind`; an exception is a failed op. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = body
      add(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed.incrementAndGet()
        if (errors.size < 20) errors.add(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def add(kind: String, ms: Double): Unit = {
    val b = lat.computeIfAbsent(kind, _ => mutable.ArrayBuffer.empty[Double])
    b.synchronized(b += ms)
  }

  def of(kinds: String*): Seq[Double] =
    kinds.flatMap(k => Option(lat.get(k)).map(b => b.synchronized(b.toList)).getOrElse(Nil))

  def reset(): Unit = { lat.clear(); attempted.set(0); failed.set(0) }
}

/** Named observations averaged over a run (ratios, counts per op). */
final class Obs {
  private val m = new ConcurrentHashMap[String, (Double, Long)]()
  def add(name: String, v: Double): Unit =
    m.compute(name, (_, o) => if (o == null) (v, 1L) else (o._1 + v, o._2 + 1))
  def sum(name: String): Double = Option(m.get(name)).map(_._1).getOrElse(0.0)
  def mean(name: String): Option[Double] = Option(m.get(name)).map(o => o._1 / o._2)
  def names: Seq[String] = m.keySet.asScala.toSeq
  def clear(): Unit = m.clear()
}

object Stats {
  /** Percentile with linear interpolation between closest ranks; NaN
    * without samples (the metric is then not reported). */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** A named value with its unit and how many samples it summarises. */
final case class Metric(name: String, value: Double, unit: String, samples: Long)

/** One workload instance: staged once under its own directory, then
  * driven by the harness. The harness stages several instances for
  * set-up timing, keeps the last and warms it up. */
trait Workload {
  /** Generate the inputs from the seed and stage them. */
  def stage(): Unit
  /** Run every op kind once at the measured size (JIT, codegen, caches). */
  def warmup(): Unit
  /** Closed-loop timed phase until `deadlineNs` (System.nanoTime). */
  def run(deadlineNs: Long): Unit
  /** Number of clients the timed phase runs. */
  def clients: Int
  /** Output checks that do not trust the engine: failure messages. */
  def check(corrupt: Boolean): Seq[String]
  /** The three role metrics of the gate for the phase just run. */
  def endToEnd(elapsedS: Double): (Metric, Metric, Metric)
  /** Every named end-to-end metric of this workload, with sample counts. */
  def named(elapsedS: Double): Seq[Metric]
  /** Span name whose untraced/traced latency gives the tracing overhead. */
  def primaryKind: String
  /** Workload-specific per-layer values from the traced phase. */
  def layers(spans: Seq[Span]): Map[String, Double]
}
