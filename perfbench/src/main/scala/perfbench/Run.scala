package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the seed, how long to measure, and
  * where it may write (`work`, inside the checkout) and read fixed inputs
  * (`data`). */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    traced: Boolean, work: File, data: File, cpus: Int, sessionS: Double)

/** One run's outcome.
  *
  * `throughputPerS`, `p50Ms`, `p90Ms` and `geomeanMs` are the workload's
  * own operation measures (see README.md); `layers` are the per-layer
  * metrics every workload reports when traced, `detail` the layer metrics
  * only some workloads exercise. */
final case class Report(
    attempted: Long,
    failed: Long,
    setupS: Double,
    throughputPerS: Double,
    p50Ms: Double,
    p90Ms: Double,
    geomeanMs: Double,
    samples: Int,
    layers: Map[String, Double] = Map.empty,
    detail: Map[String, Double] = Map.empty,
    spans: Seq[Span] = Nil)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Runs `op` once, then again while `deadlineMs` is ahead. */
  def until[T](deadlineMs: Double)(op: => T): Vector[T] = {
    val out = Vector.newBuilder[T]
    out += op
    while (Clock.nowMs < deadlineMs) out += op
    out.result()
  }

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Setup {
  /** How many times a run prepares its inputs; setup_s takes the median. */
  val Reps = 3

  /** Runs `prepare` [[Reps]] times (rep 1..Reps) and returns the last
    * result with the median wall time in seconds. */
  def repeated[T](prepare: Int => T): (T, Double) = {
    val runs = (1 to Reps).map(rep => Stats.timedS(prepare(rep)))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
