package pipebench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs: the session, the span timeline, a private
  * working directory, the run's seed and time budget, and the tracer when
  * the run is traced. `tiny` shrinks the inputs and `corrupt` damages one
  * output before it is checked; both serve the benchmark's self-test.
  */
final case class Ctx(
    spark: SparkSession,
    spans: Spans,
    work: Path,
    seed: Long,
    seconds: Double,
    tracer: Option[Tracer],
    tiny: Boolean,
    corrupt: Boolean) {
  def traced: Boolean = tracer.isDefined

  /** Timed cycles a workload runs at least: one at tiny size, where only
    * the checks and the classes loaded matter.
    */
  def minCycles(n: Int): Int = if (tiny) 1 else n
}

/** What a workload reports. `setupS` is its own set-up (inputs, staging,
  * warm-up); JVM and session start are added by [[Main]].
  * `e2e` holds `cycle_s` and `step_p50_s`, the two end-to-end metrics
  * every workload reports in its own terms; the spans named [[Outcome.Timed]]
  * cover exactly the wall time `cycle_s` measures, over `cycles` cycles.
  * `detail` holds the workload's own layer metrics (traced runs), which
  * are reported beside the result but are not part of it; `layers` holds
  * the engine metrics every workload reports under the same names.
  * `attempted` counts operations (timed runs and correctness checks);
  * `failures` names the checks that failed.
  */
final class Outcome {
  var setupS: Double = 0.0
  var cycles: Int = 1
  val e2e = mutable.ArrayBuffer.empty[Metric]
  val detail = mutable.ArrayBuffer.empty[Metric]
  val layers = mutable.ArrayBuffer.empty[Metric]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.ArrayBuffer.empty[(String, Any)]

  /** Record one correctness check; a failing check is one failed operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failures += what
      System.err.println(s"CHECK FAILED: $what")
    }
    ok
  }
}

object Outcome {

  /** Span name of the timed parts of a cycle. */
  val Timed = "timed"
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    require(s.nonEmpty, "median of an empty sample")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Least-squares slope of y against x. */
  def slope(points: Seq[(Double, Double)]): Double = {
    val n = points.size.toDouble
    if (n < 2) return 0.0
    val mx = points.map(_._1).sum / n
    val my = points.map(_._2).sum / n
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0 else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Cycles {

  /** Closed loop: run `cycle` at least `min` times, and again while
    * another cycle of the last one's length still fits in `budgetS`.
    */
  def run(budgetS: Double, min: Int = 1)(cycle: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (n < min || elapsed + last <= budgetS) {
      val c0 = System.nanoTime()
      cycle(n)
      last = (System.nanoTime() - c0) / 1e9
      n += 1
    }
    n
  }
}
