package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cpus: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.get("cpus").map(_.toInt).getOrElse(2))
  }
}

/** What a workload supplies: set-up into a fresh directory, one round
  * of its closed loop, and the final checks and metrics. */
trait Workload {
  def setup(ctx: Ctx, dir: String): Unit
  def round(ctx: Ctx): Unit
  def finish(ctx: Ctx): Unit
  /** Whether the last round closed a cycle of the workload's periodic
    * work (a compaction, a full pass over the query mix). Timed windows
    * end on a cycle boundary, so every window holds whole cycles. */
  def atBoundary: Boolean = true
  /** Seconds of rounds run before the timed loop, so that the loop's
    * paths are JIT-compiled when timing starts. */
  def warmupSeconds: Double = 5.0
}

/** Run state shared by a workload and the harness: op timing, output
  * checks, and the metrics the workload reports. */
final class Ctx(val spark: SparkSession, val args: Args) {
  def seed: Long = args.seed
  val tracer = new Tracer(spark.sparkContext)
  val listener: Option[JobListener] =
    if (!args.trace) None
    else { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) }

  /** wall ms of each measured op, by kind, with whether it was traced */
  val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[(Double, Boolean)]]
  var measuring = false
  /** traced runs alternate traced and untraced rounds */
  var tracing = false
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** input properties, printed with the report */
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  /** the issue-named end-to-end metrics: name -> (value, unit) */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** per-layer numbers a workload measures itself, by op kind */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  /** set-up seconds of each repetition */
  val setups = ArrayBuffer.empty[Double]
  /** wall ms of the last op, whether it succeeded or not */
  var lastMs = 0.0

  /** One timed op. A thrown error counts the op as failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val traced = tracing
    val t0 = System.nanoTime()
    try {
      val v = if (traced) tracer.op(kind)(body) else body
      lastMs = (System.nanoTime() - t0) / 1e6
      sample(kind, lastMs)
      Some(v)
    } catch {
      case NonFatal(e) =>
        lastMs = (System.nanoTime() - t0) / 1e6
        fail(s"$kind threw $e")
        None
    }
  }

  private def sample(kind: String, ms: Double): Unit =
    if (measuring) lat.getOrElseUpdate(kind, ArrayBuffer.empty) += ((ms, tracing))

  /** kinds recorded with [[record]]: composites of ops, not ops */
  val composites = mutable.LinkedHashSet.empty[String]

  /** Record `ms` as one measured sample of the composite `kind` (such as
    * a whole round of ops), traced if the current round is. */
  def record(kind: String, ms: Double): Unit = {
    composites += kind
    sample(kind, ms)
  }

  /** A layer span inside the current op (recorded only when traced). */
  def span[T](name: String)(body: => T): T = tracer.spanAs(body)(_ => name)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Count a failed output check against an op already attempted. */
  def expect(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  /** A final output check: one attempted op of its own. */
  def finalCheck(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case NonFatal(e) => fail(s"$what threw $e"); return }
    if (!good) fail(what)
  }

  /** Wall ms of measured ops of `kind` (all of them, or by traced flag). */
  def ms(kind: String, traced: Option[Boolean] = None): Seq[Double] =
    lat.getOrElse(kind, ArrayBuffer.empty).collect {
      case (m, t) if traced.forall(_ == t) => m
    }.toSeq

  def untracedMs(kinds: String*): Seq[Double] =
    kinds.flatMap(k => ms(k, if (args.trace) Some(false) else None))

  def put(name: String, value: Double, unit: String): Unit = report(name) = (value, unit)

  /** Register a GraftCatalog over `dir/warehouse` (one per set-up copy);
    * returns its name. Tables live at `dir/warehouse/bench/<table>`. */
  def catalogAt(dir: String): String = {
    val name = s"graft${new java.io.File(dir).getName}"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", s"$dir/warehouse")
    name
  }
}

object Stats {
  /** Python's statistics.quantiles(..., n) 'exclusive' method, so the
    * harness and any script reading its numbers agree. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    if (s.size == 1) return s.head
    val pos = q * (s.size + 1) - 1
    if (pos <= 0) s.head
    else if (pos >= s.size - 1) s.last
    else {
      val i = pos.toInt
      s(i) + (s(i + 1) - s(i)) * (pos - i)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
}
