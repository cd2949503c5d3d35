package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      smoke: Boolean, plantWrong: Boolean, work: String)

/** An end-to-end figure as the workload defines it, with its sample count. */
final case class Detail(name: String, value: Double, unit: String, samples: Int)

/** State shared by a workload run: the session, the tracer (traced runs
  * only), operation accounting and the figures the run reports. */
final class Ctx(val spark: SparkSession, val args: Args, val host: Host) {
  val tracer: Tracer = if (args.trace) new Tracer(spark) else null
  val workDir: Path = Paths.get(args.work, args.workload)
  Files2.delete(workDir)
  Files.createDirectories(workDir)

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val details = mutable.ArrayBuffer.empty[Detail]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Contract metrics: throughput, latency and set-up time. */
  var throughput = 0.0
  var latencyMs = 0.0
  var setupS = 0.0

  /** Make one operation; it fails if it throws or `ok` rejects its output. */
  def attempt[A](what: => String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    try {
      val a = body
      if (ok(a)) Some(a) else { wrong(what); None }
    } catch {
      case e: Exception => wrong(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def verify(ok: Boolean, what: => String): Unit = { attempted += 1; if (!ok) wrong(what) }

  private def wrong(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (tracer == null) body else tracer(layer, name)(body)

  def detail(name: String, value: Double, unit: String, samples: Int): Unit =
    details += Detail(name, value, unit, samples)

  /** Report the highest percentile the sample supports with at least ten
    * samples beyond it (p95 needs 200 samples, p99 needs 1000). */
  def tail(prefix: String, xs: Seq[Double], wanted: Double): Unit = {
    val q = Stats.tailQuantile(xs.size, Seq(0.99, 0.95, 0.9, 0.75).filter(_ <= wanted))
    q.foreach(q => detail(f"${prefix}_p${(q * 100).round}%d_ms", Stats.quantile(xs, q), "ms", xs.size))
  }

  /** Run `op(i)` for i = 0, 1, ... until its measured time reaches the run
    * length. `op` returns the nanoseconds it measured, so checks it makes
    * outside its timed part do not count. In a traced run every second
    * operation is traced (see `traced`); the others measure the untraced
    * baseline. */
  def loop(minOps: Int)(op: Int => Long): Int = {
    val budget = (args.seconds * 1e9).toLong
    var spent = 0L
    var i = 0
    while (spent < budget || i < minOps) {
      setTraced(traced(i), i)
      spent += op(i)
      i += 1
    }
    setTraced(on = false, -1)
    i
  }

  def setTraced(on: Boolean, request: Long): Unit =
    if (tracer != null) { tracer.on = on; tracer.request = request }

  /** Repeat a set-up `reps` times (one in traced runs) and keep the median. */
  def timeSetup(reps: Int)(body: Int => Unit): Double = {
    val n = if (args.trace) 1 else reps
    Stats.median((0 until n).map { r =>
      val t0 = System.nanoTime()
      body(r)
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** Every second operation, with the parity flipped every ten operations
    * so each position of the ten-query pattern is traced in turn. */
  def traced(i: Int): Boolean = tracer != null && (i + i / 10) % 2 == 1

  def put(name: String, v: Double): Unit = layer(name) = v

  /** Progress on standard error: seconds since the JVM started. */
  def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"perfbench ${args.workload}: $name at $up%.1f s")
  }
}

/** Tracing-overhead bookkeeping shared by the workloads: operation times of
  * the traced and untraced halves of a traced run. */
final class OpTimes {
  val traced = mutable.ArrayBuffer.empty[Double]
  val untraced = mutable.ArrayBuffer.empty[Double]
  def add(isTraced: Boolean, ms: Double): Unit = if (isTraced) traced += ms else untraced += ms
  def all: Seq[Double] = (traced ++ untraced).toSeq

  def report(ctx: Ctx): Unit = if (traced.nonEmpty && untraced.nonEmpty) {
    val t = Stats.median(traced.toSeq)
    val u = Stats.median(untraced.toSeq)
    ctx.put("trace.overhead_ms", t - u)
    ctx.put("trace.overhead_pct", if (u > 0) (t - u) / u * 100 else 0.0)
  } else {
    ctx.put("trace.overhead_ms", 0.0)
    ctx.put("trace.overhead_pct", 0.0)
  }
}
