package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The repository benchmark. One workload per run, on local[n] with n at
  * most the host's core count:
  *
  *   graftbench.Main --workload <ingest|serve_warm_nrt|curate>
  *     --seed <n> --seconds <s> --trace <0|1> [--smoke] [--plant-wrong]
  *     [--work <dir>]
  *
  * Every line but the last is a report line carrying the host stamp. The
  * last line is the result: {"correct", "attempted", "failed", "metrics"},
  * with the end-to-end metrics when untraced and the per-layer metrics when
  * traced. The exit code is 0 only when every answer was checked correct. */
object Main {
  val Workloads: Seq[String] = Seq("ingest", "serve_warm_nrt", "curate")

  /** End-to-end metrics of the result line, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_ms" -> "ms", "peak_rss_mb" -> "MB")

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v }.toMap
    val flags = argv.toSet
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(
      workload = need("--workload"),
      seed = need("--seed").toLong,
      seconds = need("--seconds").toDouble,
      trace = need("--trace") == "1",
      smoke = flags("--smoke"),
      plantWrong = flags("--plant-wrong"),
      work = kv.getOrElse("--work", "bench-work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seed >= 0 && a.seconds > 0, "seed must be >= 0 and seconds > 0")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(args.work, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val host = Host(cores, Host.memGb,
      System.getProperty("java.version"), spark.version, master)
    val ctx = new Ctx(spark, args, host)
    ctx.phase("session up")

    val code = try {
      run(ctx)
      ctx.phase("checked")
      report(ctx)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench ${args.workload} aborted: $e")
        e.printStackTrace()
        2
    } finally spark.stop()
    sys.exit(code)
  }

  private def run(ctx: Ctx): Unit = {
    val s = ctx.args.smoke
    ctx.args.workload match {
      case "ingest" => new Ingest(ctx, if (s) 300 else 2000, 4).run()
      case "serve_warm_nrt" =>
        if (s) new ServeWarm(ctx, 300, 2, poolSize = 100, appendEvery = 30, batchDocs = 10).run()
        // one 41-doc append per 10000 queries is an assumed write rate (README)
        else new ServeWarm(ctx, 1000, 2, poolSize = 4000, appendEvery = 10000, batchDocs = 40).run()
      case "curate" => new Curate(ctx, if (s) 200 else 1000).run()
    }
  }

  /** Print the report lines and the result line; returns the exit code. */
  private def report(ctx: Ctx): Int = {
    val a = ctx.args
    val stamp = ctx.host.stamp
    val rss = Host.peakRssMb
    def line(kv: (String, Any)*): Unit = println(Json.obj((kv :+ ("host" -> stamp)): _*))
    line("line" -> "run", "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "smoke" -> a.smoke, "nproc" -> ctx.host.nproc, "mem_gb" -> ctx.host.memGb,
      "jdk" -> ctx.host.jdk, "spark" -> ctx.host.spark, "master" -> ctx.host.master)
    val ratio = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    val e2e = ctx.details.toSeq ++ Seq(
      Detail("setup_s", ctx.setupS, "s", if (a.trace) 1 else 3),
      Detail("peak_rss_mb", rss, "MB", 1),
      Detail("failed_ratio", ratio, "ratio", ctx.attempted.toInt))
    e2e.foreach(d => line("line" -> "e2e", "workload" -> a.workload, "metric" -> d.name,
      "value" -> d.value, "unit" -> d.unit, "samples" -> d.samples))
    ctx.failures.foreach(f => line("line" -> "failure", "workload" -> a.workload, "what" -> f))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val v = Map("setup_s" -> ctx.setupS, "throughput_per_s" -> ctx.throughput,
          "latency_ms" -> ctx.latencyMs, "peak_rss_mb" -> rss)
        EndToEnd.map { case (name, unit) => (name, v(name), unit) }
      } else {
        Layers.selfTimes(ctx)
        val unknown = ctx.layer.keySet -- Layers.Catalog.map(_.name)
        require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.mkString(", ")}")
        Layers.Catalog.foreach { m =>
          line("line" -> "layer", "workload" -> a.workload, "layer" -> m.layer, "metric" -> m.name,
            "value" -> ctx.layer.getOrElse(m.name, 0.0), "unit" -> m.unit, "better" -> m.better,
            "moves" -> m.moves, "on" -> m.on)
        }
        val out = Paths.get(a.work, "trace", s"${a.workload}-seed${a.seed}.json")
        Files.createDirectories(out.getParent)
        Files.write(out, ctx.tracer.toJson.getBytes("UTF-8"))
        line("line" -> "trace_file", "workload" -> a.workload, "path" -> out.toString)
        Layers.Catalog.map(m => (m.name, ctx.layer.getOrElse(m.name, 0.0), m.unit))
      }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    println(Json.obj("correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
        Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u) }.mkString("{", ",", "}"))))
    if (correct) 0 else 1
  }
}
