package graftbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.build.IndexBuilder

/** One per-layer metric of the traced run, with the end-to-end metric it
  * should move and the workload it should move it on. */
final case class LayerMetric(name: String, unit: String, layer: String, moves: String, on: String) {
  def better: String = if (LayerMetric.HigherIsBetter(name)) "higher" else "lower"
}

object LayerMetric {
  val HigherIsBetter: Set[String] = Set("serving.hit_ratio", "pipeline.verified_ratio",
    "pipeline.injected_recall", "pipeline.verified_pairs")
}

object Layers {
  private val Warm = "serve_warm_nrt"
  /** Cold `Searcher` queries run only as the answer checks of the warm
    * workload, so no gated metric times them (README: "Dropped: serve_cold"). */
  private val Cold = s"$Warm (cold checks)"
  private val ColdLatency = "cold query latency (not gated)"
  private val QTypes = Queries.QTypes

  /** Span layers (the benchmark's client operation is `op`) and their
    * metric-name forms. */
  val SpanLayers: Seq[(String, String)] = Seq("op" -> "bench", "analysis" -> "analysis",
    "codec" -> "codec", "build" -> "build", "merge" -> "merge", "search" -> "search",
    "search.serving" -> "serving", "streaming" -> "streaming", "pipeline" -> "pipeline")

  val CallSiteModules: Seq[(String, String)] = Seq("build" -> "build", "merge" -> "merge",
    "search" -> "search", "search.serving" -> "serving", "streaming" -> "streaming",
    "pipeline" -> "pipeline", "other" -> "other")

  /** Every per-layer metric, in report order. A workload that does not
    * exercise a layer reports 0 for it. */
  val Catalog: Seq[LayerMetric] = Seq(
    LayerMetric("spark.jobs", "count/op", "spark", "latency_ms,docs_per_s", s"$Warm (0 for warm hits),ingest,curate"),
    LayerMetric("spark.stages", "count/op", "spark", "latency_ms,docs_per_s", s"$Warm (0 for warm hits),ingest,curate"),
    LayerMetric("spark.sched_delay_s", "s/op", "spark", "latency_ms,docs_per_s", s"$Warm,ingest,curate"),
    LayerMetric("spark.executor_run_s", "s/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.executor_cpu_s", "s/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.gc_s", "s/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.shuffle_write_bytes", "bytes/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.shuffle_read_bytes", "bytes/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.spill_bytes", "bytes/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.input_bytes", "bytes/op", "spark", "docs_per_s", "ingest,curate"),
    LayerMetric("spark.task_skew", "ratio", "spark", "docs_per_s", "curate"),
    LayerMetric("analysis.tokens", "count/op", "analysis", "docs_per_s", "ingest (no effect on curate)"),
    LayerMetric("analysis.ns_per_token", "ns", "analysis", "docs_per_s", "ingest (no effect on curate)"),
    LayerMetric("analysis.ns_per_token_simple", "ns", "analysis", "docs_per_s", "ingest (no effect on curate)"),
    LayerMetric("codec.postings", "count/op", "codec", "docs_per_s", "ingest"),
    LayerMetric("codec.encode_ns_per_posting", "ns", "codec", "docs_per_s", "ingest"),
    LayerMetric("codec.decode_ns_per_posting", "ns", "codec", "latency_ms", Warm),
    LayerMetric("codec.bytes_per_posting", "bytes", "codec", "index_bytes_per_text_byte", "ingest"),
    LayerMetric("build.wall_s", "s/op", "build", "docs_per_s,append_p50_ms", s"ingest,$Warm"),
    LayerMetric("build.jobs", "count/op", "build", "docs_per_s,append_p50_ms", s"ingest,$Warm"),
  ) ++ IndexFiles.Tables.map(t =>
    LayerMetric(s"build.bytes_written.$t", "bytes/op", "build", "docs_per_s,append_p50_ms", s"ingest,$Warm")
  ) ++ Seq(
    LayerMetric("merge.wall_s", "s/op", "merge", "docs_per_s", "ingest"),
    LayerMetric("merge.merges", "count/op", "merge", "docs_per_s", "ingest"),
    LayerMetric("merge.segments_in", "count", "merge", "docs_per_s", "ingest"),
    LayerMetric("merge.segments_out", "count", "merge", "docs_per_s", "ingest"),
    LayerMetric("merge.bytes_rewritten", "bytes/op", "merge", "docs_per_s", "ingest"),
  ) ++ QTypes.map(q =>
    LayerMetric(s"search.wall_ms.$q", "ms", "search", ColdLatency, Cold)
  ) ++ Seq(
    LayerMetric("search.jobs_per_query", "count", "search", ColdLatency, Cold),
    LayerMetric("search.stages_per_query", "count", "search", ColdLatency, Cold),
    LayerMetric("search.input_bytes_per_query", "bytes", "search", ColdLatency, Cold),
    LayerMetric("search.cursor_ns_per_advance", "ns", "search", "latency_ms", Warm),
    LayerMetric("search.wand_ns_per_query", "ns", "search", "latency_ms", Warm),
    LayerMetric("search.bm25_ns_per_score", "ns", "search", "latency_ms", Warm),
  ) ++ QTypes.map(q =>
    LayerMetric(s"serving.topk_us.$q", "us", "search.serving", "latency_ms,query_p99_ms", Warm)
  ) ++ Seq(
    LayerMetric("serving.hit_ratio", "ratio", "search.serving", "latency_ms,query_p99_ms", Warm),
    LayerMetric("serving.warm_ms", "ms", "search.serving", "fresh_p50_ms,query_p99_ms", Warm),
    LayerMetric("serving.pinned_bytes", "bytes", "search.serving", "latency_ms", Warm),
    LayerMetric("serving.refresh_ms", "ms", "search.serving", "fresh_p50_ms,query_p99_ms", Warm),
    LayerMetric("streaming.append_ms", "ms", "streaming", "append_p50_ms,fresh_p50_ms,query_p99_ms", Warm),
    LayerMetric("streaming.append_jobs", "count/op", "streaming", "append_p50_ms,fresh_p50_ms,query_p99_ms", Warm),
    LayerMetric("streaming.live_segments", "count", "streaming", "append_p50_ms,fresh_p50_ms,query_p99_ms", Warm),
    LayerMetric("pipeline.near_dup_s", "s/op", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.clusters_s", "s/op", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.cluster_jobs", "count/op", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.spans_s", "s/op", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.contamination_s", "s/op", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.candidate_pairs", "count", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.verified_pairs", "count", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.verified_ratio", "ratio", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.rows_dropped", "count", "pipeline", "docs_per_s", "curate"),
    LayerMetric("pipeline.injected_recall", "ratio", "pipeline", "docs_per_s", "curate"),
  ) ++ SpanLayers.map { case (layer, short) =>
    LayerMetric(s"self_s.$short", "s", layer, "all", "all")
  } ++ CallSiteModules.map { case (module, short) =>
    LayerMetric(s"callsite_jobs.$short", "count/op", "spark", "all", "all")
  } ++ Seq(
    LayerMetric("trace.spans", "count", "trace", "none", "all"),
    LayerMetric("trace.overhead_ms", "ms", "trace", "none", "all"),
    LayerMetric("trace.overhead_pct", "%", "trace", "none", "all"),
  )

  final case class IndexStats(docs: Long, tokens: Long, postings: Long, segments: Int) {
    def postingBytes(dir: Path): Long = Files2.bytesUnder(dir.resolve("postings"))
  }

  /** Live totals of the default field from the current stats generation. */
  def indexStats(spark: SparkSession, dir: String): IndexStats = {
    val r = spark.read.parquet(IndexBuilder.statsPath(spark, dir))
      .filter(col("field") === IndexBuilder.DefaultField)
      .dropDuplicates("segmentId")
      .agg(sum("maxDoc"), sum("sumTotalTermFreq"), sum("sumDocFreq"), count(lit(1)))
      .collect()(0)
    IndexStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3).toInt)
  }

  def roots(t: Tracer, name: String): Seq[Span] =
    t.spans.filter(s => s.parent == -1 && s.name == name).toSeq

  def meanJobs(t: Tracer, spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else spans.map(s => t.jobsUnder(s).size.toDouble).sum / spans.size

  def medianSeconds(spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else Stats.median(spans.map(_.durNs / 1e9))

  /** Spark totals per root operation named `root`, averaged over the traced
    * operations; task skew pools every stage of them. */
  def sparkPerOp(ctx: Ctx, root: String): Unit = {
    val t = ctx.tracer
    val ops = roots(t, root)
    val per = ops.map(s => SparkTotals.of(t.listener, t.jobsUnder(s)))
    def mean(f: SparkTotals => Double): Double = if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    val means = Seq(
      "spark.jobs" -> mean(_.jobs),
      "spark.stages" -> mean(_.stages),
      "spark.sched_delay_s" -> mean(_.schedDelayS),
      "spark.executor_run_s" -> mean(_.runS),
      "spark.executor_cpu_s" -> mean(_.cpuS),
      "spark.gc_s" -> mean(_.gcS),
      "spark.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> mean(_.spill.toDouble),
      "spark.input_bytes" -> mean(_.input.toDouble))
    means.foreach { case (k, v) => ctx.put(k, v) }
    val jobs = ops.flatMap(t.jobsUnder)
    ctx.put("spark.task_skew", SparkTotals.of(t.listener, jobs).skew)
    CallSiteModules.foreach { case (module, short) =>
      ctx.put(s"callsite_jobs.$short",
        if (ops.isEmpty) 0.0 else jobs.count(_.module == module).toDouble / ops.size)
    }
  }

  /** The `search.*` per-query Spark figures, over the cold queries traced
    * as root operations named `root`. */
  def searchPerQuery(ctx: Ctx, root: String): Unit = {
    val t = ctx.tracer
    val per = roots(t, root).map(s => SparkTotals.of(t.listener, t.jobsUnder(s)))
    def mean(f: SparkTotals => Double): Double = if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    ctx.put("search.jobs_per_query", mean(_.jobs))
    ctx.put("search.stages_per_query", mean(_.stages))
    ctx.put("search.input_bytes_per_query", mean(_.input.toDouble))
  }

  /** Self time per span layer and the span count. */
  def selfTimes(ctx: Ctx): Unit = {
    val self = ctx.tracer.selfSecondsByLayer
    SpanLayers.foreach { case (layer, short) => ctx.put(s"self_s.$short", self.getOrElse(layer, 0.0)) }
    ctx.put("trace.spans", ctx.tracer.spans.size)
  }
}
