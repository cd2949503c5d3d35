package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.build.{CheckIndex, IndexBuilder}
import graft.merge.{MergeJob, TieredMergePolicy}

/** Index layout helpers shared by the workloads that build an index. */
object IndexFiles {
  val Tables: Seq[String] = Seq("docs", "postings", "dict", "stats")

  /** Bytes per table; `stats` covers every stats generation. */
  def tableBytes(dir: Path): Map[String, Long] = {
    val names = if (Files.exists(dir)) {
      val it = Files.list(dir)
      try { import scala.jdk.CollectionConverters._; it.iterator().asScala.toList } finally it.close()
    } else Nil
    Tables.map { t =>
      t -> names.filter { p =>
        val n = p.getFileName.toString
        if (t == "stats") n == "stats" || n.startsWith("stats_g") else n == t
      }.map(Files2.bytesUnder).sum
    }.toMap
  }

  /** Bytes of the segments a merge wrote (segment ids in the merge band). */
  def mergedBytes(dir: Path): Long =
    Seq("docs", "postings").map(dir.resolve).filter(Files.exists(_)).map { t =>
      val it = Files.list(t)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("segmentId=") &&
            scala.util.Try(n.drop(10).toLong >= IndexBuilder.MergeIdOffset).getOrElse(false)
        }.map(Files2.bytesUnder).sum
      } finally it.close()
    }.sum
}

/** `ingest`: batch build of the corpus into S segments with the standard
  * analyzer, then `MergeJob.mergeToPolicy` with a `TieredMergePolicy`. One
  * operation is one round of build + merge into a fresh directory. */
final class Ingest(ctx: Ctx, n: Int, segs: Int) {
  import ctx.spark
  private val policy = new TieredMergePolicy(segsPerTier = 2.0, maxMergeAtOnce = 4, floorSegmentDocs = 100L)
  private val cfg = IndexBuilder.BuildConfig(numSegments = segs, analyzerName = "standard", groupSize = segs)

  def run(): Unit = {
    val pages = Corpus.pages(ctx.args.seed, n)
    var df: DataFrame = null
    ctx.setupS = ctx.timeSetup(3) { _ =>
      if (df != null) df.unpersist(true)
      df = Corpus.df(spark, pages).cache()
      df.count()
    }
    ctx.phase("set-up done")
    val textBytes = Corpus.textBytes(pages)
    val rounds = new OpTimes
    val buildS = mutable.ArrayBuffer.empty[Double]
    val mergeS = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Map[String, Long]]
    val merges = mutable.ArrayBuffer.empty[Int]
    var last: Path = null

    /** One build + merge into `dir`; returns the build and merge times. */
    def round(i: Int, dir: Path): (Long, Long) = ctx.span("op", "ingest.round") {
      val t0 = System.nanoTime()
      ctx.attempt(s"ingest round $i build") {
        ctx.span("build", "IndexBuilder.build") { IndexBuilder.build(spark, df, dir.toString, cfg) }
      }(r => r.numDocs == n + (if (ctx.args.plantWrong && i == 0) 1 else 0))
      val t1 = System.nanoTime()
      if (ctx.traced(i)) written += IndexFiles.tableBytes(dir)
      val t2 = System.nanoTime()
      ctx.attempt(s"ingest round $i merge") {
        ctx.span("merge", "MergeJob.mergeToPolicy") { MergeJob.mergeToPolicy(spark, dir.toString, policy) }
      }(_ >= 0).foreach(m => if (i >= 0) merges += m)
      (t1 - t0, System.nanoTime() - t2)
    }

    // untimed: one round, because the first build and merge in a JVM pay
    // for class loading and plan code generation, about twice a later round
    // and with a spread of its own
    val warmDir = ctx.workDir.resolve("warmup")
    round(-1, warmDir)
    Files2.delete(warmDir)
    ctx.phase("warm-up round done")

    // three rounds at least, so that every run measures the same number:
    // round times still fall over the first few rounds of a JVM
    ctx.loop(minOps = 3) { i =>
      val dir = ctx.workDir.resolve(s"round$i")
      val (build, merge) = round(i, dir)
      buildS += build / 1e9
      mergeS += merge / 1e9
      rounds.add(ctx.traced(i), (build + merge) / 1e6)
      if (last != null) Files2.delete(last)
      last = dir
      build + merge
    }

    ctx.phase("loop done")
    // the last round's index: invariants, doc count and size
    val report = CheckIndex.run(spark, last.toString)
    ctx.verify(report.ok, s"CheckIndex violations: ${report.violations.take(3).mkString("; ")}")
    ctx.verify(report.docs == n, s"CheckIndex counted ${report.docs} docs, expected $n")
    val indexBytes = Files2.bytesUnder(last)

    val roundMs = rounds.all
    ctx.latencyMs = Stats.median(roundMs)
    ctx.throughput = n / (ctx.latencyMs / 1e3)
    ctx.detail("docs_per_s", ctx.throughput, "1/s", roundMs.size)
    ctx.detail("round_p50_ms", ctx.latencyMs, "ms", roundMs.size)
    ctx.detail("build_p50_ms", Stats.median(buildS.toSeq) * 1e3, "ms", buildS.size)
    ctx.detail("merge_p50_ms", Stats.median(mergeS.toSeq) * 1e3, "ms", mergeS.size)
    ctx.detail("index_bytes_per_text_byte", indexBytes.toDouble / textBytes, "B/B", 1)
    ctx.detail("docs", n, "count", 1)

    if (ctx.tracer != null) {
      ctx.tracer.finish()
      val idx = Layers.indexStats(spark, last.toString)
      ctx.put("analysis.tokens", idx.tokens)
      ctx.put("codec.postings", idx.postings)
      ctx.put("codec.bytes_per_posting", idx.postingBytes(last).toDouble / idx.postings)
      val spans = ctx.tracer.spans
      ctx.put("build.wall_s", Layers.medianSeconds(spans.filter(_.layer == "build").toSeq))
      ctx.put("build.jobs", Layers.meanJobs(ctx.tracer, spans.filter(_.layer == "build").toSeq))
      IndexFiles.Tables.foreach(t =>
        ctx.put(s"build.bytes_written.$t", Stats.median(written.map(_(t).toDouble).toSeq)))
      ctx.put("merge.wall_s", Layers.medianSeconds(spans.filter(_.layer == "merge").toSeq))
      ctx.put("merge.segments_in", segs)
      ctx.put("merge.segments_out", idx.segments)
      ctx.put("merge.bytes_rewritten", IndexFiles.mergedBytes(last))
      ctx.put("merge.merges", Stats.median(merges.map(_.toDouble).toSeq))
      Layers.sparkPerOp(ctx, "ingest.round")
      rounds.report(ctx)
      Probes.tokenize(ctx, pages)
      Probes.codec(ctx, last.toString)
    }
  }
}
