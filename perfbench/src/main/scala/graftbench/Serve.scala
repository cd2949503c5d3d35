package graftbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.analysis.Analyzers
import graft.build.IndexBuilder
import graft.oracle.OracleIndex
import graft.search._
import graft.streaming.StreamingIndexer

/** Input of the serving workload: an index of the corpus built with the
  * standard analyzer into `segs` segments. The build is input preparation,
  * reported as `index_build_s`; `ingest` is the workload that measures it. */
final class ServingIndex(ctx: Ctx, n: Int, segs: Int) {
  import ctx.spark
  val pages: Seq[(String, String)] = Corpus.pages(ctx.args.seed, n)
  val dir: String = ctx.workDir.resolve("index").toString
  private val t0 = System.nanoTime()
  IndexBuilder.build(spark, Corpus.df(spark, pages), dir,
    IndexBuilder.BuildConfig(numSegments = segs, analyzerName = "standard", groupSize = segs))
  ctx.detail("index_build_s", (System.nanoTime() - t0) / 1e9, "s", 1)

  def bytesPerTextByte: Double =
    Files2.bytesUnder(java.nio.file.Paths.get(dir)).toDouble / Corpus.textBytes(pages)
}

/** `serve_warm_nrt`: a closed loop with one client sending the query mix
  * through `ServingManager.acquire()` and the `ServingSession` top-k paths,
  * while before every `appendEvery` queries a small seeded batch goes
  * through `StreamingIndexer.appendBatch`. The next `acquire()` refreshes
  * the session, a marker query measures freshness, and the hot key set is
  * warmed again, so every timed query runs with the new segment live.
  * Set-up opens the manager and warms the first session.
  *
  * The cold `Searcher` answers the checks: before the loop a seeded query of
  * each type must be rank-identical to `OracleIndex`, after it a seeded
  * query of each type must equal the warm answer on the same snapshot.
  * Traced runs trace these cold queries as the sample of the search layer's
  * Spark plan. */
final class ServeWarm(ctx: Ctx, n: Int, segs: Int, poolSize: Int, appendEvery: Int, batchDocs: Int) {
  import ctx.spark
  private val field = IndexBuilder.DefaultField

  def run(): Unit = {
    val index = new ServingIndex(ctx, n, segs)
    val pool = Queries.stream(ctx.args.seed, poolSize, index.pages)
    // the hot key set: every term of the corpus, appended batches included,
    // and of the query pool, so after a warm-up every pool query (prefix and
    // fuzzy expansions too) is answered from pinned rows
    val analyzer = Analyzers.byName("standard")
    def termsOf(pages: Seq[(String, String)]) = pages.flatMap(p => analyzer.tokenize(p._2).map(_.term))
    var hot: Seq[(String, String)] =
      (termsOf(index.pages) ++ pool.flatMap(_.keys)).distinct.map(field -> _)
    val hotPhrase = pool.filter(_.qtype == "phrase").flatMap(_.keys).distinct.map(field -> _)
    def warmUp(s: ServingSession): Unit = {
      s.warm(hot)
      s.warmFull(hotPhrase)
      s.warmDict(field)
    }
    var mgr: ServingManager = null
    var session: ServingSession = null
    ctx.setupS = ctx.timeSetup(3) { _ =>
      mgr = new ServingManager(spark, index.dir)
      session = mgr.acquire()
      warmUp(session)
    }
    ctx.phase("set-up done")
    val pinnedBytes = mutable.ArrayBuffer(session.pinnedByteSize.toDouble)
    val rnd = new scala.util.Random(ctx.args.seed * 31L + 5)
    def sample(): Seq[BenchQuery] = Queries.QTypes.map { qt =>
      val ofType = pool.filter(_.qtype == qt)
      ofType(rnd.nextInt(ofType.size))
    }
    def cold(q: BenchQuery): Array[org.apache.spark.sql.Row] = {
      ctx.setTraced(on = true, -1)
      try ctx.span("op", "serve.cold_query") {
        ctx.span("search", s"Searcher.search.${q.qtype}") { session.searcher.search(q.cold, Queries.K).collect() }
      } finally ctx.setTraced(on = false, -1)
    }
    val oracle = new OracleIndex(index.pages, segs, analyzer)
    sample().foreach { q =>
      val got = cold(q).map(r => (r.getString(0), r.getDouble(1).toFloat)).toList
      val want = oracle.search(q.cold, Queries.K).map(h => (h.key, h.score)).toList
      ctx.verify(got == want, s"cold ${q.qtype} ${q.cold} differs from the oracle: got $got want $want")
    }
    ctx.phase("checked against the oracle")

    val times = new OpTimes
    val byType = Queries.QTypes.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val appendMs, freshMs = mutable.ArrayBuffer.empty[Double]
    var batches = 0
    var queries = 0

    def append(): Long = {
      val b = batches
      batches += 1
      val marker = "freshmark" + Iterator.iterate(ctx.args.seed * 1000 + b + 1)(_ / 26)
        .takeWhile(_ > 0).map(v => ('a' + (v % 26).toInt).toChar).mkString
      val docs = Corpus.range(ctx.args.seed * n + n + b.toLong * batchDocs, batchDocs) :+
        (s"https://fresh.example/b$b", s"${index.pages(b % n)._2} $marker")
      val batch = Corpus.df(spark, docs)
      val base = StreamingIndexer.batchSegmentBase(b, 1, 1 << 20)
      hot = (hot ++ termsOf(docs).map(field -> _)).distinct
      ctx.span("op", "warm.append") {
        val t0 = System.nanoTime()
        ctx.attempt(s"append batch $b") {
          ctx.span("streaming", "StreamingIndexer.appendBatch") {
            StreamingIndexer.appendBatch(spark, batch, index.dir, "standard", 1, b)
          }
        }(_ => true)
        val t1 = System.nanoTime()
        session = ctx.span("search.serving", "ServingManager.acquire") { mgr.acquire() }
        ctx.attempt(s"freshness probe for batch $b") {
          ctx.span("search.serving", "ServingSession.termTopK.fresh") { session.termTopK(field, marker, Queries.K) }
        }(h => h.length == 1 && h(0).segmentId == base)
        val t3 = System.nanoTime()
        ctx.span("search.serving", "ServingSession.warm") { warmUp(session) }
        val t4 = System.nanoTime()
        appendMs += (t1 - t0) / 1e6
        freshMs += (t3 - t0) / 1e6
        pinnedBytes += session.pinnedByteSize.toDouble
        t4 - t0
      }
    }

    // untimed: one append cycle, because the first append and refresh in a
    // JVM pay class loading and plan code generation; then 12000 queries
    // from the pool, because the median query time still falls until some
    // ten thousand calls have been compiled and profiled
    append()
    appendMs.clear()
    freshMs.clear()
    (0 until 12000).foreach(i => pool(i % pool.size).warm(session, field, Queries.K))

    // one operation is a whole cycle: an append, then `appendEvery` queries
    // on the refreshed session with the new segment live, so the share of
    // append time in the loop does not depend on where the run length cuts
    // it. Three cycles at least, so that every run measures the same number
    var wall = 0L
    ctx.loop(minOps = 3) { c =>
      ctx.setTraced(on = true, -1)
      var ns = append()
      (0 until appendEvery).foreach { j =>
        val i = c * appendEvery + j
        ctx.setTraced(ctx.traced(i), i)
        val q = pool(i % pool.size)
        val t0 = System.nanoTime()
        ctx.attempt(s"warm ${q.qtype} query #$i") {
          ctx.span("op", "serve.query") {
            ctx.span("search.serving", s"ServingSession.${q.qtype}") { q.warm(session, field, Queries.K) }
          }
        }(_ => true)
        val qns = System.nanoTime() - t0
        times.add(ctx.traced(i), qns / 1e6)
        byType(q.qtype) += qns / 1e6
        queries += 1
        ns += qns
      }
      wall += ns
      ns
    }
    ctx.phase("loop done")
    // warm answers must equal the cold `Searcher` on the same snapshot, the
    // one the appends left: a seeded query of each type
    sample().zipWithIndex.foreach { case (q, k) =>
      val warm = q.warm(session, field, Queries.K).map(h => (h.segmentId, h.docId, h.score)).toList
      val got = cold(q).map(r => (r.getInt(2), r.getInt(3), r.getDouble(1))).toList
      val want = if (ctx.args.plantWrong && k == 0) got.drop(1) else got
      ctx.verify(warm == want, s"warm ${q.qtype} ${q.cold} differs from cold after the appends: $warm vs $got")
    }
    ctx.phase("checked against cold")
    val lat = times.all
    // the median over a pool of 4000 queries: with a pool of 1000 it moved
    // by a fifth from seed to seed, as it fell inside one type's spread of
    // times; per-type medians and their weighted means spread no less
    ctx.latencyMs = Stats.median(lat)
    ctx.throughput = queries / (wall / 1e9)
    ctx.detail("queries_per_s", ctx.throughput, "1/s", queries)
    ctx.detail("query_p50_ms", ctx.latencyMs, "ms", lat.size)
    Queries.QTypes.foreach(t => ctx.detail(s"query_p50_ms.$t", Stats.median(byType(t).toSeq), "ms", byType(t).size))
    ctx.tail("query", lat, 0.99)
    if (appendMs.nonEmpty) {
      ctx.detail("append_p50_ms", Stats.median(appendMs.toSeq), "ms", appendMs.size)
      ctx.detail("fresh_p50_ms", Stats.median(freshMs.toSeq), "ms", freshMs.size)
    }
    ctx.detail("pinned_bytes", pinnedBytes.max, "bytes", pinnedBytes.size)
    ctx.detail("docs", n, "count", 1)

    if (ctx.tracer != null) {
      val t = ctx.tracer
      t.finish()
      Layers.sparkPerOp(ctx, "serve.query")
      Layers.searchPerQuery(ctx, "serve.cold_query")
      val qs = Layers.roots(t, "serve.query")
      ctx.put("serving.hit_ratio",
        if (qs.isEmpty) 0.0 else qs.count(s => t.jobsUnder(s).isEmpty).toDouble / qs.size)
      Queries.QTypes.foreach { qt =>
        val ss = t.spans.filter(_.name == s"ServingSession.$qt").toSeq
        ctx.put(s"serving.topk_us.$qt", if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durNs / 1e3)))
        val cs = t.spans.filter(_.name == s"Searcher.search.$qt").toSeq
        ctx.put(s"search.wall_ms.$qt", if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.durNs / 1e6)))
      }
      val spansOf = (name: String) => t.spans.filter(_.name == name).toSeq
      def medMs(name: String) = { val ss = spansOf(name); if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durNs / 1e6)) }
      ctx.put("serving.warm_ms", medMs("ServingSession.warm"))
      ctx.put("serving.refresh_ms", medMs("ServingManager.acquire"))
      ctx.put("serving.pinned_bytes", pinnedBytes.max)
      val appends = spansOf("StreamingIndexer.appendBatch")
      ctx.put("streaming.append_ms", medMs("StreamingIndexer.appendBatch"))
      ctx.put("streaming.append_jobs", Layers.meanJobs(t, appends))
      ctx.put("streaming.live_segments", session.searcher.liveSegments.size)
      // an append is a segment write: the build layer's share of this workload
      ctx.put("build.wall_s", Layers.medianSeconds(appends))
      ctx.put("build.jobs", if (appends.isEmpty) 0.0
        else appends.map(s => t.jobsUnder(s).count(_.module == "build").toDouble).sum / appends.size)
      times.report(ctx)
      Probes.tokenize(ctx, index.pages)
      Probes.codec(ctx, index.dir)
      val hotRows = {
        import spark.implicits._
        session.searcher.postingsRaw
          .filter(col("field") === field && col("term").isInCollection(hot.map(_._2)))
          .select("segmentId", "field", "term", "df", "docDeltas", "tfs", "lens", "skips")
          .as[Wand.WandRow].collect().toSeq
      }
      Probes.search(ctx, session, hotRows, pool.filter(_.qtype == "or3").map(_.terms).take(50), field)
    }
  }
}
