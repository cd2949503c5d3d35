package graftbench

import org.apache.spark.sql.functions._
import graft.analysis.Analyzers
import graft.build.IndexBuilder
import graft.codec.PostingsCodec
import graft.model.PostingRow
import graft.search.{Bm25, PostingCursor, ServingSession, Wand}

/** Pure-JVM probes of the layers under Spark, run after the traced loop:
  * warm up, then the median of timed repetitions. No JMH. */
object Probes {
  private val WarmUp = 3
  private val Reps = 7
  /** Keeps results alive so the JIT cannot drop the probed work. */
  @volatile var sink: Long = 0L

  def nsPerUnit(units: Long)(body: => Long): Double = {
    var s = 0L
    (0 until WarmUp).foreach(_ => s += body)
    val ns = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      s += body
      (System.nanoTime() - t0).toDouble / math.max(units, 1L)
    }
    sink += s
    Stats.median(ns)
  }

  private def probe[A](ctx: Ctx, layer: String, name: String)(body: => A): A = {
    ctx.tracer.on = true
    try ctx.span(layer, name)(body) finally ctx.tracer.on = false
  }

  /** `Analyzers.byName(...).tokenize` over a corpus sample. */
  def tokenize(ctx: Ctx, pages: Seq[(String, String)]): Unit = {
    val sample = pages.take(400).map(_._2)
    Seq("standard" -> "analysis.ns_per_token", "simple" -> "analysis.ns_per_token_simple").foreach {
      case (name, metric) =>
        val a = Analyzers.byName(name)
        val tokens = sample.map(t => a.tokenize(t).size.toLong).sum
        ctx.put(metric, probe(ctx, "analysis", s"Analyzers.$name.tokenize") {
          nsPerUnit(tokens)(sample.iterator.map(t => a.tokenize(t).size.toLong).sum)
        })
    }
  }

  /** `PostingsCodec.decode` and `PostingsCodec.Encoder` over posting rows
    * read back from a built index. */
  def codec(ctx: Ctx, indexDir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = spark.read.parquet(IndexBuilder.postingsPath(indexDir))
      .transform(IndexBuilder.withPayloadsCol)
      .select("segmentId", "field", "term", "df", "ttf", "docDeltas", "tfs", "positions", "lens",
        "skips", "payloads", "offsets")
      .orderBy(col("segmentId"), col("term")).limit(4000)
      .as[PostingRow].collect()
    val postings = rows.map(_.df.toLong).sum
    def decodeAll(): Array[graft.codec.DecodedPostings] =
      rows.map(r => PostingsCodec.decode(r.df, r.docDeltas, r.tfs, r.positions, r.lens))
    val decoded = decodeAll()
    val perDocPositions = decoded.map(d =>
      Array.tabulate(d.docIds.length)(i => java.util.Arrays.copyOfRange(d.posFlat, d.posStart(i), d.posStart(i + 1))))
    ctx.put("codec.decode_ns_per_posting", probe(ctx, "codec", "PostingsCodec.decode") {
      nsPerUnit(postings)(decodeAll().map(_.docIds.length.toLong).sum)
    })
    ctx.put("codec.encode_ns_per_posting", probe(ctx, "codec", "PostingsCodec.Encoder") {
      nsPerUnit(postings) {
        var bytes = 0L
        var r = 0
        while (r < decoded.length) {
          val d = decoded(r)
          val enc = new PostingsCodec.Encoder
          var i = 0
          while (i < d.docIds.length) {
            enc.add(d.docIds(i), d.tfs(i), perDocPositions(r)(i), d.lens(i))
            i += 1
          }
          bytes += enc.finish().docDeltas.length
          r += 1
        }
        bytes
      }
    })
    // the probe is only meaningful if encode inverts decode
    val enc = new PostingsCodec.Encoder
    val d0 = decoded.head
    d0.docIds.indices.foreach(i => enc.add(d0.docIds(i), d0.tfs(i), perDocPositions(0)(i), d0.lens(i)))
    ctx.verify(java.util.Arrays.equals(enc.finish().docDeltas, rows.head.docDeltas),
      "codec probe: re-encoded doc deltas differ from the stored row")
  }

  /** `PostingCursor` advance, BM25 scoring and warm WAND over the pinned
    * rows of a serving session. */
  def search(ctx: Ctx, session: ServingSession, rows: Seq[Wand.WandRow], orQueries: Seq[List[String]],
             field: String): Unit = {
    val postings = rows.map(_.df.toLong).sum
    ctx.put("search.cursor_ns_per_advance", probe(ctx, "search", "PostingCursor.advance") {
      nsPerUnit(postings) {
        var n = 0L
        rows.foreach { r =>
          val c = new PostingCursor(r.df, r.docDeltas, r.tfs, r.lens, r.skips)
          c.next()
          while (!c.exhausted) { n += c.doc; c.next() }
        }
        n
      }
    })
    val bm25 = Bm25.default
    val maxDoc = session.searcher.maxDoc
    val sttf = session.searcher.sumTotalTermFreq
    val df = rows.groupBy(_.term).map { case (t, rs) => t -> rs.map(_.df.toLong).sum }
    val scored = rows.map { r =>
      val (_, tfs, lens) = PostingsCodec.decodeDocs(r.df, r.docDeltas, r.tfs, r.lens)
      (bm25.termWeight(df(r.term), maxDoc, sttf), tfs.map(_.toFloat), lens.map(l => bm25.encodeNormValue(1f, l)))
    }
    ctx.put("search.bm25_ns_per_score", probe(ctx, "search", "Bm25.score") {
      nsPerUnit(postings) {
        var acc = 0.0
        scored.foreach { case (w, tfs, norms) =>
          var i = 0
          while (i < tfs.length) { acc += w.score(tfs(i), norms(i)); i += 1 }
        }
        acc.toLong
      }
    })
    if (orQueries.nonEmpty) {
      orQueries.foreach(q => session.wandOrTopK(field, q, Queries.K)) // pin every key first
      ctx.put("search.wand_ns_per_query", probe(ctx, "search", "ServingSession.wandOrTopK") {
        nsPerUnit(orQueries.size)(orQueries.map(q => session.wandOrTopK(field, q, Queries.K).length.toLong).sum)
      })
    }
  }
}
