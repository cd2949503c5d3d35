package graftbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analysis.Analyzers
import graft.build.PagesGen
import graft.model.Hit
import graft.search._

/** Seeded inputs. The corpus is `PagesGen` docs [seed*n, seed*n + n); query
  * streams, appended batches and injected duplicates come from a Random
  * seeded by the same seed. */
object Corpus {
  def pages(seed: Long, n: Int): Seq[(String, String)] = range(seed * n, n)

  def range(from: Long, count: Int): Seq[(String, String)] =
    (0 until count).map { j => val i = from + j; (PagesGen.urlOf(i), PagesGen.textOf(i)) }

  def df(spark: SparkSession, pages: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(pages).toDF("url", "text")

  def textBytes(pages: Seq[(String, String)]): Long =
    pages.iterator.map(_._2.getBytes("UTF-8").length.toLong).sum
}

/** Zipf(s) over ranks 1..n, sampled by inverse CDF. PagesGen draws its
  * vocabulary log-uniformly, so vocabulary index order is frequency order
  * and rank r maps to `PagesGen.word(r - 1)`. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def rank(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1).min(n - 1) + 1
  }
  def word(): String = PagesGen.word(rank() - 1)
}

/** One query of the serving mix, in both its cold (`Searcher`) and warm
  * (`ServingSession`) form. */
final case class BenchQuery(qtype: String, terms: List[String], phrase: List[(String, Int)]) {
  def cold: Query = qtype match {
    case "term" => TermQ(terms.head)
    case "or3" => BoolQ(terms.map(t => Occur.Should -> (TermQ(t): Query)))
    case "and2" => BoolQ(terms.map(t => Occur.Must -> (TermQ(t): Query)))
    case "phrase" => PhraseQ(phrase)
    case "prefix" => ConstantScoreQ(PrefixQ(terms.head), 1f)
    case "fuzzy" => FuzzyTopQ(terms.head, Queries.FuzzyEdits, Queries.FuzzyExpansions)
  }

  def warm(s: ServingSession, field: String, k: Int): Array[Hit] = qtype match {
    case "term" => s.termTopK(field, terms.head, k)
    case "or3" => s.wandOrTopK(field, terms, k)
    case "and2" => s.boolTopK(terms.map(t => (Occur.Must, field, t)), msm = 0, k = k)
    case "phrase" => s.phraseTopK(field, phrase, k)
    case "prefix" => s.prefixTopK(field, terms.head, k)
    case "fuzzy" => s.fuzzyTopK(field, terms.head, Queries.FuzzyEdits, Queries.FuzzyExpansions, k)
  }

  /** Posting keys the warm form scores with (phrase keys pin full rows). */
  def keys: Seq[String] = if (qtype == "phrase") phrase.map(_._1) else terms
}

object Queries {
  // The traffic shape below (type weights, Zipf exponent and rank range,
  // prefix length, fuzzy edits and expansions) is an assumption, not taken
  // from a query log: it is chosen to cover every query path once per ten
  // queries. The README says which gated figures move if it is wrong.
  val QTypes: Seq[String] = Seq("term", "or3", "and2", "phrase", "prefix", "fuzzy")
  val FuzzyEdits = 1
  val FuzzyExpansions = 50
  val K = 10
  /** Zipf exponent and rank range of query terms. */
  val ZipfS = 1.0
  val ZipfRanks = 1500

  /** Query types in a fixed repeating order: 30% term, 20% OR-3
    * (auto-WAND), 20% AND-2, 10% phrase, 10% prefix, 10% fuzzy. The order
    * is fixed so every seed runs the same mix; only the terms are seeded. */
  val Pattern: IndexedSeq[String] =
    IndexedSeq("term", "or3", "and2", "term", "phrase", "or3", "term", "and2", "prefix", "fuzzy")

  /** A seeded query stream. Terms are Zipf-sampled; phrases are adjacent
    * analyzed tokens of corpus docs, so each has at least one hit. */
  def stream(seed: Long, n: Int, pages: Seq[(String, String)]): IndexedSeq[BenchQuery] = {
    val rnd = new Random(seed * 7919L + 17)
    val zipf = new Zipf(ZipfRanks, ZipfS, rnd)
    val analyzer = Analyzers.byName("standard")
    def distinctWords(k: Int): List[String] = {
      var out = List.empty[String]
      while (out.size < k) { val w = zipf.word(); if (!out.contains(w)) out = w :: out }
      out.reverse
    }
    // prefix and fuzzy terms come from four-letter words, so their expansion
    // counts are alike across seeds (a two-letter prefix expands ~190 terms)
    def longWord(): String = { var w = zipf.word(); while (w.length < 4) w = zipf.word(); w }
    def phrase(): List[(String, Int)] = {
      var out: List[(String, Int)] = Nil
      while (out.isEmpty) {
        val toks = analyzer.tokenize(pages(rnd.nextInt(pages.size))._2).toVector
        if (toks.size >= 2) {
          val i = rnd.nextInt(toks.size - 1)
          val (a, b) = (toks(i), toks(i + 1))
          if (a.term != b.term) out = List(a.term -> 0, b.term -> (b.position - a.position))
        }
      }
      out
    }
    (0 until n).map { i =>
      Pattern(i % Pattern.size) match {
        case "term" => BenchQuery("term", distinctWords(1), Nil)
        case "or3" => BenchQuery("or3", distinctWords(3), Nil)
        case "and2" => BenchQuery("and2", distinctWords(2), Nil)
        case "phrase" => BenchQuery("phrase", Nil, phrase())
        case "prefix" => BenchQuery("prefix", List(longWord().take(3)), Nil)
        case "fuzzy" =>
          val w = longWord()
          val p = 1 + rnd.nextInt(w.length - 1)
          BenchQuery("fuzzy", List(w.updated(p, ('a' + rnd.nextInt(26)).toChar)), Nil)
      }
    }
  }
}
