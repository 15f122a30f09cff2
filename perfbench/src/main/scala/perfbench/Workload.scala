package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import vfsidx.build.{NumericIndex, TrigramIndex}
import vfsidx.query.{Bm25Index, QueryParser, RegexTrigram}
import vfsidx.tokenize.Tokenizer

/** Paths of a run and the live handles its ops read through. The
  * searchable table holds the corpus rows plus an `n_chars` column; the
  * word index covers `content`, the column indexes `content` (trigram)
  * and `n_chars` (numeric). */
final class Ctx(val spark: SparkSession, val work: String) {
  val tableDir = s"$work/table"
  val sliceDir = s"$work/slices"
  val wordDir = s"$work/index/word"
  val colsRoot = s"$work/index/cols"
  val triDir: String = QueryParser.triDir(colsRoot, "content")

  /** Re-read after every append: a DataFrame keeps the file listing it was
    * planned with. */
  var table: DataFrame = _
  var bm25: Bm25Index = _
  def reopen(): Unit = {
    table = spark.read.parquet(tableDir)
    bm25 = new Bm25Index(spark, wordDir)
  }
}

/** One query of a stream. `plan` is the engine call (on the pruned paths
  * it already runs the driver-side pruning jobs); collecting the frame it
  * returns is the final job. */
final class Op(val family: String, val shape: String, val text: String,
               val plan: Ctx => DataFrame, val extract: Array[Row] => Vector[(Long, Double)],
               var expected: Expected, val gate: Gate) {
  override def toString: String = s"$shape[$text]"
}

/** What the engine's cost gate for an op compares with its floor. */
sealed trait Gate
/** Distinct trigram keys of the needle, times the trigram index's rows. */
final case class TriGate(keys: Long) extends Gate
/** Σ merged-dictionary df of the query terms. */
final case class Bm25Gate(terms: Seq[String]) extends Gate
case object NoGate extends Gate

object Op {
  val K = 10
  def ids(rows: Array[Row]): Vector[(Long, Double)] = rows.map(r => (r.getLong(0), 0.0)).toVector
  def scored(rows: Array[Row]): Vector[(Long, Double)] = rows.map(r => (r.getLong(0), r.getDouble(1))).toVector
  def overlaps(rows: Array[Row]): Vector[(Long, Double)] = rows.map(r => (r.getLong(0), r.getLong(1).toDouble)).toVector
}

/** Generates query ops from the seed, each with its reference answer:
  * computed on the driver from the corpus (BM25 by [[BruteBm25]],
  * substring by `String.contains`, regex by `java.util.regex`, `nears` by
  * counting shared trigram keys, ranges by comparison) or, for the query
  * language, by the unindexed `QueryParser.query` ([[finish]]). */
final class Generator(spark: SparkSession, corpus: Corpus, seed: Long) {
  private val rng = new Random(seed * 31 + 7)
  private def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
  private def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)

  private val docs = corpus.docs
  private val brute = new BruteBm25(docs)
  private val vocab = brute.byDf(corpus.base)
  private val head = vocab.take(5)
  private val medium = vocab.slice(5, 27)

  /** Code lines (no comment lines) of doc `d`. */
  private def codeLines(d: Int): IndexedSeq[String] =
    docs(d).content.split("\n").toIndexedSeq.filterNot(_.startsWith("//"))

  private def tokensOf(line: String): IndexedSeq[String] = line.split(" ").toIndexedSeq.filter(_.nonEmpty)

  private def refIds(nDocs: Int)(p: Int => Boolean): Expected =
    ExpectIds((0 until nDocs).filter(p).map(i => docs(i).doc_id).toVector)

  private lazy val docKeys = docs.map(d => Tokenizer.distinctTriKeys(d.content))

  /** Query-language ops whose references [[finish]] computes. */
  private val pendingDsl = scala.collection.mutable.ArrayBuffer.empty[(Op, Int)]

  /** Computes the pending query-language references with the unindexed
    * `QueryParser.query`, in one Spark job over the driver-held rows. */
  def finish(): Unit = if (pendingDsl.nonEmpty) {
    import spark.implicits._
    val t = docs.indices.map(i => (docs(i).doc_id, docs(i).content, corpus.nChars(i)))
      .toDF("doc_id", "content", "n_chars")
    val got = pendingDsl.zipWithIndex.map { case ((op, nDocs), i) =>
      QueryParser.query(t.filter(col("doc_id") < nDocs.toLong), op.text).select(lit(i).as("q"), col("doc_id"))
    }.reduce(_ union _).as[(Int, Long)].collect().groupBy(_._1)
    pendingDsl.zipWithIndex.foreach { case ((op, _), i) =>
      op.expected = ExpectIds(got.getOrElse(i, Array.empty).map(_._2).sorted.toVector)
    }
    pendingDsl.clear()
  }

  private def triGate(needle: String): Gate = TriGate(Tokenizer.triKeys(needle).distinct.size.toLong)

  private def bm25(shape: String, q: String, and: Boolean, nDocs: Int): Op = {
    val (top, all) = brute.rank(nDocs, q, Op.K, and)
    new Op("bm25", shape, q,
      c => if (and) c.bm25.topKAnd(q, Op.K) else c.bm25.topKOr(q, Op.K),
      Op.scored, ExpectScored(top, all), Bm25Gate(Tokenizer.codeTokens(q).distinct))
  }

  private def substring(needle: String, nDocs: Int): Op =
    new Op("trigram", "substring", needle,
      c => TrigramIndex.searchExact(c.spark, c.triDir, c.table, "doc_id", "content", needle).select(col("doc_id")),
      Op.ids, refIds(nDocs)(docs(_).content.contains(needle)), triGate(needle))

  /** `literal` then whitespace and a word: the literal is the trigram
    * clause, `\s` and `\w` add no keys. */
  private def regex(literal: String, nDocs: Int): Op = {
    val pattern = literal + "\\s+\\w+"
    val re = java.util.regex.Pattern.compile(pattern)
    new Op("trigram", "regex", pattern,
      c => RegexTrigram.searchRegex(c.spark, c.triDir, c.table, "doc_id", "content", pattern).select(col("doc_id")),
      Op.ids, refIds(nDocs)(i => re.matcher(docs(i).content).find()), triGate(literal))
  }

  private def nears(needle: String, nDocs: Int): Op = {
    val keys = Tokenizer.triKeys(needle).distinct.toSet
    val hits = (0 until nDocs).map(i => (docs(i).doc_id, docKeys(i).count(keys.contains).toDouble))
      .filter(_._2 > 0).sortBy { case (d, o) => (-o, d) }.take(Op.K).toVector
    new Op("trigram", "nears", needle,
      c => TrigramIndex.nears(c.spark, c.triDir, needle, Op.K),
      Op.overlaps, ExpectRanked(hits), triGate(needle))
  }

  private def range(lo: Long, hi: Long, nDocs: Int): Op =
    new Op("dsl", "range", s"n_chars in [$lo, $hi)",
      c => NumericIndex.range(c.spark, c.colsRoot, "n_chars", Some(lo), Some(hi)),
      Op.ids, refIds(nDocs)(i => corpus.nChars(i) >= lo && corpus.nChars(i) < hi), NoGate)

  private def dsl(needle: String, cond: String, nDocs: Int): Op = {
    val q = s"""content.search("$needle") && $cond"""
    val op = new Op("dsl", "dsl", q,
      c => QueryParser.queryIndexed(c.spark, c.table, "doc_id", c.colsRoot, q).select(col("doc_id")),
      Op.ids, ExpectIds(Vector.empty), triGate(needle))
    pendingDsl += op -> nDocs
    op
  }

  /** A random substring of doc `d`'s content of `len` chars. */
  private def cut(d: Int, len: Int): String = {
    val s = docs(d).content
    val at = rng.nextInt(math.max(1, s.length - len))
    s.substring(at, math.min(s.length, at + len))
  }

  /** A run of whole tokens of at least `minLen` chars from a code line of
    * doc `d`, followed on that line by one more token. */
  private def tokenRun(d: Int, minLen: Int): Option[String] = {
    val cands = codeLines(d).map(tokensOf).filter(_.mkString(" ").length > minLen + 2)
    if (cands.isEmpty) None else {
      val toks = pick(cands)
      val start = rng.nextInt(toks.size - 1)
      var end = start + 1
      while (end < toks.size - 1 && toks.slice(start, end).mkString(" ").length < minLen) end += 1
      val lit = toks.slice(start, end).mkString(" ")
      if (lit.length >= minLen && end < toks.size) Some(lit) else None
    }
  }

  private def retry[A](what: String)(f: => Option[A]): A =
    Iterator.continually(f).take(200).collectFirst { case Some(a) => a }
      .getOrElse(throw new IllegalStateException(s"could not generate a $what op from this corpus"))

  /** One op of `shape` over docs [0, nDocs), cut from a doc in
    * [from, nDocs) — so a probe after a refresh round can target the
    * round's new docs. Every shape stays under its cost gate at these
    * sizes (asserted after the build). */
  def op(shape: String, nDocs: Int, from: Int = 0): Op = {
    def doc = from + rng.nextInt(nDocs - from)
    shape match {
      case "bm25_or" =>
        val terms = (1 to between(1, 4)).map { _ =>
          rng.nextInt(10) match {
            case x if x < 3 => pick(head)
            case x if x < 7 => pick(medium)
            case _ => pick(tokensOf(pick(codeLines(doc))))
          }
        }
        bm25(shape, terms.mkString(" "), and = false, nDocs)
      case "bm25_and" =>
        val toks = codeLines(doc).flatMap(tokensOf).distinct
        val rare = toks.filterNot(t => head.contains(t) || medium.contains(t))
        val q = ((if (rare.nonEmpty) Seq(pick(rare)) else Nil) ++
          (1 to between(1, 2)).map(_ => pick(toks))).distinct.mkString(" ")
        bm25(shape, q, and = true, nDocs)
      case "substring" => substring(cut(doc, between(3, 12)), nDocs)
      case "regex" => regex(retry(shape)(tokenRun(doc, 4)), nDocs)
      case "nears" => nears(cut(doc, between(8, 20)), nDocs)
      case "range" =>
        val v = corpus.nChars(doc)
        range(v, v + between(5, 30), nDocs)
      case "dsl" =>
        val d = doc
        val v = corpus.nChars(d)
        val needle = retry(shape)(Some(cut(d, between(6, 10))).filterNot(_.exists("\"\\\n".contains(_))))
        dsl(needle, s"n_chars >= ${v - between(50, 300)} && n_chars < ${v + between(50, 300)}", nDocs)
    }
  }
}

object Generator {
  /** Merged-dictionary df of `terms` (the figure `Bm25Index` gates on). */
  def dictDf(c: Ctx, terms: Seq[String]): Map[String, Long] = {
    import c.spark.implicits._
    c.bm25.dictionary.filter($"term".isin(terms.distinct: _*)).select($"term", $"df")
      .as[(String, Long)].collect().toMap
  }
}
