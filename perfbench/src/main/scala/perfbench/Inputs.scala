package perfbench

import scala.util.Random

import vfsidx.build.IndexBuild
import vfsidx.codec.VarByte
import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.tokenize.Tokenizer

/** The generated corpus of one run: `Synth.genDoc` over a seed-chosen id
  * window, renumbered dense from 0 (the build slices batches by `doc_id`
  * ranges in `[0, n)` and skips ids outside it). Docs `[0, base)` form the
  * initial build; refresh round `r` appends the next `slice` docs. */
final class Corpus(seed: Long, val base: Int, val slice: Int, val rounds: Int) {
  val offset: Long = 1000000L + new Random(seed).nextInt(1000000).toLong * 1000L
  val docs: Array[SourceFile] =
    Array.tabulate(base + slice * rounds)(j => Synth.genDoc(offset + j).copy(doc_id = j.toLong))

  /** The `n_chars` column of the searchable table. */
  def nChars(i: Int): Long = docs(i).content.length.toLong

  /** Doc count after `r` refresh rounds. */
  def docsAfter(r: Int): Int = base + slice * r

  /** Docs appended by refresh round `r` (1-based). */
  def sliceDocs(r: Int): Array[SourceFile] = docs.slice(docsAfter(r - 1), docsAfter(r))

  def contentBytes(n: Int): Long =
    docs.iterator.take(n).map(_.content.getBytes("UTF-8").length.toLong).sum
}

/** Brute-force BM25 over the driver-held docs: the index's formula (idf
  * over the merged df and doc count, `VarByte.bm25Norm`, scores rounded
  * HALF_UP to 9 decimals) with no index, segment or Spark job. */
final class BruteBm25(docs: Array[SourceFile]) {
  private val tfs = docs.map(d => Tokenizer.termFreqs(d.content))

  private def df(n: Int, term: String): Long = {
    var c = 0L; var i = 0
    while (i < n) { if (tfs(i)._1.containsKey(term)) c += 1; i += 1 }
    c
  }

  /** Terms of docs [0, n), by descending df (ties by term). */
  def byDf(n: Int): IndexedSeq[String] = {
    val m = new java.util.HashMap[String, Long]()
    tfs.iterator.take(n).foreach(_._1.keySet().forEach(t => m.merge(t, 1L, (a: Long, b: Long) => a + b)))
    import scala.jdk.CollectionConverters._
    m.asScala.toIndexedSeq.sortBy { case (t, d) => (-d, t) }.map(_._1)
  }

  /** (top-k hits, every matching doc's score) over docs [0, n). */
  def rank(n: Int, query: String, k: Int, requireAll: Boolean): (Vector[(Long, Double)], Map[Long, Double]) = {
    val terms = Tokenizer.codeTokens(query).distinct
    val dfs = terms.map(t => t -> df(n, t)).toMap
    if (terms.isEmpty || (requireAll && dfs.values.exists(_ == 0L))) return (Vector.empty, Map.empty)
    val avgdl = tfs.iterator.take(n).map(_._2.toLong).sum.toDouble / n
    val idf = dfs.map { case (t, d) => t -> math.log((n - d + 0.5) / (d + 0.5) + 1.0) }
    val scores = Map.newBuilder[Long, Double]
    var i = 0
    while (i < n) {
      val (m, dl) = tfs(i)
      var s = 0.0; var nt = 0
      terms.foreach { t =>
        val tf = m.getOrDefault(t, 0)
        if (tf > 0) {
          s += idf(t) * VarByte.bm25Norm(tf, dl, avgdl, IndexBuild.K1, IndexBuild.B)
          nt += 1
        }
      }
      if (nt > 0 && (!requireAll || nt == terms.size))
        scores += docs(i).doc_id -> BigDecimal(s).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      i += 1
    }
    val all = scores.result()
    (all.toVector.sortBy { case (d, s) => (-s, d) }.take(k), all)
  }
}

/** What a correct answer must look like. An answer is the rows the engine
  * returned, as (id, score) pairs in returned order (score 0 for plain id
  * sets, which are compared sorted). */
sealed trait Expected {
  def diff(got: Vector[(Long, Double)]): Option[String]
  /** A deliberately wrong copy, for the benchmark's self-test. */
  def corrupted: Expected
}

final case class ExpectIds(ids: Vector[Long]) extends Expected {
  def diff(got: Vector[(Long, Double)]): Option[String] = {
    val g = got.map(_._1).sorted
    if (g == ids) None
    else Some(s"${g.size} ids, expected ${ids.size}: extra " + g.diff(ids).take(3).mkString("[", ",", "]") +
      ", missing " + ids.diff(g).take(3).mkString("[", ",", "]"))
  }
  def corrupted: Expected = ExpectIds((ids :+ -1L).sorted)
}

/** Exact ranked rows, ties broken by id: `nears` overlaps. */
final case class ExpectRanked(hits: Vector[(Long, Double)]) extends Expected {
  def diff(got: Vector[(Long, Double)]): Option[String] =
    if (got == hits) None
    else Some(s"ranked ${got.take(3).mkString(",")}..., expected ${hits.take(3).mkString(",")}...")
  def corrupted: Expected = ExpectRanked(hits :+ ((-1L, 0.0)))
}

/** BM25 top-k: every returned doc carries its exact score and the returned
  * scores are the k best, in descending order. Scores compare within 1e-6
  * (the engine's distributed sum and the Spark driver's sequential sum may round
  * the ninth decimal differently), so docs tied at the k-th score may
  * legitimately differ. */
final case class ExpectScored(top: Vector[(Long, Double)], all: Map[Long, Double]) extends Expected {
  private val Tol = 1e-6
  def diff(got: Vector[(Long, Double)]): Option[String] = {
    if (got.size != top.size) return Some(s"${got.size} hits, expected ${top.size}")
    got.zip(top).zipWithIndex.foreach { case (((d, s), (_, best)), i) =>
      all.get(d) match {
        case None => return Some(s"hit $i: doc $d does not match the query")
        case Some(ref) if math.abs(ref - s) > Tol => return Some(s"hit $i: doc $d scored $s, expected $ref")
        case _ => ()
      }
      if (math.abs(s - best) > Tol) return Some(s"hit $i: score $s, expected the k-best score $best")
    }
    None
  }
  def corrupted: Expected =
    if (top.isEmpty) ExpectScored(Vector((-1L, 1.0)), Map(-1L -> 1.0))
    else ExpectScored(top.map { case (d, s) => (d, s + 1.0) }, all.map { case (d, s) => (d, s + 1.0) })
}
