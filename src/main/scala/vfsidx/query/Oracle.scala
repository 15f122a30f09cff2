package vfsidx.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import vfsidx.build.{IndexBuild, Posting}
import vfsidx.corpus.SourceFile
import vfsidx.tokenize.Tokenizer

/** Brute-force BM25 reference engine: scores straight off the corpus with
  * plain DataFrame ops, no index. The indexed path ([[Bm25Index]]) must be
  * rank-identical (docIDs and scores) to this on every query — the same
  * differential-oracle pattern the reference uses between its bsearch and
  * linear-scan execution strategies (/root/reference/vfsindex_test.go:177-201).
  */
object Oracle {

  def postings(docs: Dataset[SourceFile]): Dataset[Posting] = IndexBuild.tokenize(docs)

  /** Disjunctive BM25 top-k by brute force. */
  def topKOr(spark: SparkSession, docs: Dataset[SourceFile], query: String, k: Int): DataFrame =
    topK(spark, docs, query, k, requireAll = false)

  /** Conjunctive BM25 top-k by brute force. */
  def topKAnd(spark: SparkSession, docs: Dataset[SourceFile], query: String, k: Int): DataFrame =
    topK(spark, docs, query, k, requireAll = true)

  private def topK(spark: SparkSession, docs: Dataset[SourceFile], query: String,
                   k: Int, requireAll: Boolean): DataFrame = {
    import spark.implicits._
    val terms = Tokenizer.codeTokens(query).distinct
    if (terms.isEmpty) return Seq.empty[Hit].toDF()
    val p = postings(docs).filter($"term".isin(terms: _*)).cache()
    val nDocs = docs.count().toDouble
    // avgdl over ALL docs (zero-token docs included) — must equal the
    // index's CorpusStats statistic sum(tf)/nDocs (IndexBuild.buildGeneration)
    // or scores diverge on corpora containing empty documents.
    val avgdl = IndexBuild.tokenize(docs).groupBy($"doc_id").agg(first($"dl").as("dl"))
      .agg(sum($"dl")).as[Long].head().toDouble / nDocs
    val withIdf = p
      .join(p.groupBy($"term").agg(count(lit(1)).as("df")), "term")
      .withColumn("idf", log((lit(nDocs) - $"df" + 0.5) / ($"df" + 0.5) + 1.0))
      .withColumn("contrib",
        $"idf" * $"tf" * lit(IndexBuild.K1 + 1.0) /
          ($"tf" + lit(IndexBuild.K1) * (lit(1.0 - IndexBuild.B) + lit(IndexBuild.B) * $"dl" / avgdl)))
    val grouped = withIdf.groupBy($"doc_id")
      .agg(round(sum($"contrib"), 9).as("score"), countDistinct($"term").as("nt"))
    val filtered = if (requireAll) grouped.filter($"nt" === terms.size) else grouped
    filtered.select($"doc_id", $"score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
  }
}
