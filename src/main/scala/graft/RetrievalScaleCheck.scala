package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WIDE-VOCABULARY retrieval scaling harness (r13 verdict #2).
  *
  * The stock `documents` fixture has 31 token types, every one but
  * `dup` appearing in ~77% of documents — so ANY panel probe selects
  * the whole (stopword) vocabulary and its exact scoring join is
  * corpus × queries on any index layout (the BASELINE r13 "vocabulary
  * bound" decomposition). That bound is a FIXTURE property, not an
  * index property; this harness measures the panel workload on a
  * corpus whose vocabulary grows with it, the way real text behaves:
  *
  * Each document is `tokensPerDoc` tokens drawn from a Zipf-shaped
  * (log-uniform rank, the classic 1/r law) vocabulary of size
  * `nDocs / 10` — deterministic per (doc_id, slot) via xxhash64, no
  * RNG. A FIXED 100-query panel is held out of the corpus; its
  * queries mix rare and common terms exactly like the corpus docs, so
  * the probes' rarest-`maxQueryTerms` rule has real rare terms to
  * pick (df in the tens, not 77% of the corpus).
  *
  * At each size (1x / 10x / 30x of a ~sf0.1-sized 5k-doc corpus) it
  * times, over the SAME panel:
  *   - direct tfidf/bm25  (re-tokenize + df over the corpus per query
  *     batch — the corpus-linear terms)
  *   - index build        (the ETL-time line the indexed probes
  *     amortize; corpus-linear by design)
  *   - indexed tfidf/bm25 (vocab-sized df lookup + partition-pruned
  *     postings ∝ the selected terms' document frequencies)
  *
  * Expected shape (the claim under measurement): direct grows ~linear
  * with the corpus; indexed grows SUBLINEAR — the selected rare terms'
  * posting lists grow with df, far below corpus growth. Output parity
  * direct == indexed is asserted at every size (row-set equality), so
  * the timing compares equal answers.
  *
  * Usage: `runMain graft.RetrievalScaleCheck [factor2] [factor3]`
  * (defaults 10 and 30). Emits one JSON line:
  * `{"metric":"retrieval_scale","sizes":{...}}`.
  */
object RetrievalScaleCheck {

  // 20k × 100-token docs at 1x (≈4x the sf0.1 fixture's token count) so
  // the corpus-linear terms are VISIBLE above job overhead at 30x
  // (60M tokens) — the first cut at 5k × 20 read flat on both paths,
  // measuring overhead, not the operator
  private val BaseDocs = 20000L
  private val TokensPerDoc = 100
  private val PanelSize = 100L

  /** Deterministic wide-vocab corpus+panel frame: `doc_id`, `text`.
    * Vocabulary size = nDocs/10; token slot k of doc d has rank
    * floor(V^u) with u = uniform-from-hash(d, k) — the log-uniform
    * inverse CDF of Zipf(1). */
  private[graft] def wideVocabDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val v = math.max(100L, nDocs / 10)
    val lnV = math.log(v.toDouble)
    val toks = (0 until TokensPerDoc).map { k =>
      val u = (xxhash64(col("doc_id"), lit(k))
        .bitwiseAND(lit(Long.MaxValue))).cast("double") / lit(Long.MaxValue.toDouble)
      concat(lit("w"), greatest(lit(1L),
        floor(exp(u * lit(lnV))).cast("long")))
    }
    spark.range(nDocs).toDF("doc_id")
      .select(col("doc_id"), concat_ws(" ", toks: _*).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val f2 = args.headOption.map(_.toInt).getOrElse(10)
    val f3 = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    val spark = GraftSession.local(extras = Seq(
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString))
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.TextAnalysis

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val sizes = Seq("1x" -> BaseDocs, s"${f2}x" -> BaseDocs * f2,
      s"${f3}x" -> BaseDocs * f3)
    val results = sizes.map { case (tag, nDocs) =>
      // cache key carries the GENERATOR parameters: a later tuning of
      // tokens-per-doc must rebuild, not silently re-measure the old
      // corpus under the new labels
      val root = s"/tmp/graft-scale/widevocab/${nDocs}d${TokensPerDoc}t"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val all = wideVocabDocs(spark, nDocs)
      val corpusPath = s"$root/corpus"
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$corpusPath/_SUCCESS"))) {
        all.filter(col("doc_id") >= PanelSize)
          .repartition(8).write.mode("overwrite")
          .option("parquet.block.size", (4 * 1024 * 1024).toString)
          .parquet(corpusPath)
      }
      val corpus = spark.read.parquet(corpusPath)
      val panel = all.filter(col("doc_id") < PanelSize)
      // warm-up: touch the corpus file once untimed
      noop(corpus.groupBy(length(col("text"))).count())
      val directTfidf = timed(noop(
        TextAnalysis.tfidfTopK(corpus, panel, "doc_id", "text", k = 5)))
      val directBm25 = timed(noop(
        TextAnalysis.bm25TopK(corpus, panel, "doc_id", "text", k = 5)))
      val idx = s"$root/idx"
      val build = timed(
        TextAnalysis.writeLexicalIndex(corpus, "doc_id", "text", idx))
      val indexedTfidf = timed(noop(
        TextAnalysis.tfidfTopKIndexed(spark, idx, panel, "doc_id", "text", k = 5)))
      val indexedBm25 = timed(noop(
        TextAnalysis.bm25TopKIndexed(spark, idx, panel, "doc_id", "text", k = 5)))
      // parity: the timings above compare EQUAL answers, asserted
      val dT = TextAnalysis.tfidfTopK(corpus, panel, "doc_id", "text", k = 5)
      val iT = TextAnalysis.tfidfTopKIndexed(spark, idx, panel, "doc_id", "text", k = 5)
      require(dT.exceptAll(iT).isEmpty && iT.exceptAll(dT).isEmpty,
        s"wide-vocab $tag: indexed tfidf must equal direct")
      val m = Seq("direct_tfidf" -> directTfidf, "direct_bm25" -> directBm25,
        "index_build" -> build, "indexed_tfidf" -> indexedTfidf,
        "indexed_bm25" -> indexedBm25)
      System.err.println(f"[retrieval-scale] $tag%-4s (${nDocs}%7d docs) " +
        m.map { case (k, s) => f"$k=$s%6.2f" }.mkString(" "))
      tag -> m
    }
    val js = results.map { case (tag, m) =>
      "\"" + tag + "\":{" +
        m.map { case (k, s) => s""""$k":$s""" }.mkString(",") + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"retrieval_scale","base_docs":$BaseDocs,"sizes":$js}""")
    spark.stop()
  }
}
