package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared fixture readers for the query suites.
  *
  * `events.parquet` has shipped in two layouts across driver rounds:
  * TIMESTAMP(NANOS) (Spark 4's parquet reader rejects it outright with
  * [PARQUET_TYPE_ILLEGAL] unless `spark.sql.legacy.parquet.nanosAsLong`
  * makes `ts` arrive as LongType nanos) and plain timestamp[us]. The
  * reader adapts to what the footer actually says instead of assuming a
  * layout. Either way the timestamps are µs-precision instants and
  * Spark/DuckDB see identical values (UTC session; [[graft.GraftSession]] also sets
  * `spark.sql.parquet.inferTimestampNTZ.enabled=false` so naive µs
  * columns load as TimestampType directly, keeping scan-level pushdown).
  */
object Tables {

  def apply(s: SparkSession, dir: String, n: String): DataFrame =
    if (n == "events") events(s, dir) else s.read.parquet(s"$dir/$n.parquet")

  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) layout under nanosAsLong: rebuild with integer
      // `div`, not `/` — a double mantissa can't hold ns-epoch values
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // naive µs layout when NTZ inference is on: same instant under the
      // UTC session zone
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** The heavy-hitters fixture shared by ext98 (batch) and st36
    * (streaming): every 2nd document rewritten to a fixed 13-word
    * boilerplate (the planted heavy family — its 12 bigrams), then
    * exploded to adjacent token bigrams. One definition so the batch
    * and streaming twins provably score the SAME item stream, and so
    * the streaming sketch's batch verification pass re-derives the
    * identical corpus. Works on batch and streaming frames alike
    * (narrow codegen'd projections only). `keep` carries extra columns
    * (e.g. the ext101 group key) through the explode. */
  /** The 13-word planted boilerplate of the heavy-hitters fixture — ONE
    * definition interpolated everywhere it appears (boilerBigrams, the
    * shared DuckDB oracle, fw_sketch's engine SQL), so a fixture change
    * is one edit, not three coordinated ones. */
  val BoilerSentence: String = "granite lighthouses hum beneath amber " +
    "fog while copper gulls spiral over quiet breakwaters"

  def boilerBigrams(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val boiler = BoilerSentence
    val w = col("__w")
    val kept = keep.map(col)
    docs.select(kept :+
        when(col("doc_id") % 2 === 0, lit(boiler))
          .otherwise(col("text")).as("text"): _*)
      .select(kept :+
        filter(split(trim(col("text")), "\\s+"), t => t =!= "").as("__w"): _*)
      .select(kept :+
        explode(when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1),
            i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
          .otherwise(array().cast("array<string>"))).as("item"): _*)
  }

  /** The Count-Min probe set shared by the batch (ext103) and streaming
    * (st38) twins: distinct bigrams of the deterministic 1/97 document
    * sample (probing a sample's n-gram frequencies against the corpus
    * sketch — the importance-weighting shape) plus three planted absent
    * strings that exercise the est-for-missing-item path. ONE
    * definition so both twins provably probe the same set. */
  def countMinProbes(docs: DataFrame): DataFrame =
    boilerBigrams(docs.filter(col("doc_id") % 97 === 3)).select(col("item"))
      .unionByName(docs.sparkSession.range(1).select(
        explode(typedlit(Seq(
          "absent probe alpha", "absent probe beta", "absent probe gamma")))
          .as("item")))

  /** Stage the DRIFTING three-shape JSON corpus shared by the VARIANT
    * read-path (ext88) and sink-path (fw_variant) queries — one
    * definition so both provably exercise the SAME heterogeneous data:
    * doc_id % 3 = 0 → nested meta.lang, 1 → flat lang, 2 → body with
    * NO lang. Deletes and rewrites `base`, returns the jsonl dir. */
  def stageDriftingJsonl(s: SparkSession, dir: String, base: String): String = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // ignoreNullFields=false: to_json's default DROPS null fields, so a
    // null lang in a shape-0/1 row would silently become shape-2's
    // "no lang key" and the VARIANT readers would coalesce it to 'und'
    // where the oracle (reading the parquet lang column) keeps NULL.
    // The fixture has no null langs today; this pins the contract so a
    // fixture change can't open a latent oracle mismatch (ADVICE r8).
    val jsonOpts = Map("ignoreNullFields" -> "false")
    s.read.parquet(s"$dir/documents.parquet").select(
        when(col("doc_id") % 3 === 0,
          to_json(struct(col("doc_id"), col("text"),
            struct(col("lang")).as("meta")), jsonOpts))
        .when(col("doc_id") % 3 === 1,
          to_json(struct(col("doc_id"), col("text"), col("lang")), jsonOpts))
        .otherwise(
          to_json(struct(col("doc_id"), col("text").as("body")), jsonOpts))
        .as("value"))
      .write.format("text").save(s"$base/corpus_jsonl")
    s"$base/corpus_jsonl"
  }
}
