package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`) — the
  * LLM-pipeline ANN tier (SURVEY §7 module 8).
  *
  * Scale design:
  *   - [[cosineTopK]] is the exact baseline: broadcast the (small) query
  *     set and stream the big side through one scan — no shuffle of the
  *     corpus at all; the only shuffle is the per-query top-k window over
  *     |queries| × |corpus| score rows. Right when queries ≪ corpus.
  *   - [[annTopK]] is the scale path: random-hyperplane LSH buckets both
  *     sides; candidates share a bucket, so the join is equality-keyed
  *     (shuffle on bucket id) and each query scores only its bucket —
  *     approximate, tunable by `planes` (recall ↑ as planes ↓).
  *   - All math is `double`; dot products via `zip_with` + `aggregate`
  *     (codegen'd higher-order functions, no UDF in the hot path).
  */
object Similarity {

  /** Sequential-order dot product of two array<double> columns — the same
    * accumulation order every engine's naive loop uses. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Add a `__vd` double-vector column. */
  private def prepared(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__vd", col(vecCol).cast("array<double>"))

  /** Codegen'd pairwise cosine ([[graft.functions.CosineSimilarity]]):
    * one fused primitive loop per pair instead of three higher-order
    * passes with intermediate arrays. */
  private def cosine(spark: org.apache.spark.sql.SparkSession,
                     a: Column, b: Column): Column = {
    graft.sql.GraftExtensions.ensureRegistered(spark)
    call_function("cosine_sim", a, b)
  }

  /** The ONE broadcast-batch exact top-k scaffold behind [[cosineTopK]]
    * and [[hardNegatives]]: corpus side ("nid", "cv" + `carry` columns)
    * × broadcast query side ("qid", "qv"), pair predicate, rounded
    * cosine, per-qid rank-filtered window. Shared so the ext05 tie/
    * rounding discipline (round to 6 dp; order (cosine desc, nid asc))
    * is enforced by construction, not by hand-synchronized copies. */
  private def broadcastTopK(c: DataFrame, q: DataFrame, pairFilter: Column,
                            carry: Seq[String], k: Int): DataFrame = {
    val spark = c.sparkSession
    c.crossJoin(broadcast(q))
      .filter(pairFilter)
      .select(Seq(col("qid"), col("nid")) ++ carry.map(col) :+
        round(cosine(spark, col("qv"), col("cv")), 6).as("cosine"): _*)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(Seq(col("qid"), col("rnk"), col("nid")) ++ carry.map(col) :+
        col("cosine"): _*)
  }

  /** Exact top-k cosine neighbors for each query vector. Scores are
    * rounded to 6 dp and ranked (rounded score desc, neighbor id asc) so
    * the ranking is reproducible across engines/precisions. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, vecCol)
      .select(col(idCol).as("nid"), col("__vd").as("cv"))
    val q = prepared(queries, vecCol)
      .select(col(idCol).as("qid"), col("__vd").as("qv"))
    broadcastTopK(c, q, col("nid") =!= col("qid"), Nil, k)
  }

  /** HARD-negative mining for contrastive training: for each anchor in
    * a bounded training batch, the top-k HIGHEST-cosine corpus vectors
    * carrying a DIFFERENT label — the negatives that actually move an
    * InfoNCE/triplet loss. [[contrastivePairs]] draws its negatives
    * RANDOMLY (md5-ranked within the derived negative label); random
    * negatives go easy at scale — most random pairs are already far
    * apart, so gradients vanish — which is exactly why production
    * retrieval/embedding training mines the near-but-wrong ones.
    *
    * Exact form over a broadcast anchor batch (the [[cosineTopK]]
    * query-side contract: anchors are a training BATCH, bounded by
    * construction — corpus-wide all-pairs mining is the ANN tier's
    * job); one corpus scan, per-anchor top-k through the rank-filtered
    * window (plans as WindowGroupLimit — local top-k before the
    * exchange), the ext05 (rounded cosine desc, nid) tie discipline.
    * Null-labeled rows on either side drop (a null label can't prove
    * "different"). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, vecCol)
      .select(col(idCol).as("nid"), col(labelCol).as("nlbl"), col("__vd").as("cv"))
    val q = prepared(anchors, vecCol)
      .select(col(idCol).as("qid"), col(labelCol).as("qlbl"), col("__vd").as("qv"))
    broadcastTopK(c, q, col("nlbl") =!= col("qlbl"), Seq("nlbl"), k)
  }

  /** Deterministic pseudo-random hyperplanes (no RNG at plan time):
    * component d of plane p is a splitmix64-mixed value mapped to
    * [-1, 1). */
  private[operators] def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val s = Dedup.seeds(nPlanes * dim, 0x243F6A8885A308D3L)
    (0 until nPlanes).map(p => (0 until dim).map { d =>
      (s(p * dim + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    })
  }

  /** Random-hyperplane LSH bucket id (one sign bit per plane, folded as
    * acc*2 + bit so no per-index shifting is needed). */
  private def bucket(v: Column, ps: Seq[Seq[Double]]): Column =
    aggregate(typedlit(ps), lit(0L),
      (acc, plane) => acc * 2 + when(dot(v, plane) > 0d, 1L).otherwise(0L))

  /** Approximate top-k: queries only score corpus vectors in nearby LSH
    * buckets. With p planes the corpus splits into ≤ 2^p buckets; the
    * candidate join is equality-keyed on the bucket id. Multi-probe: each
    * query also probes the p buckets at hamming distance 1 (one sign bit
    * flipped) — the standard recall fix, replicating only the SMALL query
    * side (p+1)× while the corpus keeps exactly one bucket per vector. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 8): DataFrame = {
    val ps = planes(nPlanes, dim(corpus, vecCol))
    val c = prepared(corpus, vecCol)
      .select(col(idCol).as("nid"), col("__vd").as("cv"),
        bucket(col("__vd"), ps).as("bucket"))
    val probes = (0 until nPlanes).foldLeft(array(col("__b"))) {
      (acc, i) => array_append(acc, col("__b").bitwiseXOR(lit(1L << i)))
    }
    val q = prepared(queries, vecCol)
      .withColumn("__b", bucket(col("__vd"), ps))
      .select(col(idCol).as("qid"), col("__vd").as("qv"),
        explode(probes).as("bucket"))
    c.join(q, "bucket")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(corpus.sparkSession, col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cosine"))
  }

  private def dim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** IVF (inverted-file) ANN: k-means centroids partition the corpus into
    * nLists cells; each query scores only the vectors in its nProbe
    * nearest cells. The other standard scale path next to hyperplane LSH
    * ([[annTopK]]): better cell balance on clustered data, at the cost of
    * a (cheap, seeded, deterministic) training pass. The candidate join
    * is equality-keyed on the cell id; centroids are a tiny broadcast
    * literal. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val featured = prepared(corpus, vecCol)
      .withColumn("__feat", array_to_vector(col("__vd")))
    // Train on a bounded, seeded, deterministic sample (~256 vectors per
    // cell) — k-means is an iterative driver-coordinated fit, and running
    // it over the FULL corpus would make training the job at 100 TB.
    // xxhash64 ordering is a stable pseudo-random permutation, so the
    // sample is corpus-size-independent and reproducible.
    val trainSample = featured
      .orderBy(xxhash64(col(idCol).cast("string"), lit(42L)))
      .limit(nLists * 256)
      .select(col("__feat"))
    val model = new KMeans().setK(nLists).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("__feat").setPredictionCol("__cell")
      .fit(trainSample)
    val c = model.transform(featured)
      .select(col(idCol).as("nid"), col("__vd").as("cv"), col("__cell").as("cell"))

    // nProbe nearest centroids per query, computed columnarly against the
    // broadcast centroid literal (euclidean, same metric k-means trained)
    val centroids = typedlit(model.clusterCenters.toSeq.map(_.toArray.toSeq))
    val ranked = array_sort(zip_with(
      centroids, sequence(lit(0), lit(nLists - 1)),
      (cent, idx) => struct(
        aggregate(zip_with(col("__vd"), cent, (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, x) => acc + x).as("d"),
        idx.as("idx"))))
    val q = prepared(queries, vecCol)
      .select(col(idCol).as("qid"), col("__vd").as("qv"),
        explode(slice(transform(ranked, s => s.getField("idx")), 1, nProbe)).as("cell"))

    c.join(q, "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(corpus.sparkSession, col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cosine"))
  }

  /** IVF probe against a PERSISTED index table (the query half of the
    * index lifecycle; [[graft.operators.Clustering.kmeansCentroids]] is
    * the build half, [[graft.script.AnnIndexJob]] the YAML job that
    * stores it): corpus rows assign to their nearest stored centroid,
    * each query probes its `nProbe` nearest cells, candidates
    * cosine-rank exactly. Because the index is integer micro-space
    * Lloyd's, EVERYTHING here — cell assignment, probe-cell choice,
    * the candidate set, the final ranking — is a pure function of the
    * data, so this ANN variant gets a full value oracle (unlike the
    * in-query MLlib-trained [[ivfTopK]], rows-only by design).
    *
    * Scale shape: the index is k rows of longs — collected once,
    * broadcast into the plans as literals (the [[Clustering]]
    * discipline); assignment is a narrow projection; the probe join is
    * EQUALITY-keyed on the cell id, touching nProbe/k of the corpus
    * per query instead of all of it. */
  def ivfTopKIndexed(corpus: DataFrame, queries: DataFrame, index: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nProbe: Int = 2): DataFrame = {
    require(k > 0 && nProbe > 0, "k and nProbe must be positive")
    // bytes-sized by contract (one row per centroid)
    val cents: Seq[(Int, Array[Long])] = index
      .select(col("cluster").cast("int"), col("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1).toSeq
    // one narrow projection per side: id + micro array (named `m`, the
    // [[Clustering]] contract for assignExpr/sqDist) + double vector —
    // no join, no shuffle, just per-row arithmetic against literals
    def microAndVec(df: DataFrame, vecAlias: String) =
      df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
          .as("m"),
        col(vecCol).cast("array<double>").as(vecAlias))
    val c = microAndVec(corpus, "cv")
      .select(col("id").as("nid"), col("cv"),
        Clustering.assignExpr(cents).as("cell"))
    // nProbe nearest stored centroids per query, integer metric, ties
    // to the lowest cid — the exact arithmetic the oracle replays
    val rankedCells = array_sort(array(cents.map { case (cid, cv) =>
      struct(Clustering.sqDist(cv).as("d"), lit(cid).as("c"))
    }: _*))
    val q = microAndVec(queries, "qv")
      .select(col("id").as("qid"), col("qv"),
        explode(slice(transform(rankedCells, s => s.getField("c")), 1, nProbe))
          .as("cell"))
    c.join(q, "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(corpus.sparkSession, col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cosine"))
  }

  /** Exact embedding near-dup pairs: all (a < b) with cosine ≥ threshold.
    * This is the EXACT baseline (quadratic, broadcast-nested-loop — fine
    * for a reference check or a small corpus; specs use it as the truth
    * for [[cosinePairsBlocked]] and [[cosinePairsLsh]]). The wired/scale
    * path is [[cosinePairsBlocked]] for low thresholds and
    * [[cosinePairsLsh]] for genuine near-dup thresholds (≥ ~0.8). */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val v = prepared(df, vecCol).select(col(idCol).as("id"), col("__vd").as("v"))
    val l = v.as("l"); val r = v.as("r")
    l.join(r, col("l.id") < col("r.id"))
      .select(col("l.id").as("vec_a"), col("r.id").as("vec_b"),
        cosine(df.sparkSession, col("l.v"), col("r.v")).as("c"))
      .filter(col("c") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cosine"))
  }

  /** Exact embedding near-dup pairs via a blocked triangle grid — the
    * DISTRIBUTED form of the all-pairs comparison, for thresholds too low
    * for LSH pruning (see [[cosinePairsLsh]] for when that is).
    *
    * Every row gets a deterministic block in [0, blocks); the unordered
    * block-pair {i ≤ j} is a grid CELL. A row in block x enters the join
    * as LEFT for cells (x, j≥x) and as RIGHT for cells (i≤x, x), so every
    * vector pair meets in EXACTLY one cell (same-block pairs meet twice in
    * (x,x), once per orientation — the id ordering keeps one) — complete,
    * no duplicate scoring, no dedup shuffle.
    *
    * Scale shape: equality-keyed on the cell struct — a plain
    * hash-partitioned shuffle join of (blocks+1) × n narrow rows, never a
    * broadcast of the corpus and never a nested loop over it; each of the
    * ~blocks²/2 cells is an independent (n/blocks)² task with bounded
    * memory. The n²/2 cosine evaluations are the honest cost of an EXACT
    * low-threshold answer over dense vectors (below ~0.7, random-
    * hyperplane collision rates leave LSH candidates ≥ brute force —
    * measured 42× slower than this at sf0.1); `blocks` just sets the
    * parallelism/replication trade (≈ √tasks wanted). */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blocks: Int = 16): DataFrame = {
    val v = prepared(df, vecCol).select(col(idCol).as("id"), col("__vd").as("v"),
      pmod(xxhash64(col(idCol).cast("string")), lit(blocks)).cast("int").as("blk"))
    val l = v.select(col("id"), col("v"), col("blk"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("j"))
      .select(col("id").as("lid"), col("v").as("lv"), col("blk").as("lblk"),
        struct(col("blk").as("i"), col("j")).as("cell"))
    val r = v.select(col("id"), col("v"), col("blk"),
      explode(sequence(lit(0), col("blk"))).as("i"))
      .select(col("id").as("rid"), col("v").as("rv"), col("blk").as("rblk"),
        struct(col("i"), col("blk").as("j")).as("cell"))
    // Threshold on the UNROUNDED cosine, round only for output — the same
    // order as cosinePairs/cosinePairsLsh and the oracle, so a boundary
    // pair in [threshold − 5e-7, threshold) never diverges between paths.
    l.join(r, l("cell") === r("cell") &&
        (col("lblk") =!= col("rblk") || col("lid") < col("rid")) &&
        col("lid") =!= col("rid"))
      .select(
        least(col("lid"), col("rid")).as("vec_a"),
        greatest(col("lid"), col("rid")).as("vec_b"),
        cosine(df.sparkSession, col("lv"), col("rv")).as("__c"))
      .filter(col("__c") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("__c"), 6).as("cosine"))
  }

  /** SEMANTIC benchmark contamination: cross-side cosine pairs between a
    * training corpus and a (small) benchmark — the embedding-space
    * complement of the n-gram form ([[graft.operators.Dedup.contaminated]]):
    * paraphrased leakage shares no 8-gram but sits close in embedding
    * space. The bench side is benchmark-sized, so it BROADCASTS and the
    * train side is scanned once (the documented ext05 shape — a
    * one-row-to-many BNLJ whose build side is tiny is O(scan) at any
    * scale); unrounded threshold then rounded output, matching every
    * other cosine path and the oracle. */
  def contaminatedSemantic(train: DataFrame, bench: DataFrame,
                           idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val t = prepared(train, vecCol)
      .select(col(idCol).as("train_id"), col("__vd").as("tv"))
    val b = prepared(bench, vecCol)
      .select(col(idCol).as("bench_id"), col("__vd").as("bv"))
    t.crossJoin(broadcast(b))
      .select(col("train_id"), col("bench_id"),
        cosine(train.sparkSession, col("tv"), col("bv")).as("__c"))
      .filter(col("__c") >= threshold)
      .select(col("train_id"), col("bench_id"), round(col("__c"), 6).as("cosine"))
  }

  /** Embedding near-dup pairs via OR-amplified hyperplane LSH: `bands`
    * independent signature tables of `planesPerBand` sign bits each; two
    * vectors are CANDIDATES iff they share a (band, signature) cell, then
    * every candidate is verified with the exact codegen'd cosine — so the
    * output is a subset of [[cosinePairs]] and misses a qualifying pair
    * only if it collides in NO band.
    *
    * Recall math (angle θ = arccos(threshold), per-plane agreement
    * p = 1 − θ/π): P(miss) = (1 − p^planesPerBand)^bands. The defaults
    * (64 bands × 12 planes) target genuine near-dup thresholds: at 0.9
    * (p ≈ 0.856) the per-pair miss is (1 − 0.856¹²)⁶⁴ ≈ 2e-5, while an
    * unrelated pair (cos ≈ 0, p = 0.5) collides in only 64/2¹² ≈ 1.6% of
    * bands — a ~64× candidate reduction against brute force that GROWS
    * with corpus size. This trade only exists when the threshold is high:
    * at 0.45 (θ ≈ 63°) no (bands, planes) point prunes and verifies at
    * once — use [[cosinePairsBlocked]] there, whose exactness needs no
    * tuning at all.
    *
    * Scale shape: the self-join is EQUALITY-keyed on the (band, sig)
    * struct — a hash-partitioned shuffle join, never a nested loop; each
    * side is n × bands narrow rows. Candidate volume per band is bounded
    * by the cell sizes (2^planesPerBand cells/band). Pair dedupe happens
    * BEFORE the exact verify so a pair colliding in several bands is
    * scored once. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, bands: Int = 64,
                     planesPerBand: Int = 12): DataFrame = {
    val ps = planes(bands * planesPerBand, dim(df, vecCol))
    val sigs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        bucket(col("__vd"), ps.slice(b * planesPerBand, (b + 1) * planesPerBand)).as("sig"))
    }: _*)
    val v = prepared(df, vecCol)
      .select(col(idCol).as("id"), col("__vd").as("v"), explode(sigs).as("bs"))
    val l = v.as("l"); val r = v.as("r")
    l.join(r, col("l.bs") === col("r.bs") && col("l.id") < col("r.id"))
      .select(col("l.id").as("vec_a"), col("r.id").as("vec_b"),
        col("l.v").as("va"), col("r.v").as("vb"))
      .dropDuplicates("vec_a", "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosine(df.sparkSession, col("va"), col("vb")).as("c"))
      .filter(col("c") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication: inside each coarse cluster,
    * a vector is REDUNDANT iff some lower-id cluster-mate has cosine ≥
    * `threshold` with it — the embedding-space analog of the exact-dedup
    * "first occurrence wins" rule (Abbas et al. 2023, SemDeDup; the
    * within-cluster pruning is what makes it tractable).
    *
    * `clusterCol` is the coarse partition — here the fixture's `label`;
    * at 100 TB it is a k-means/IVF cell id (the [[ivfTopK]] assignment
    * machinery), which bounds the quadratic strictly to cell size. The
    * join is EQUALITY-keyed on the cluster column — a hash-partitioned
    * shuffle join, never a corpus broadcast or nested loop; per-cluster
    * work is (cell size)², each cell an independent task. For genuine
    * near-dup thresholds (≥ ~0.8) the within-cluster pair generation can
    * further drop to [[cosinePairsLsh]] candidates.
    *
    * Output: one verdict row per vector — (id, cluster, n_earlier_dups,
    * is_kept). Deterministic: the "earlier" order is the id ordering,
    * not arrival order, so any engine recomputes the same verdicts. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, threshold: Double): DataFrame = {
    val v = prepared(df, vecCol)
      .select(col(clusterCol).as("__c"), col(idCol).as("__id"), col("__vd"))
    val l = v.select(col("__c"), col("__id").as("__ida"), col("__vd").as("__va"))
    val r = v.select(col("__c"), col("__id").as("__idb"), col("__vd").as("__vb"))
    // Threshold on the unrounded cosine (same order as every pairs path).
    val earlier = l.join(r, Seq("__c"))
      .filter(col("__ida") < col("__idb"))
      .select(col("__idb"),
        cosine(df.sparkSession, col("__va"), col("__vb")).as("__cos"))
      .filter(col("__cos") >= threshold)
      .groupBy(col("__idb")).agg(count(lit(1)).as("n_earlier_dups"))
    df.select(col(idCol), col(clusterCol))
      .join(earlier, col(idCol) === col("__idb"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        col("__idb").isNull.as("is_kept"))
  }

  /** Symmetric per-vector int8 quantization — the standard embedding
    * compression step of a training/serving pipeline (float32 → int8 is a
    * 4× storage/bandwidth cut; at 100 TB of embeddings that is the
    * difference between fitting in cluster memory or not).
    *
    * scale = max |xᵢ| (so the largest component maps to ±127);
    * qᵢ = floor(xᵢ/scale·127 + 0.5), an exact-IEEE formulation both
    * engines evaluate identically (no round()-implementation drift —
    * SURVEY §7 risk 5). A zero vector quantizes to zeros with scale 0.
    * Pure narrow projection: codegen'd, shuffle-free, scan-speed.
    * Output: (id, scale_e6 = floor(scale·1e6 + 0.5) as exact micros,
    * q array<int>). Dequantization is qᵢ·scale/127 with max error
    * scale/254 per component. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = array_max(transform(v, x => abs(x)))
    df.select(
      col(idCol),
      floor(scale * 1e6 + 0.5).cast("long").as("scale_e6"),
      when(scale === 0d, transform(v, _ => lit(0)))
        .otherwise(transform(v, x => floor(x / scale * 127d + 0.5).cast("int")))
        .as("q"))
  }

  /** Embedding sanity audit — the ingest gate a vector column crosses
    * before anything downstream (ANN indexing, dedup, centroids) is
    * allowed to trust it. Real embedding feeds break in a handful of
    * known ways — a null or truncated vector from a failed encode call,
    * NaN/Inf components from an fp16 overflow, an all-zero vector from a
    * padded batch slot, a norm far off the model's unit sphere from
    * version-mixed encoders — and every one of them silently poisons
    * cosine math downstream (NaN propagates through a dot product; a
    * zero vector makes the similarity undefined). This audit emits the
    * signals AND the keep verdict per row.
    *
    * Determinism contract: components are micro-quantized FIRST
    * (qᵢ = floor(xᵢ·1e6 + 0.5), one exact-IEEE op per component — the
    * [[srpSketch]] discipline), so the norm fold is an order-independent
    * INTEGER sum both engines replay exactly: norm2_e12 = Σ qᵢ². A
    * vector whose components are all < 0.5e-6 in magnitude is zero at
    * audit resolution — which is operationally zero for any
    * int8/micro-quantized consumer. The norm of an unsound vector is
    * the -1 sentinel, never a NaN fold or a wrapped long: `all_finite`
    * requires every component NON-NULL (a null element IS the truncated-
    * encode failure class, and folding one would void the verdict),
    * finite, AND within the quantization-representable bound
    * |x| ≤ ⌊√(9e18/dims)⌋/1e6 that keeps Σ qᵢ² inside Long range — an
    * fp16-overflow-sized component (6.5e4) is as broken as Inf, and
    * letting it wrap the fold would be a silent lie in both engines
    * (Spark wraps, DuckDB throws).
    *
    * Scale shape: pure narrow projection — codegen'd, shuffle-free,
    * scan-speed; verdicts travel with the row so the downstream filter
    * is a predicate, not a join. */
  def embedAudit(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                 normLoE12: Long, normHiE12: Long): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val isNull = col(vecCol).isNull
    val nDims = when(isNull, lit(0)).otherwise(size(v)).cast("int")
    // the largest |x| whose squared micro-quantization still sums into
    // a long across `dims` components (379 for dims = 64)
    val cap = math.floor(math.sqrt(9.0e18 / dims) / 1e6)
    val allFinite = when(isNull, lit(false)).otherwise(
      forall(v, x => x.isNotNull && !isnan(x) && abs(x) <= lit(cap)))
    val q = (x: Column) => floor(x * 1e6 + 0.5).cast("long")
    val norm2 = when(!allFinite, lit(-1L)).otherwise(
      aggregate(v, lit(0L), (acc, x) => acc + q(x) * q(x)))
    df.select(
        col(idCol),
        nDims.as("n_dims"),
        isNull.as("is_null"),
        allFinite.as("all_finite"),
        norm2.as("norm2_e12"))
      .withColumn("dim_ok", col("n_dims") === dims)
      .withColumn("norm_ok", col("all_finite") &&
        col("norm2_e12") >= normLoE12 && col("norm2_e12") <= normHiE12)
      .withColumn("keep",
        col("dim_ok") && col("norm_ok") && col("norm2_e12") > 0)
  }

  /** Per-group centroid over int8-QUANTIZED embeddings — the
    * domain/cluster summary a mixture-balancing or semantic-dedup pass
    * reads (which sources sit where in embedding space, how many vectors
    * each contributes). Quantizing FIRST keeps every sum an exact
    * integer; each centroid component is then one IEEE division scaled to
    * a micro-int (floor(sum/n·1e6 + 0.5)) — engine-reproducible with no
    * float-summation order sensitivity, which a float32 centroid can
    * never be (the reason this variant exists). Components are emitted
    * comma-joined: the verification gate's hasher cannot canonicalize
    * array cells (see ext14).
    *
    * Scale shape: quantization is a shuffle-free narrow projection; the
    * component explode raises row count ×dims but feeds straight into a
    * (group, pos)-keyed aggregation with map-side partial combine —
    * reduce-side state is #groups × dims rows regardless of corpus size —
    * and the final per-group reassembly sorts only `dims` elements per
    * group. No collect, no global sort. */
  def centroidInt8(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    quantizeInt8(df, groupCol, vecCol)
      .select(col(groupCol), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
      .withColumn("m_e6",
        floor(col("s").cast("double") / col("n") * 1e6 + 0.5).cast("long"))
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n_vectors"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("m_e6")))),
          _.getField("m_e6").cast("string")), ",").as("centroid_e6_csv"))

  /** EMBEDDING-space drift monitor: pairwise distances between the
    * per-slice mean embeddings, all-integer after one rounding — the
    * geometric complement to token-level drift (ext122): a source whose
    * vocabulary looks stable can still drift in embedding space (new
    * topics, new encoder version, silent preprocessing change).
    *
    * Exactness: per-(slice, dim) sums of µ-quantized elements are exact
    * longs; the mean rounds once (floor(s/n + 0.5), the centroidInt8
    * double-rounding discipline both engines replay); pairwise squared
    * L2 and dot over the rounded micro means are exact longs
    * (|m| ≤ ~1e6 ⇒ Σ_dim(Δ)² ≤ dim·4e12, long-safe to dim ~ 1e6).
    *
    * Scale shape: ONE corpus-scale map-side-combined aggregation
    * (slices × dim cells); the |slices|·dim mean frame collects to the
    * driver (the pcaTopComponent bounded-collect discipline) and the
    * ≤ C(|slices|, 2) pair rows compute locally — no self-join plan
    * that would re-run the corpus aggregation per side. */
  def embeddingDrift(df: DataFrame, sliceCol: String,
                     vecCol: String): DataFrame = {
    val spark = df.sparkSession
    val cells = df.filter(col(sliceCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) > 0)
      .select(col(sliceCol).cast("string").as("slice"),
        posexplode(expr(
          // explicit double BEFORE the multiply (the microE6 discipline):
          // a float32 product floors differently on ~0.4% of fixture
          // elements, and the oracle is double end-to-end
          s"transform(CAST($vecCol AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"))
          .as(Seq("pos", "v")))
      .groupBy(col("slice"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("slice"), col("pos"),
        floor(col("s").cast("double") / col("n") + 0.5).cast("long").as("m"),
        col("n"))
      .collect()                           // |slices| × dim rows — bounded
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("slice_a",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("slice_b",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dist2_e12",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dot_e12",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val bySlice = cells.groupBy(_.getString(0)).map { case (sl, rs) =>
      val d = rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      (sl, d, rs.map(_.getLong(3)).max)
    }.toSeq.sortBy(_._1)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for {
      i <- bySlice.indices
      j <- (i + 1) until bySlice.size
    } {
      val (sa, ma, na) = bySlice(i)
      val (sb, mb, nb) = bySlice(j)
      val poss = (ma.keySet ++ mb.keySet).toSeq.sorted
      var d2 = 0L; var dot = 0L
      poss.foreach { p =>
        val x = ma.getOrElse(p, 0L); val y = mb.getOrElse(p, 0L)
        d2 += (x - y) * (x - y); dot += x * y
      }
      rows.add(org.apache.spark.sql.Row(sa, sb, na, nb, d2, dot))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Product-quantization codebooks: `m` subspaces × `k` centroids each
    * (see [[pqTrain]]). */
  final case class PqModel(m: Int, k: Int, subDim: Int,
                           codebooks: Seq[Seq[Seq[Double]]])

  /** Train product-quantization codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11): split the
    * vector into `m` contiguous subspaces and k-means each one
    * independently. A vector then compresses to `m` small codes —
    * m=8 × k=16 turns a 256-byte float32×64 embedding into 4 BYTES, the
    * compression tier that lets a 100 TB embedding corpus live in
    * cluster memory for ANN scanning ([[pqTopK]]).
    *
    * Training is the IVF discipline ([[ivfTopK]]): each fit sees a
    * seeded, deterministic, corpus-size-INDEPENDENT sample (~k·256
    * subvectors) — never the full corpus; the m fits run over one shared
    * localCheckpointed sample so the corpus is scanned once. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, k: Int = 16): PqModel = {
    val d = dim(corpus, vecCol)
    require(m > 0 && d % m == 0, s"pqTrain: dim $d must be divisible by m=$m")
    val subDim = d / m
    // ONE collect of the bounded sample (~k·256 × d doubles — MBs), then
    // all m sub-codebooks fit driver-side: the sample is cluster-scale
    // work, the fit is not. The previous form ran 8 MLlib fits × 10
    // iterations = 80 scheduler round-trips over a 4096-row frame —
    // ~4s of pure job overhead per call (ext41 benched 5.7→~2s).
    val sampleRows: Array[Array[Double]] = prepared(corpus, vecCol)
      .orderBy(xxhash64(col(idCol).cast("string"), lit(42L)))
      .limit(k * 256)
      .select(col("__vd"))
      .collect().map(_.getSeq[Double](0).toArray)
    val codebooks = (0 until m).map { j =>
      val subs = sampleRows.map(v =>
        java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      // 8 seeded restarts, keep the lowest-SSE fit (deterministic; the
      // quality insurance MLlib got from k-means|| oversampling)
      (0 until 8).map(r => lloydFit(subs, k, iters = 25, seed = 42L + j + 1000L * r))
        .minBy(_._2)._1.map(_.toSeq).toSeq
    }
    PqModel(m, k, subDim, codebooks)
  }

  /** Seeded k-means++ init + Lloyd's iterations, all in driver memory —
    * deterministic for a fixed (sample, k, seed); returns (centers, SSE).
    * Empty clusters keep their previous center. */
  private def lloydFit(points: Array[Array[Double]], k: Int,
                       iters: Int, seed: Long): (Array[Array[Double]], Double) = {
    require(points.nonEmpty, "lloydFit: empty sample")
    val d = points.head.length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    // k-means++ seeding over the (deterministically ordered) sample
    val centers = scala.collection.mutable.ArrayBuffer(
      points(rnd.nextInt(points.length)).clone())
    val minD = points.map(p => sq(p, centers.head))
    while (centers.length < math.min(k, points.length)) {
      val total = minD.sum
      val pick =
        if (total <= 0) points(rnd.nextInt(points.length)) // all-dup sample
        else {
          var target = rnd.nextDouble() * total; var i = 0
          while (i < points.length - 1 && target > minD(i)) { target -= minD(i); i += 1 }
          points(i)
        }
      centers += pick.clone()
      var i = 0
      while (i < points.length) {
        val dd = sq(points(i), pick); if (dd < minD(i)) minD(i) = dd; i += 1
      }
    }
    val cs = centers.toArray
    // empty-cluster reseed: a center nobody claims moves to the point
    // farthest from its assigned center (standard Lloyd's repair — keeps
    // all k codes useful instead of wasting codebook entries)
    def reseed(counts: Array[Long], assign: Array[Int], dists: Array[Double]): Unit = {
      var c = 0
      while (c < cs.length) {
        if (counts(c) == 0) {
          var far = 0; var i = 1
          while (i < points.length) { if (dists(i) > dists(far)) far = i; i += 1 }
          cs(c) = points(far).clone()
          dists(far) = 0.0
        }
        c += 1
      }
    }
    var sse = 0.0
    for (_ <- 1 to iters) {
      val sums = Array.fill(cs.length)(new Array[Double](d))
      val counts = new Array[Long](cs.length)
      val assign = new Array[Int](points.length)
      val dists = new Array[Double](points.length)
      sse = 0.0
      var pi = 0
      while (pi < points.length) {
        val p = points(pi)
        var best = 0; var bestD = sq(p, cs(0)); var c = 1
        while (c < cs.length) {
          val dd = sq(p, cs(c)); if (dd < bestD) { bestD = dd; best = c }; c += 1
        }
        sse += bestD
        assign(pi) = best; dists(pi) = bestD
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        pi += 1
      }
      var c = 0
      while (c < cs.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { cs(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      reseed(counts, assign, dists)
    }
    (cs, sse)
  }

  /** Squared L2 distance between two array<double> columns. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x)

  /** Encode every vector as its `m` nearest-centroid codes plus the
    * reconstruction error. A pure narrow projection against the
    * plan-time codebook literals — no shuffle, no UDF; the argmin per
    * subspace is an `array_min` over k (distance, index) structs, ties
    * to the lowest index so the code assignment is total. Output:
    * (id, code_csv, mse_e6 = floor(Σⱼ min-dist² ·1e6 + 0.5)). */
  private[operators] def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                                  model: PqModel): DataFrame = {
    val codes = (0 until model.m).map { j =>
      val sub = slice(col("__vd"), j * model.subDim + 1, model.subDim)
      // size the index sequence to the ACTUAL codebook (k-means can
      // return < k centers on degenerate samples; zip_with null-pads
      // mismatched lengths, which would poison the argmin)
      val best = array_min(zip_with(
        typedlit(model.codebooks(j)), sequence(lit(0), lit(model.codebooks(j).size - 1)),
        (c, idx) => struct(sqDist(sub, c).as("d"), idx.as("idx"))))
      struct(best.getField("idx").as("code"), best.getField("d").as("d"))
    }
    prepared(corpus, vecCol)
      .select(col(idCol), array(codes: _*).as("__c"))
      .select(col(idCol),
        array_join(transform(col("__c"), c => c.getField("code").cast("string")), ",")
          .as("code_csv"),
        floor(aggregate(transform(col("__c"), _.getField("d")),
          lit(0.0d), (acc, x) => acc + x) * 1e6 + 0.5).cast("long").as("mse_e6"))
  }

  /** Approximate top-k by asymmetric distance computation (ADC) over PQ
    * codes: each query precomputes an m × k lookup table of subspace
    * distances to every centroid; a corpus vector's approximate distance
    * is then `m` table lookups summed — no float vector is ever read
    * from the corpus side again.
    *
    * Scale shape: the corpus is ONE narrow scan of (id, m codes); the
    * small query side broadcasts with its LUTs (the [[cosineTopK]]
    * trade, documented product-by-design); ranking is the per-query
    * top-k window. At 100 TB this is the FAISS IVFADC inner loop
    * re-expressed relationally — compose with [[ivfTopK]]'s cell
    * pruning when even one full code scan is too much. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, kNN: Int, model: PqModel): DataFrame = {
    val codeArr = (0 until model.m).map { j =>
      val sub = slice(col("__vd"), j * model.subDim + 1, model.subDim)
      array_min(zip_with(
        typedlit(model.codebooks(j)), sequence(lit(0), lit(model.codebooks(j).size - 1)),
        (c, idx) => struct(sqDist(sub, c).as("d"), idx.as("idx"))))
        .getField("idx")
    }
    val c = prepared(corpus, vecCol)
      .select(col(idCol).as("nid"), array(codeArr: _*).as("__code"))
    val luts = (0 until model.m).map { j =>
      val sub = slice(col("__vd"), j * model.subDim + 1, model.subDim)
      transform(typedlit(model.codebooks(j)), cb => sqDist(sub, cb))
    }
    val q = prepared(queries, vecCol)
      .select(col(idCol).as("qid"), array(luts: _*).as("__lut"))
    c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        floor(aggregate(
          zip_with(col("__lut"), col("__code"), (l, cd) => element_at(l, cd + 1)),
          lit(0.0d), (acc, x) => acc + x) * 1e6 + 0.5).cast("long").as("adist_e6"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist_e6").asc, col("nid"))))
      .filter(col("rnk") <= kNN)
      .select(col("qid"), col("rnk"), col("nid"), col("adist_e6"))
  }

  /** Sign entry (±1) of the deterministic random-projection matrix:
    * parity of the first hex digit of md5("i:j:salt") — chosen because
    * any engine can replay it (DuckDB: `('0x' || substr(md5(...), 1, 1))
    * ::INT % 2`), unlike a seeded PRNG stream. */
  private def srpSign(i: Int, j: Int, salt: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j:$salt".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xF) % 2 == 0) 1L else -1L
  }

  /** The full ±1 plane matrix (ONE definition for [[srpSketch]] and
    * [[annTopKSrp]] — their oracles replay the same parity formula). */
  private def srpSigns(n: Int, d: Int, salt: String): Seq[Seq[Long]] =
    (0 until n).map(i => (0 until d).map(j => srpSign(i, j, salt)))

  /** Micro-int quantization of a vector column (the ext14 discipline). */
  private def microE6(vecCol: String): Column =
    transform(col(vecCol).cast("array<double>"),
      x => floor(x * 1e6 + 0.5).cast("long"))

  /** Exact integer projection of the quantized column `__x` onto sign
    * row i — order-independent, hence engine-replayable. */
  private def srpProject(signs: Seq[Seq[Long]], i: Int): Column =
    aggregate(zip_with(col("__x"), typedlit(signs(i)), (x, s) => x * s),
      lit(0L), (acc, y) => acc + y)

  /** Signed-random-projection sketch (Johnson–Lindenstrauss with a ±1
    * matrix — Achlioptas, JCSS'03; the SimHash projection of Charikar,
    * STOC'02 before the sign is taken): project each embedding onto
    * `outDim` fixed ±1 directions. The standard dimensionality-reduction
    * pass in front of ANN/clustering — at 100 TB of float32×64
    * embeddings, a 16-component sketch is a 4× scan/shuffle cut for every
    * downstream pass (and `sign(component)` IS the hyperplane LSH bit, so
    * the sketch subsumes bucketing).
    *
    * Determinism contract: components quantize to exact micros FIRST
    * (floor(x·1e6 + 0.5), the ext14 IEEE-exact formulation), so every
    * projection is an INTEGER sum of ±micro values — no float-summation
    * order sensitivity, bit-identical on any engine, any partitioning,
    * any parallelism. The matrix itself derives from md5 parity (see
    * [[srpSign]]), so the oracle regenerates it from scratch.
    *
    * Scale shape: a pure narrow projection — outDim integer dot products
    * per row, no shuffle, no UDF, no broadcast (the matrix is a plan-time
    * literal of outDim × dim bytes). Runs at scan speed. */
  def srpSketch(df: DataFrame, idCol: String, vecCol: String,
                outDim: Int = 16, salt: String = "srp1"): DataFrame = {
    require(outDim > 0, "outDim must be positive")
    val signs = srpSigns(outDim, dim(df, vecCol), salt)
    df.select(col(idCol), microE6(vecCol).as("__x"))
      .select(col(idCol),
        concat_ws(",", (0 until outDim).map { i =>
          srpProject(signs, i).cast("string")
        }: _*).as("sketch_e6_csv"))
  }

  /** Hyperplane-LSH ANN with a fully REPLAYABLE bucket function: the
    * hash-family twin of [[ivfTopKIndexed]] (partition-family), closing
    * the other half of "ANN is rows-only by design". [[annTopK]]'s
    * buckets come from float dot products against splitmix64 planes —
    * sign bits near zero depend on accumulation order, so only recall
    * is testable. Here the plane matrix is the md5-parity ±1 matrix of
    * [[srpSketch]] and projections are exact INTEGER sums of
    * micro-quantized components (order-independent), so bucket ids,
    * probe sets, candidates, and the final cosine ranking all replay in
    * SQL — a full value oracle for hash-based ANN (ext83).
    *
    * Same scale shape as [[annTopK]]: corpus keeps one bucket per
    * vector, the small query side replicates (nPlanes+1)× for
    * multi-probe (hamming-1 flips), the candidate join is
    * equality-keyed on the bucket id. */
  /** Corpus-adaptive SRP plane count: the smallest p in [4, 16] with
    * 32·2^p ≥ n, i.e. mean bucket occupancy held at ≤ 32, capped at 16
    * planes past 32·2^16 vectors. A FIXED plane count is itself a scale
    * bug — ScaleCheck measured the 6-plane form at 35.6× per 10× corpus
    * as its 64 buckets concentrated (vs 3.83× adaptive). Pure integer
    * logic so an external oracle replays the identical choice. */
  def srpPlanesFor(n: Long): Int =
    (4 to 16).find(p => (32L << p) >= n).getOrElse(16)

  def annTopKSrp(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, nPlanes: Int = 6,
                 salt: String = "ann1"): DataFrame = {
    require(k > 0 && nPlanes > 0 && nPlanes < 63, "k and nPlanes must be positive")
    val signs = srpSigns(nPlanes, dim(corpus, vecCol), salt)
    // plane 0 = high bit (the acc*2 fold); probes flip every position,
    // so the bit↔plane orientation never matters downstream
    def bucketCol = (0 until nPlanes).foldLeft(lit(0L)) { (acc, i) =>
      acc * 2 + when(srpProject(signs, i) > 0L, 1L).otherwise(0L)
    }
    val c = corpus.select(col(idCol).cast("long").as("nid"),
        col(vecCol).cast("array<double>").as("cv"), microE6(vecCol).as("__x"))
      .select(col("nid"), col("cv"), bucketCol.as("bucket"))
    val probes = (0 until nPlanes).foldLeft(array(col("__b"))) {
      (acc, i) => array_append(acc, col("__b").bitwiseXOR(lit(1L << i)))
    }
    val q = queries.select(col(idCol).cast("long").as("qid"),
        col(vecCol).cast("array<double>").as("qv"), microE6(vecCol).as("__x"))
      .select(col("qid"), col("qv"), bucketCol.as("__b"))
      .select(col("qid"), col("qv"), explode(probes).as("bucket"))
    c.join(q, "bucket")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(corpus.sparkSession, col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cosine"))
  }

  /** Contrastive triplet mining — (anchor, positive, negative) training
    * pairs for embedding-model fine-tuning: the positive is the
    * anchor's nearest IN-label neighbor (the [[knnGraph]] rank-1 edge);
    * the negative is a deterministic draw from ANOTHER label — label
    * chosen by (label_index + 1 + anchor_id mod (L−1)) mod L so
    * negatives spread across all other labels, and the row within that
    * label by anchor_id mod label_size over the label's md5(id:salt)
    * permutation. Every choice is integer/md5 arithmetic — the triplet
    * set replays exactly in SQL (ext84). Anchors whose label has no
    * second member yield no triplet (no positive exists).
    *
    * Scale shape: positives ride the blocked kNN join; the negative
    * lookup is ONE equality join of anchors against a per-label
    * md5-ranked table (a partitioned window — per-label sorts, no
    * global window); the label index/size frame is |labels| rows,
    * broadcast. */
  def contrastivePairs(df: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, salt: String = "neg1"): DataFrame = {
    val pos = knnGraph(df, idCol, vecCol, labelCol, 1)
      .select(col("src").cast("long").as("anchor_id"),
        col("nid").cast("long").as("pos_id"), col("cosine").as("pos_cosine"))
    val base = df.select(col(idCol).cast("long").as("id"), col(labelCol).as("lbl"))
    val ranked = base.withColumn("lrnk", row_number().over(
      Window.partitionBy(col("lbl"))
        .orderBy(md5(concat(col("id").cast("string"), lit(":" + salt))), col("id"))))
    // label directory: dense 0..L-1 index + size — |labels| rows, so the
    // unpartitioned window here orders a frame that fits on a postcard
    val dir = base.groupBy(col("lbl")).agg(count(lit(1)).as("lsz"))
      .withColumn("lidx",
        row_number().over(Window.orderBy(col("lbl"))) - 1)
    val nl = dir.agg(count(lit(1)).as("nl"))
    val anchors = base
      .join(broadcast(dir.select(col("lbl"), col("lidx"))), "lbl")
      .crossJoin(broadcast(nl))
      .filter(col("nl") > 1)
      .select(col("id").as("anchor_id"),
        pmod(col("lidx") + 1 + pmod(col("id"), col("nl") - 1), col("nl")).as("nidx"))
      .join(broadcast(dir.select(col("lidx").as("nidx"), col("lbl").as("neg_lbl"),
        col("lsz").as("neg_lsz"))), "nidx")
      .select(col("anchor_id"), col("neg_lbl"),
        (pmod(col("anchor_id"), col("neg_lsz")) + 1).as("neg_rank"))
    pos.join(anchors, "anchor_id")
      .join(ranked.select(col("lbl").as("neg_lbl"), col("lrnk").as("neg_rank"),
        col("id").as("neg_id")), Seq("neg_lbl", "neg_rank"))
      .select(col("anchor_id"), col("pos_id"), col("pos_cosine"),
        col("neg_id"), col("neg_lbl"))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09): merge any number
    * of per-query ranked candidate lists into one hybrid ranking by
    * score(d) = Σ_lists 1/(c + rank_list(d)) — the standard way a
    * retrieval stack combines lexical (BM25/TF-IDF) and embedding
    * rankings without comparable scores. Each contribution is floored to
    * micro-units (`floor(1e6/(c+rank) + 0.5)`: one IEEE division by a
    * small integer, then exact INTEGER sums), so the fused ranking — and
    * its (rrf_e6 DESC, doc_id) tie-break — replays bit-for-bit in any
    * engine. `n_lists` reports how many lists surfaced the doc.
    *
    * Scale shape: inputs are already top-k lists — queries × k rows,
    * tiny next to the corpora the upstream retrievals scanned — so
    * fusion is one (query, doc)-keyed map-side-combined aggregate plus a
    * rank-filtered window that plans as WindowGroupLimit. All the
    * 100 TB weight stays in the upstream operators
    * ([[graft.operators.TextAnalysis.tfidfTopK]], [[cosineTopK]] /
    * [[annTopK]]), which this composes without re-touching the corpus. */
  def rrfFuse(lists: Seq[DataFrame], qCol: String, idCol: String,
              rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k > 0 && c >= 0, "k must be positive and c non-negative")
    val tagged = lists.map(_.select(col(qCol).as("q_id"), col(idCol).as("doc_id"),
      floor(lit(1e6) / (lit(c) + col(rankCol)).cast("double") + 0.5)
        .cast("long").as("contrib_e6")))
    tagged.reduce(_ unionByName _)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib_e6")).as("rrf_e6"), count(lit(1)).as("n_lists"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_e6").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id"), col("rrf_e6"), col("n_lists"), col("rnk"))
  }

  /** Exact maximum-inner-product top-k (MIPS) — the retrieval objective
    * of dot-product-trained embedding models (DPR-style dual encoders),
    * where [[cosineTopK]]'s normalization would silently change the
    * ranking: inner product rewards magnitude, cosine erases it.
    *
    * The dot is the sequential left fold both engines implement
    * (zip-multiply then ordered sum), rounded to 1e-6 for the
    * cross-engine compare — the ext05 discipline.
    *
    * Scale shape: same as [[cosineTopK]] — broadcast the (small) query
    * side, ONE corpus scan, per-query top-k via a qid-partitioned
    * rank-filtered window (WindowGroupLimit). For corpus-scale query
    * sets, reduce MIPS to cosine with [[mipsAugment]] and reuse the
    * LSH/IVF machinery ([[annTopK]], [[ivfTopK]]) — the standard
    * asymmetric-transform reduction (Bachrach et al., RecSys'14),
    * proven order-preserving in SimilaritySpec. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int): DataFrame = {
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val c = prepared(corpus, vecCol).select(col(idCol).as("nid"), col("__vd").as("cv"))
    val q = prepared(queries, vecCol).select(col(idCol).as("qid"), col("__vd").as("qv"))
    c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), round(dot(col("qv"), col("cv")), 6).as("dot"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("dot"))
  }

  /** The MIPS→cosine reduction: append sqrt(M² − ‖x‖²) to every corpus
    * vector (M = the corpus max norm, computed in one tiny aggregate)
    * and 0 to every query. Augmented corpus norms are all M, so cosine
    * against an augmented query ranks exactly by the original inner
    * product — MIPS becomes a cosine-NN problem the LSH/IVF scale paths
    * already solve. Returns (augmented corpus, augmented queries). */
  def mipsAugment(corpus: DataFrame, queries: DataFrame,
                  vecCol: String): (DataFrame, DataFrame) = {
    val normSq = (v: Column) =>
      aggregate(v, lit(0.0d), (acc, x) => acc + x * x)
    val m2 = prepared(corpus, vecCol)
      .agg(max(normSq(col("__vd"))).as("m2"))
    val aug = corpus.join(broadcast(m2))
      .withColumn(vecCol,
        concat(col(vecCol).cast("array<double>"),
          array(sqrt(greatest(col("m2") - normSq(col(vecCol).cast("array<double>")), lit(0.0d))))))
      .drop("m2")
    val qAug = queries
      .withColumn(vecCol, concat(col(vecCol).cast("array<double>"), array(lit(0.0d))))
    (aug, qAug)
  }

  /** Within-cluster exact k-nearest-neighbor graph — the adjacency
    * structure graph-based curation consumes (SemDeDup-style cluster
    * dedup, label propagation, connectivity-based keeper election): for
    * every vector, its k highest-cosine neighbors sharing its cluster
    * key, as (src, rnk, nid, cosine) edges.
    *
    * Scale shape: the cluster key is the blocking key — the pair join is
    * EQUALITY-keyed on the cell, per-cell quadratic, never corpus
    * quadratic (the [[semanticDedup]] argument; at 100 TB the key is an
    * IVF cell id, here the fixture's label). Per-src top-k is a
    * rank-filtered window → WindowGroupLimit keeps local top-k before
    * the exchange. Scores rounded to 6 dp and ranked (rounded desc, nid
    * asc) — the [[cosineTopK]] cross-engine reproducibility discipline. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
               clusterCol: String, k: Int): DataFrame = {
    val v = prepared(df, vecCol)
      .select(col(clusterCol).as("__c"), col(idCol).as("__id"), col("__vd"))
    val l = v.select(col("__c"), col("__id").as("src"), col("__vd").as("__va"))
    val r = v.select(col("__c"), col("__id").as("nid"), col("__vd").as("__vb"))
    l.join(r, Seq("__c"))
      .filter(col("src") =!= col("nid"))
      .select(col("src"), col("nid"),
        round(cosine(df.sparkSession, col("__va"), col("__vb")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("src"), col("rnk"), col("nid"), col("cosine"))
  }

  /** [[knnGraph]] with a per-CELL SIZE CAP — the ext89 bucket-cap
    * discipline applied to the one scale shape r11's verdict marked
    * weak: the within-cell pair join is per-cell quadratic by design
    * (measured 54.7× at 10× uncapped), so ONE skewed cell at 100×
    * runs the job into the ground. Cells larger than `maxCell` are NOT
    * pair-joined; their members are returned in full as the second
    * frame — (cell, cell_size, id), one row per member, the
    * no-silent-caps accounting — so the caller routes the cell to the
    * SRP-bucketed scale path ([[mutualKnnSrp]] / [[annTopKSrp]]) or a
    * whole-cell action. Below the cap the edge output is IDENTICAL to
    * [[knnGraph]] (SimilaritySpec pins it).
    *
    * Scale shape: cell sizing is one window count over the cell key —
    * the same shuffle the pair join partitions by anyway; capped
    * fan-out is bounded by maxCell² per cell, so output stays linear
    * in corpus + capped membership, never quadratic in cell size.
    *
    * NULL cluster keys are dropped up front (r12 ADVICE): [[knnGraph]]
    * never pairs them (an equi-join key of NULL matches nothing), so a
    * corpus with more than maxCell null-cluster rows must NOT surface
    * them as a capped "cell" — that would report a cell the uncapped
    * operator does not have, and break below-cap output equality. */
  def knnGraphCapped(df: DataFrame, idCol: String, vecCol: String,
                     clusterCol: String, k: Int,
                     maxCell: Int): (DataFrame, DataFrame) = {
    require(maxCell >= 2, s"maxCell must be >= 2, got $maxCell")
    val v = prepared(df, vecCol)
      .select(col(clusterCol).as("__c"), col(idCol).as("__id"), col("__vd"))
      .filter(col("__c").isNotNull)
      .withColumn("__cs", count(lit(1)).over(Window.partitionBy(col("__c"))))
    graft.util.Caching.leased2(v) {
      val small = v.filter(col("__cs") <= maxCell)
      val l = small.select(col("__c"), col("__id").as("src"), col("__vd").as("__va"))
      val r = small.select(col("__c"), col("__id").as("nid"), col("__vd").as("__vb"))
      val edges = l.join(r, Seq("__c"))
        .filter(col("src") =!= col("nid"))
        .select(col("src"), col("nid"),
          round(cosine(df.sparkSession, col("__va"), col("__vb")), 6).as("cosine"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nid"))))
        .filter(col("rnk") <= k)
        .select(col("src"), col("rnk"), col("nid"), col("cosine"))
      val capped = v.filter(col("__cs") > maxCell)
        .select(col("__c").as("cell"), col("__cs").cast("long").as("cell_size"),
          col("__id").as("id"))
      (edges, capped)
    }
  }

  /** [[mutualKnn]] with the [[knnGraphCapped]] cell guard: returns
    * (mutual pairs from cells ≤ maxCell — identical to [[mutualKnn]]
    * there, capped cell report). */
  def mutualKnnCapped(df: DataFrame, idCol: String, vecCol: String,
                      clusterCol: String, k: Int,
                      maxCell: Int): (DataFrame, DataFrame) = {
    val (g, capped) = knnGraphCapped(df, idCol, vecCol, clusterCol, k, maxCell)
    (mutualPairs(g, "src"), capped)
  }

  /** MUTUAL k-nearest-neighbor pairs — the reciprocal filter on
    * [[knnGraph]]: (a, b) survives only if b is in a's top-k AND a is
    * in b's top-k. The standard robustness upgrade for embedding-based
    * near-dup and clustering edges: hubs (vectors that appear in
    * everyone's top-k without reciprocating — a known pathology of
    * high-dimensional cosine, Radovanović JMLR'10) lose their one-way
    * edges, so downstream connected components can't collapse a corpus
    * through one promiscuous center.
    *
    * Shape: ONE [[knnGraph]] evaluation, then mutuality by counting —
    * each directed edge appears once per source, so an unordered pair
    * with BOTH directions appears exactly twice in the canonicalized
    * (least, greatest) projection; groupBy-count == 2 replaces the
    * edge⋈reversed-edge self-join (which would evaluate the whole
    * per-cell quadratic scoring twice and shuffle it twice). Cosine is
    * commutative, so the pair's two rows agree on the score and it
    * rides the grouping key. Requires unique ids (fixture contract). */
  def mutualKnn(df: DataFrame, idCol: String, vecCol: String,
                clusterCol: String, k: Int): DataFrame =
    mutualPairs(knnGraph(df, idCol, vecCol, clusterCol, k), "src")

  /** [[mutualKnn]]'s SCALE path: the same reciprocal filter over the
    * SRP-bucketed approximate top-k graph ([[annTopKSrp]]) instead of
    * the per-cell-quadratic exact one — the ext91 edge-build trade
    * (equality-keyed bucket join, never cell²; recall < 1 is the price,
    * and mutuality is computed over what the ANN graph actually
    * returned, so the filter semantics stay exact GIVEN the graph).
    * Pass [[srpPlanesFor]] for the plane count — a fixed count
    * concentrates buckets as the corpus grows (the measured 35.6× vs
    * 3.83× lesson). */
  def mutualKnnSrp(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   nPlanes: Int, salt: String): DataFrame =
    mutualPairs(annTopKSrp(df, df, idCol, vecCol, k, nPlanes, salt), "qid")

  /** The ONE mutuality step behind [[mutualKnn]]/[[mutualKnnSrp]]: each
    * directed edge appears once per source in a top-k graph, so an
    * unordered pair present BOTH ways appears exactly twice in the
    * canonicalized projection (cosine is commutative and rides the
    * key) — groupBy-count == 2, no edge⋈reversed-edge self-join. */
  private def mutualPairs(g: DataFrame, srcCol: String): DataFrame =
    g.select(least(col(srcCol), col("nid")).as("doc_a"),
        greatest(col(srcCol), col("nid")).as("doc_b"), col("cosine"))
      .groupBy(col("doc_a"), col("doc_b"), col("cosine"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") === 2)
      .select(col("doc_a"), col("doc_b"), col("cosine"))

  /** Top principal direction of the (uncentered) embedding cloud — the
    * leading eigenvector of the integer Gram matrix G[i][j] = Σ_docs
    * q_i·q_j over quantized vectors q = ⌊x·quant + 0.5⌋, by EXACT
    * fixed-point power iteration. The direction data-curation pipelines
    * use for whitening checks, anisotropy audits ("is the embedding
    * space collapsing?", Ethayarajh EMNLP'19), and ABTT-style top-
    * component removal (Mu & Viswanath ICLR'18).
    *
    * Determinism: everything after quantization is integer arithmetic —
    * the Gram sums exactly, G is rescaled by the integer factor
    * s = max(1, max|G| div 1e6), v₀ = 1e6·𝟙, and each round computes
    * w = Gₙ·v in integers then renormalizes v = sign(w)·(|w|·1e6 div
    * max(max|w|, 1)) — trunc-division on NON-NEGATIVE operands only, so
    * DuckDB `//` (floor) and JVM `/` (trunc) agree and the oracle can
    * replay every iteration bit-for-bit as unrolled CTEs (the
    * [[graft.operators.Graph.pageRank]] discipline). Sign is pinned by
    * the all-ones start; ±eigenvector ambiguity never arises.
    *
    * Scale shape: ONE linear pass builds the upper-triangle Gram cells
    * (d(d+1)/2 per row, flat-mapped — map-side-combined sum, shuffle is
    * d² rows); the iteration itself runs on the DRIVER over the collected
    * d×d matrix — bounded driver traffic (dim², ~32 KB at d=64, the
    * Clustering k-row-collect discipline), zero per-iteration shuffles.
    * Overflow-safe: |Gₙ| ≤ 1e6 and |v| ≤ 1e6, so |w| ≤ d·1e12 (Long-safe
    * to d ≈ 9e6); the renormalizing |w|·1e6 product runs in BigInt.
    *
    * Returns one row per dimension: (idx, v_e6, g_diag) — the unit-ish
    * component in micro-units and the raw Gram diagonal (per-dimension
    * energy) for anisotropy ratios. */
  def pcaTopComponent(em: DataFrame, vecCol: String,
                      quant: Int = 64, iters: Int = 8): DataFrame = {
    val spark = em.sparkSession
    val q = em.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(expr(
        s"transform($vecCol, x -> CAST(floor(x * $quant + 0.5) AS BIGINT))")
        .as("q"))
    val upper = q.select(explode(expr(
      """flatten(transform(sequence(0, size(q) - 1), i ->
        |  transform(sequence(i, size(q) - 1), j ->
        |    struct(i AS i, j AS j, q[i] * q[j] AS xy))))""".stripMargin))
      .as("c"))
      .select(col("c.i"), col("c.j"), col("c.xy"))
    val gUpper = upper.groupBy(col("i"), col("j")).agg(sum(col("xy")).as("g"))
      .collect()                     // ≤ d(d+1)/2 rows — bounded by dim²
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("v_e6",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("g_diag",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (gUpper.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val d = gUpper.map(_.getInt(0)).max + 1
    val g = Array.ofDim[Long](d, d)
    gUpper.foreach { r =>
      val (i, j, x) = (r.getInt(0), r.getInt(1), r.getLong(2))
      g(i)(j) = x; g(j)(i) = x
    }
    val maxAbs = g.map(_.map(math.abs).max).max
    val s = math.max(1L, maxAbs / 1000000L)
    val gn = g.map(_.map(x => if (x < 0) -((-x) / s) else x / s))
    var v = Array.fill(d)(1000000L)
    var t = 0
    while (t < iters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0L; var j = 0
        while (j < d) { acc += gn(i)(j) * v(j); j += 1 }
        acc
      }
      val m = math.max(w.map(math.abs).max, 1L)
      v = w.map(x =>
        if (x < 0) -(BigInt(-x) * 1000000 / m).toLong
        else (BigInt(x) * 1000000 / m).toLong)
      t += 1
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](d)
    (0 until d).foreach { i =>
      rows.add(org.apache.spark.sql.Row(i, v(i), g(i)(i)))
    }
    spark.createDataFrame(rows, schema)
  }

  /** MMR diverse selection (Carbonell & Goldstein, SIGIR'98): greedy
    * maximal-marginal-relevance reranking — pick k items maximizing
    * relevance-to-anchor MINUS similarity-to-already-selected (λ = 0.5,
    * scaled ×2 so the score stays integer: mmr = rel − max_sel sim).
    * The diversity-aware selection move for retrieval reranking and for
    * "diverse exemplars" training-data curation (the greedy
    * facility-location family).
    *
    * Exact INTEGER arithmetic end-to-end (the kmeans/Gram discipline):
    * embeddings quantize to milli ints, relevance and pairwise
    * similarity are integer dot products (≤64·578² ≈ 2·10⁷ per pair on
    * the fixture — far inside long), so selection order is bit-identical
    * cross-engine and the whole greedy loop value-oracles as k unrolled
    * argmax CTEs.
    *
    * Scale shape: the relevance pass is ONE narrow codegen'd projection
    * (zip_with·aggregate against the broadcast anchor literal) +
    * TakeOrderedAndProject for the top-`poolSize` rerank window — the
    * production reranking contract (retrieve distributed, rerank the
    * bounded window). Driver state: poolSize rows of dim ints +
    * k·poolSize greedy ops — bounded by parameters, never by data. */
  def mmrSelect(emb: DataFrame, idCol: String, vecCol: String,
                anchorId: Long, poolSize: Int, k: Int): DataFrame = {
    require(k >= 1 && k <= poolSize && poolSize <= 4096,
      "mmrSelect: need 1 <= k <= poolSize <= 4096")
    val spark = emb.sparkSession
    val milli = emb.select(col(idCol).cast("long").as("id"),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("v"))
    val anchorRows = milli.filter(col("id") === anchorId).limit(1).collect()
    require(anchorRows.nonEmpty, s"mmrSelect: anchor id $anchorId not found")
    val anchor = anchorRows(0).getSeq[Long](1).toArray
    val anchorCol = array(anchor.toSeq.map(lit): _*)
    val pool = milli.filter(col("id") =!= anchorId)
      .withColumn("rel", aggregate(
        zip_with(col("v"), anchorCol, (x, y) => x * y), lit(0L), (a, x) => a + x))
      .orderBy(col("rel").desc, col("id"))
      .limit(poolSize)
      .collect() // bounded: poolSize rows — the documented rerank window
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p).toSeq: _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val (mmr, id, v, rel) = remaining.valuesIterator.map { case (id, v, rel) =>
        val m = if (selected.isEmpty) rel else rel - selected.iterator.map(dot(v, _)).max
        (m, id, v, rel)
      }.minBy { case (m, id, _, _) => (-m, id) } // max mmr, ties → lower id
      out += ((rank, id, rel, mmr))
      selected += v
      remaining.remove(id)
      rank += 1
    }
    import spark.implicits._
    out.toSeq.toDF("sel_rank", "vec_id", "rel_milli2", "mmr_milli2")
  }

  /** Greedy k-center selection (farthest-point traversal; the coreset
    * selection rule of Sener & Savarese, ICLR'18): seed with the lowest
    * id, then k−1 rounds each pick the point FARTHEST from the selected
    * set (max over candidates of min squared L2 to any selected) — the
    * max-min diversity counterpart to [[mmrSelect]]'s relevance-minus-
    * similarity, used for diverse-exemplar pruning and active-learning
    * batch selection.
    *
    * Unlike MMR's bounded rerank window, each round is a FULL
    * distributed scan: min-dist-to-selected is a codegen'd projection
    * against ≤k broadcast literal vectors, argmax via
    * TakeOrderedAndProject — k linear scans total, 1 row of driver
    * traffic per round. Exact integer milli arithmetic (squared L2 ≤
    * 64·1156² ≈ 8.6·10⁷ per pair on the fixture), so the traversal
    * order is bit-identical cross-engine and the loop value-oracles as
    * k unrolled argmax CTEs. */
  def kcenterSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 64, "kcenterSelect: k must be in [1, 64]")
    val spark = emb.sparkSession
    val milli = emb.select(col(idCol).cast("long").as("id"),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("v"))
    val seed = milli.orderBy(col("id")).limit(1).collect()(0)
    val out = scala.collection.mutable.ArrayBuffer((1, seed.getLong(0), 0L))
    val selected = scala.collection.mutable.ArrayBuffer(seed.getSeq[Long](1).toArray)
    var rank = 2
    while (rank <= k) {
      val minDist = selected.toSeq.map { s =>
        val sc = array(s.toSeq.map(lit): _*)
        aggregate(zip_with(col("v"), sc, (x, y) => (x - y) * (x - y)),
          lit(0L), (a, x) => a + x)
      }.reduce(least(_, _))
      val far = milli.filter(!col("id").isin(out.toSeq.map(_._2): _*))
        .select(col("id"), col("v"), minDist.as("mind"))
        .orderBy(col("mind").desc, col("id"))
        .limit(1).collect()(0) // 1 row per round of driver traffic
      out += ((rank, far.getLong(0), far.getLong(2)))
      selected += far.getSeq[Long](1).toArray
      rank += 1
    }
    import spark.implicits._
    out.toSeq.toDF("sel_rank", "vec_id", "min_dist_milli2")
  }
}
