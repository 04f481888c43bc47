package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.CosineSimilarity

/** Session extensions registering graft's native Catalyst functions, so
  * they're callable from SQL text (the config surface's single SELECT)
  * and via `functions.call_function`. Every session built by
  * [[graft.GraftSession]] — `EtlMain` jobs included — sets
  * `spark.sql.extensions=graft.sql.GraftExtensions`.
  *
  * Registers the 15 functions in `entries` (`cosine_sim`, `minhash_sig`,
  * `simhash64`, `shingle_hashes`, `shingle_pos_hashes`, `nfc_normalize`,
  * `greedy_pieces`, `kmv_sketch`, `top_k_by`, `bloom_might_contain`,
  * `winnow_fps`, `misra_gries`, `misra_gries_weighted`, `hilbert_index`,
  * `gram_cells`), the [[GuardUnpartitionedWindow]] optimizer rule and the
  * as-of join planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    ext.injectOptimizerRule(session => new GuardUnpartitionedWindow(session))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  import graft.functions.{MinHashSignature, SimHash64}

  private def litInt(e: Expression, what: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"cosine_sim expects 2 arguments, got ${children.size}")
        CosineSimilarity(children.head, children(1))
      }),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"minhash_sig expects (array<long>, k), got ${children.size} args")
        MinHashSignature(children.head, litInt(children(1), "minhash_sig k"))
      }),
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"simhash64 expects 1 argument, got ${children.size}")
        SimHash64(children.head)
      }),
    (new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[graft.functions.ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"shingle_hashes expects (text, n), got ${children.size} args")
        graft.functions.ShingleHashes(children.head, litInt(children(1), "shingle_hashes n"))
      }),
    (new FunctionIdentifier("shingle_pos_hashes"),
      new ExpressionInfo(classOf[graft.functions.ShinglePosHashes].getName, "shingle_pos_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"shingle_pos_hashes expects (text, n), got ${children.size} args")
        graft.functions.ShinglePosHashes(children.head, litInt(children(1), "shingle_pos_hashes n"))
      }),
    (new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"nfc_normalize expects 1 argument, got ${children.size}")
        graft.functions.NfcNormalize(children.head)
      }),
    (new FunctionIdentifier("greedy_pieces"),
      new ExpressionInfo(classOf[graft.functions.GreedyPieces].getName, "greedy_pieces"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"greedy_pieces expects (text, vocab), got ${children.size} args")
        graft.functions.GreedyPieces(children.head, children(1))
      }),
    (new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[graft.functions.KmvSketch].getName, "kmv_sketch"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"kmv_sketch expects (hash_long, k), got ${children.size} args")
        graft.functions.KmvSketch(children.head, litInt(children(1), "kmv_sketch k"))
      }),
    (new FunctionIdentifier("top_k_by"),
      new ExpressionInfo(classOf[graft.functions.TopKBy].getName, "top_k_by"),
      (children: Seq[Expression]) => {
        require(children.size == 3 || children.size == 4,
          s"top_k_by expects (ord, payload, k[, 'desc'|'asc']), got ${children.size} args")
        val dir = if (children.size == 4) {
          require(children(3).foldable,
            "top_k_by direction must be a string literal 'desc'|'asc', got a non-literal expression")
          children(3).eval() match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString.toLowerCase
            case other => throw new IllegalArgumentException(
              s"top_k_by direction must be a string literal 'desc'|'asc', got $other")
          }
        } else "desc"
        require(dir == "desc" || dir == "asc",
          s"top_k_by direction must be 'desc' or 'asc', got '$dir'")
        graft.functions.TopKBy(children.head, children(1),
          litInt(children(2), "top_k_by k"), largest = dir == "desc")
      }),
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[graft.functions.BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"bloom_might_contain expects (sketch_bytes, text), got ${children.size} args")
        graft.functions.BloomMightContain(children.head, children(1))
      }),
    (new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[graft.functions.WinnowingFingerprints].getName, "winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.size == 3, s"winnow_fps expects (text, k, w), got ${children.size} args")
        graft.functions.WinnowingFingerprints(children.head,
          litInt(children(1), "winnow_fps k"), litInt(children(2), "winnow_fps w"))
      }),
    (new FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getName, "misra_gries"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"misra_gries expects (item_string, k), got ${children.size} args")
        graft.functions.MisraGries(children.head, litInt(children(1), "misra_gries k"))
      }),
    (new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[graft.functions.HilbertIndex].getName, "hilbert_index"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"hilbert_index expects (array<bigint>, bits), got ${children.size} args")
        graft.functions.HilbertIndex(children.head, litInt(children(1), "hilbert_index bits"))
      }),
    (new FunctionIdentifier("gram_cells"),
      new ExpressionInfo(classOf[graft.functions.GramCells].getName, "gram_cells"),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"gram_cells expects (array<bigint>), got ${children.size} args")
        graft.functions.GramCells(children.head)
      }),
    (new FunctionIdentifier("misra_gries_weighted"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getName, "misra_gries_weighted"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"misra_gries_weighted expects (item_string, weight_long, k), got ${children.size} args")
        graft.functions.MisraGries(children.head, children(1),
          litInt(children(2), "misra_gries_weighted k"))
      }))

  /** Imperative registration into an existing session (idempotent) — for
    * callers that didn't configure spark.sql.extensions. */
  def ensureRegistered(spark: SparkSession): Unit =
    entries.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
