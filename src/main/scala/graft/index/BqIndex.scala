package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Metric

/** BQ — 1-bit binary quantization with Hamming scan + exact re-rank,
  * the modern vector-DB cheap-first-pass shape (sign quantization as in
  * faiss `IndexBinaryFlat` over `binarize`; the rescore composition the
  * recent binary-embedding deployments use). Beyond the reference,
  * whose smallest code is PQ's sub-byte-per-dim (pkg/index/pq/pq.go):
  * BQ is 32× smaller than float32 — one BIT per dimension — and its
  * scan is XOR + popcount, the cheapest distance kernel that exists.
  * Recall at k is low standalone; the intended pipeline is
  * Hamming top-k′ → [[Refine.rerank]] exact re-rank (`knn_bq_rerank`),
  * where the bit codes only have to put true neighbors in a generous
  * candidate set.
  *
  * Bit d is set iff `vec[d] > midrange_d` where midrange = (min+max)/2
  * per dimension — trained with the same ONE-PASS order-independent
  * min/max aggregate as [[Sq8Index]] (an `avg` threshold would be
  * FP-summation-order dependent across engines and could flip a
  * boundary bit; min/max cannot — the parity discipline that keeps the
  * PRODUCTION trainer DuckDB-reproducible). Codes pack MSB-first into
  * 32-bit words held in longs via an `acc·2 + bit` fold — shift-free,
  * so the Spark `aggregate` and DuckDB `list_reduce` forms are
  * bit-identical by construction.
  *
  * 100 TB: model = dim doubles broadcast; encode is a pure projection;
  * the scan reads dim/8 bytes per row; the blocked kernel bounds the
  * merge at ≤ k·partitions rows per query.
  */
final case class BqModel(thresholds: Seq[Double], metric: Metric) {
  def dim: Int = thresholds.size
  def words: Int = (dim + BqIndex.WordBits - 1) / BqIndex.WordBits
  @transient private[graft] lazy val thresholdArray: Array[Double] = thresholds.toArray
}

object BqIndex {

  /** Bits per packed word. 32 (in a long) rather than 64: the packing
    * fold and its DuckDB mirror stay inside exact BIGINT arithmetic with
    * headroom, and `2·words` longs per row is still ≤ dim/4 bytes. */
  val WordBits = 32

  /** One-pass per-dimension midrange thresholds — [[Sq8Index.train]]'s
    * exact two-shape aggregate (wide agg under the codegen limit,
    * posexplode above it), reused for the same determinism reasons. */
  def train(vectors: DataFrame, metric: Metric = Metric.L2): BqModel = {
    val sq8 = Sq8Index.train(vectors, metric)
    // midrange = min + (max-min)/2 = min + scale*255/2
    BqModel(
      sq8.mins.zip(sq8.scales).map { case (mn, sc) => mn + sc * 255.0 / 2.0 },
      metric)
  }

  /** Pack the sign bits of one vector into `words` longs, MSB-first
    * within each word: word w = fold over its dims of `acc·2 + bit`.
    * Pure codegen'd Column arithmetic — no UDF, no shuffle. */
  def encodeCol(vec: Column, model: BqModel): Column = {
    val th = typedLit(model.thresholds)
    val exprs = (0 until model.words).map { w =>
      val lo = w * WordBits
      val hi = math.min(model.dim, lo + WordBits)
      aggregate(
        sequence(lit(lo + 1), lit(hi)),
        lit(0L),
        (acc, i) => acc * 2 +
          when(element_at(vec, i.cast("int")) > element_at(th, i.cast("int")), 1L)
            .otherwise(0L))
    }
    array(exprs: _*)
  }

  /** (id, code: array<bigint>) — dim/32 packed words per row. */
  def encode(vectors: DataFrame, model: BqModel): DataFrame =
    vectors.select(col("id"), encodeCol(col("vec"), model).as("code"))

  /** Hamming distance between two packed-code columns:
    * Σ_w bit_count(xor(a_w, b_w)). */
  def hammingCol(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, c) => acc + c)

  /** Plan-based Hamming kNN: broadcast the encoded query batch, XOR +
    * popcount against the codes scan, per-query top-k by
    * (hamming, neighbor_id). Output (query_id, neighbor_id, hamming,
    * rank) — Hamming is an integer count, not a metric distance, and is
    * reported as such. */
  def knn(codes: DataFrame, model: BqModel, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"),
      encodeCol(col("qvec"), model).as("qcode"))
    val ranked = codes.crossJoin(broadcast(q))
      .select(col("query_id"), col("id").as("neighbor_id"),
        hammingCol(col("code"), col("qcode")).as("hamming"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))))
    (if (k <= 0) ranked else ranked.where(col("rank") <= k))
      .select(col("query_id"), col("neighbor_id"), col("hamming"), col("rank"))
  }

  /** Blocked batch search ([[BlockedScan]] over [[BqScan]]) —
    * result-identical to [[knn]] (same packed words, same (hamming, id)
    * tie-break), ≤ k·partitions rows per query reach the merge. */
  def knnBlocked(codes: DataFrame, model: BqModel, queries: DataFrame, k: Int): DataFrame =
    if (k <= 0) knn(codes, model, queries, k)
    else BlockedScan.search(new BqScan(model), codes, queries, k)
      .select(col("query_id"), col("neighbor_id"),
        col("distance").cast("long").as("hamming"), col("rank"))

  /** Driver-side packing of one query — same MSB-first fold as
    * [[encodeCol]], bit-identical. */
  private[graft] def packLocal(v: Array[Double], th: Array[Double]): Array[Long] = {
    val words = (th.length + WordBits - 1) / WordBits
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      val lo = w * WordBits
      val hi = math.min(th.length, lo + WordBits)
      var acc = 0L
      var i = lo
      while (i < hi) {
        acc = acc * 2 + (if (v(i) > th(i)) 1L else 0L)
        i += 1
      }
      out(w) = acc
      w += 1
    }
    out
  }
}
