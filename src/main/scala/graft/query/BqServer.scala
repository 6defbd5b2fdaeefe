package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.{BqModel, BqScan, Layouts}

/** Online single-query serving over a BQ packed-word table — completes
  * the serving matrix to the binary-quantized kind, whose whole appeal
  * is the cheapest serving-resident state of any kind: dim/8 BYTES per
  * row (two longs at dim = 64), 32× under a float32 flat server.
  *
  * Same engineering as [[PqServer]]: the sign words pack ONCE into cached
  * primitive blocks; per query the driver packs q against the model
  * thresholds ([[graft.index.BqIndex.packLocal]], bit-identical to the
  * plan-side encode) and ships the few query words in the task closure;
  * the scan is XOR + popcount per word per row; ONE single-stage RDD job
  * per query, driver merge.
  *
  * Result order/tie-break matches [[graft.index.BqIndex.knnBlocked]]
  * exactly: ascending (hamming, id) — the same kernel.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class BqServer(codes: DataFrame, model: BqModel) extends ServingRdd {

  protected val servingRdd = ServeBlocks.pack(Layouts.Words, codes)
  private val kernel = new BqScan(model)

  /** One query → top-k (id, hamming, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Long, Int)] =
    ServeBlocks.search(servingRdd, kernel, q, k).map { case (id, d, r) => (id, d.toLong, r) }
}
