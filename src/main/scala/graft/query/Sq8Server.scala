package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{Layouts, Sq8Model, Sq8Scan}

/** Online single-query serving over an SQ8 codes table — same engineering
  * as [[PqServer]]: codes pack once into cached primitive byte blocks
  * (1 B/element — 8× less resident state than the double-packed blocks a
  * flat server would hold), ONE single-stage RDD job per query, driver
  * merge. Each task folds the per-query squared-difference table with
  * four-row software pipelining ([[graft.index.Sq8Scan]]).
  *
  * Result order/tie-break matches [[graft.index.Sq8Index.knnBlocked]]
  * exactly: ascending (rank_key, id), identical per-row arithmetic — the
  * same kernel.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class Sq8Server(codes: DataFrame, model: Sq8Model) extends ServingRdd {

  require(model.metric == Metric.L2,
    s"Sq8Server serves the l2 kind; got ${model.metric.name}")

  protected val servingRdd = ServeBlocks.pack(Layouts.Bytes, codes)
  private val kernel = new Sq8Scan(model)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, kernel, q, k)
}
