package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.{IvfPqModel, IvfPqScan, Layouts}

/** Online single-query serving over an IVFPQ index — the best
  * memory-footprint kind (codes + two small models), with the same
  * in-process serving path the reference facade gives every index type
  * (pkg/search/search.go:92-112; ivfpq.go:222-284 search semantics).
  *
  * Same engineering as [[IvfServer]]: codes pack ONCE into cluster-grouped
  * blocks; per query the probe ranking and the per-probe residuals run on
  * the driver and ship in the task closure; each partition scans only the
  * probed clusters' ranges with residual ADC (the table hoists per range,
  * [[graft.index.IvfPqScan]]); ONE single-stage RDD job per query.
  *
  * Result order/tie-break matches [[graft.index.IvfPqIndex.searchBlocked]]
  * exactly: ascending (rank_key, id), bit-identical distances — the same
  * kernel.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class IvfPqServer(codes: DataFrame, model: IvfPqModel) extends ServingRdd {

  protected val servingRdd = ServeBlocks.pack(Layouts.ClusteredCodes, codes)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, new IvfPqScan(model, nprobe), q, k)
}
