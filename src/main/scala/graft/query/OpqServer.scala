package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.{Layouts, OpqModel, OpqScan}

/** OPQ single-query server — the PQ serving kernel behind a driver-side
  * query rotation (one dim² matVec per query, microseconds): the rotated
  * query's ADC table addresses the same packed code blocks PqServer
  * scans, so serving cost and layout are identical to the PQ kind. */
// deliberately NOT Serializable — per-query closures capture only locals
final class OpqServer(codes: DataFrame, model: OpqModel) extends ServingRdd {

  protected val servingRdd = ServeBlocks.pack(Layouts.Codes, codes)
  private val kernel = new OpqScan(model)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, kernel, q, k)
}
