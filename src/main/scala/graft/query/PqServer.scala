package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.{Layouts, PqModel, PqScan}

/** Online single-query serving over a PQ codes table — completes the
  * serving matrix to every persistable kind, like the reference facade
  * serves all of its index types in-process (pkg/search/search.go:92-112).
  *
  * Same engineering as [[IvfServer]]: the codes pack ONCE into
  * [[ServeBlocks.ServePartitions]] cached primitive blocks (~n·M ints —
  * the PQ kinds' whole appeal is that serving-resident state is codes,
  * not vectors); per query the M×Ksub ADC distance table (pq.go:144-155's
  * loop-invariant hoist) is computed on the driver and ships in the task
  * closure, so the scan is M int-indexed lookups per row; ONE
  * single-stage RDD job per query, driver merge.
  *
  * Result order/tie-break matches [[graft.index.PqIndex.knnBlocked]]
  * exactly: ascending (rank_key, id), bit-identical distances — the same
  * kernel.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class PqServer(codes: DataFrame, model: PqModel) extends ServingRdd {

  protected val servingRdd = ServeBlocks.pack(Layouts.Codes, codes)
  private val kernel = new PqScan(model)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, kernel, q, k)
}
