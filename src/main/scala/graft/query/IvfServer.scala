package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.{IvfModel, IvfScan, Layouts}

/** Online single-query serving over an IVF index — the closest Spark gets
  * to the reference's in-process `Search(query []float32, k int)`
  * (pkg/search/search.go:104-147).
  *
  * Spark's floor for one query is a scheduled job, so the hot path is
  * engineered down to exactly ONE single-stage RDD job and nothing else:
  * the assigned table packs ONCE into cluster-grouped blocks
  * ([[ServeBlocks]]); per query the probe ranking runs on the driver
  * ([[graft.index.IvfScan]]) and the probed cluster ids ship in the task
  * closure (no broadcast, no SQL plan analysis, no codegen — those cost
  * 0.5–2 s per call through the DataFrame path and were the round-2
  * serving pathology); each partition scans only its probed clusters'
  * rows and emits its bounded top-k; the driver merges.
  *
  * Result order/tie-break matches [[graft.index.IvfIndex.searchBlocked]]
  * exactly: ascending (rank_key, id) — the same kernel.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class IvfServer(assigned: DataFrame, model: IvfModel) extends ServingRdd {

  protected val servingRdd = ServeBlocks.pack(Layouts.ClusteredVectors, assigned)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, new IvfScan(model, nprobe), q, k)
}
