package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{IvfModel, IvfSq8Scan, Layouts, Sq8Model}

/** Online single-query serving for the IVF×SQ8 composite kind
  * (`knn_ivfsq8_det`'s layout: coarse cluster assignment on the ORIGINAL
  * vectors, SQ8 codes as the stored payload) — VERDICT r7 #7: plain
  * [[Sq8Server]] is a flat-class exhaustive scan, cost ∝ n (149.9 ms p50
  * at 1M); routing it through the IVF probe bounds the per-query resident
  * scan to the probed clusters' rows, the same nprobe/n fraction
  * [[IvfServer]] enjoys, while keeping the 1 B/element resident state.
  *
  * Mechanics are the [[IvfServer]] + [[Sq8Server]] composition: codes
  * pack once into cluster-grouped byte blocks; per query the probe
  * ranking runs on the driver, the probed cluster ids ship in the task
  * closure, and the one single-stage RDD job scans each probed cluster as
  * a contiguous range through the SQ8 table kernel
  * ([[graft.index.IvfSq8Scan]]) — cost ∝ probed mass, not n. Result
  * order/tie-break matches the composite batch plan exactly: ascending
  * (rank_key, id) over dequantized candidates in probed clusters.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class IvfSq8Server(codes: DataFrame, sq8: Sq8Model, ivf: IvfModel)
    extends ServingRdd {

  require(sq8.metric == Metric.L2 && ivf.metric == Metric.L2,
    s"IvfSq8Server serves the l2 kind; got ${sq8.metric.name}/${ivf.metric.name}")

  protected val servingRdd = ServeBlocks.pack(Layouts.ClusteredBytes, codes)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, new IvfSq8Scan(sq8, ivf, nprobe), q, k)
}
