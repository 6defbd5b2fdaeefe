package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{Layout, Layouts, LshScan}

/** Online single-query serving over a sign-LSH index — the engine's
  * hash-bucketed serving role (the reference's default in-process
  * index is HNSW, pkg/search/search.go:220-228; SURVEY.md §7 M5 maps
  * that capability to hash-bucketed search).
  *
  * Same engineering as [[IvfServer]]: bucket-grouped packed blocks, ONE
  * single-stage RDD job per query, the probe buckets (the query's bucket
  * plus its Hamming-1 flips, ≤ planes+1 longs) in the task closure, and
  * each partition scans only those buckets' rows — an expected
  * (planes+1)/2^planes of the corpus at hamming=1. Any `planes` the index
  * accepts (1–62) serves.
  *
  * Result order/tie-break matches [[graft.index.LshIndex.knnBlocked]]
  * exactly: ascending (rank_key, id) — the same kernel.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class LshServer(indexed: DataFrame, planes: Int, metric: Metric)
    extends ServingRdd {

  protected val servingRdd = ServeBlocks.pack(Layouts.BucketedVectors, indexed)
  private val dim = Layout.width(Layouts.BucketedVectors.rows(indexed))

  /** One query → top-k (id, distance, rank), driver-merged. `hamming`
    * = 0 probes only the query's own bucket; 1 adds each single-bit
    * flip (the multi-probe recall recovery, LshIndex.knnMultiProbe). */
  def search(q: Array[Double], k: Int, hamming: Int = 1): Array[(Long, Double, Int)] =
    ServeBlocks.search(servingRdd, new LshScan(planes, metric, hamming, dim), q, k)
}
