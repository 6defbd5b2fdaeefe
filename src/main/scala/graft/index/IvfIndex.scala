package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Metric

/** IVF (inverted-file) index: vectors clustered to nlist centroids; a
  * query scans only its nprobe nearest clusters (reference:
  * pkg/index/ivf/ivf.go).
  *
  * Spark layout: the index table is the vector table + a `cluster_id`
  * column, written partitioned by `cluster_id`; the centroid matrix is a
  * small driver-side artifact. Search is:
  *   1. probe ranking — per query, top-nprobe centroids by the model's
  *      metric (ivf.go:133-135 probes with the configured metric);
  *   2. probe join — `codes ⋈ broadcast(probes)` on cluster_id: with the
  *      table partitioned by cluster_id this is a partition-pruned scan
  *      (SURVEY.md J3); nothing about the big side ever shuffles;
  *   3. exact distances within the probed lists + per-query top-k via
  *      the bounded map-side aggregator — the candidate rows are combined
  *      to ≤ k per (query, partition) before any shuffle (VERDICT r1:
  *      the window formulation shuffled every candidate row).
  */
final case class IvfModel(centroids: Seq[Seq[Double]], metric: Metric) {
  def nlist: Int = centroids.size
  def dim: Int = centroids.head.size
  /** Primitive copy for the scan kernels' probe ranking — memoized, so a
    * kernel built per call converts nothing. */
  @transient private[graft] lazy val centroidArrays: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
}

object IvfIndex {

  /** Train on the vector table (production: distributed Lloyd's under the
    * model's metric, capped training sample — see [[Centroids.kMeans]]). */
  def train(vectors: DataFrame, nlist: Int, metric: Metric, seed: Long = 42L): IvfModel =
    IvfModel(Centroids.kMeans(vectors, nlist, seed, metric = metric), metric)

  /** Deterministic trainer (id-bucket means) — same machinery,
    * oracle-reproducible. */
  def trainDeterministic(vectors: DataFrame, nlist: Int, metric: Metric): IvfModel =
    IvfModel(Centroids.bucketMeans(vectors, nlist), metric)

  /** Add-side: tag each vector with its nearest centroid under the
    * model's metric (J2, ivf.go:240-252). Pure projection —
    * streaming-safe, appendable (ivf.go:93-112 semantics: new vectors use
    * the trained centroids until an explicit re-train). */
  def assign(vectors: DataFrame, model: IvfModel): DataFrame =
    vectors.withColumn("cluster_id",
      Centroids.nearest(col("vec"), model.centroids, model.metric))

  /** Per-query probe set: top-nprobe clusters by centroid distance under
    * the model's metric. Output (query_id, qvec, cluster_id). nprobe is
    * clamped to nlist (ivf.go:127-129). */
  def probes(queries: DataFrame, model: IvfModel, nprobe: Int): DataFrame = {
    val np = math.min(math.max(nprobe, 1), model.nlist)
    val spark = queries.sparkSession
    import spark.implicits._
    // centroids as a small broadcast DataFrame — a typedlit matrix would
    // put nlist×dim literal nodes in the plan (40k+ at nlist=316/dim=128),
    // bloating analysis/codegen
    val cdf = model.centroids.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cluster_id", "cvec")
    val w = Window.partitionBy("query_id").orderBy(col("ckey"), col("cluster_id"))
    queries
      .crossJoin(broadcast(cdf))
      .withColumn("ckey", model.metric.rankKey(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= np)
      .select(col("query_id"), col("qvec"), col("cluster_id"))
  }

  /** Search the assigned table (`cluster_id` column present) — the fully
    * distributed plan (queries can themselves be a huge table). The
    * bounded aggregator combines map-side, so the shuffle carries at most
    * k·partitions rows per query, not the full probed candidate set.
    * k ≤ 0 clamps to "all probed rows" (flat.go:82-84 clamp semantics). */
  def search(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val candidates = assigned.join(broadcast(probes(queries, model, nprobe)), Seq("cluster_id"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        model.metric.rankKey(col("qvec"), col("vec")).as("rank_key"))
    if (k <= 0) FlatIndex.topK(candidates, 0, model.metric)
    else FlatIndex.topKAgg(candidates, k, model.metric)
  }

  /** Blocked batch search ([[BlockedScan]] over [[IvfScan]]),
    * result-identical to [[search]]: probe ranking runs driver-side over
    * the small centroid matrix, and each cluster-grouped partition scans
    * only its probed clusters' rows. The candidate rows are never
    * materialized, joined, or shuffled — the final top-k merge sees
    * ≤ k·partitions rows per query. Queries must fit on the driver (use
    * [[search]] for query *tables*); `query_id` is cast to LONG. */
  def searchBlocked(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    if (k <= 0) search(assigned, model, queries, k, nprobe)
    else BlockedScan.search(new IvfScan(model, nprobe), assigned, queries, k)

  /** Driver-side top-nprobe cluster ids for one query — the same
    * ascending (rank_key, cluster_id) order as [[probes]]. */
  private[graft] def probeSet(q: Array[Double], cents: Array[Array[Double]],
      metric: Metric, np: Int): Array[Int] =
    Array.tabulate(cents.length)(c => (metric.rankKeyScalar(q, cents(c)), c))
      .sortBy(identity).take(np).map(_._2)

  /** cluster → indices of the queries probing it. */
  private[graft] def invertedProbes(probes: Array[Array[Int]], nlist: Int): Array[Array[Int]] = {
    val buf = Array.fill(nlist)(new scala.collection.mutable.ArrayBuffer[Int])
    var qi = 0
    while (qi < probes.length) {
      probes(qi).foreach(c => buf(c) += qi)
      qi += 1
    }
    buf.map(_.toArray)
  }

  /** One-shot convenience: assign + search. */
  def knn(vectors: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    search(assign(vectors, model), model, queries, k, nprobe)
}
