package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions

/** OPQ — Optimized Product Quantization (Ge et al., CVPR 2013, the
  * non-parametric alternation; faiss `OPQMatrix` shape). Beyond the
  * reference: its PQ (pkg/index/pq/pq.go) quantizes raw coordinates, so
  * subspaces with unequal variance get unequal quantization error and
  * recall suffers on anisotropic data (the shape real embedding models
  * emit — leading components carry most of the variance). OPQ learns an
  * ORTHOGONAL rotation R that balances variance across the M subspaces
  * before quantizing; rotations are isometric, so rotated-space L2 IS
  * original-space L2 and everything downstream of the rotation is the
  * plain PQ machinery unchanged.
  *
  * Training alternates (on the capped deterministic sample, driver-local
  * like every quantizer trainer here — the rotation update is a dim×dim
  * SVD, pure scheduler overhead as ~10 Spark jobs):
  *   1. fit PQ codebooks to the rotated sample (PqIndex.lloydLocalPq);
  *   2. Procrustes rotation update: with C = Σᵣ xᵣ·ŷᵣᵀ (ŷ = the sample's
  *      PQ reconstruction), svd(C) = U·S·Vᵀ gives R = V·Uᵀ — the
  *      orthogonal minimizer of Σ‖R·x − ŷ‖².
  * A final full-depth codebook fit runs in the learned rotation.
  *
  * 100 TB shape: train touches only the capped sample; encode/search are
  * the PQ paths with one extra codegen'd matVec projection (the rotation
  * travels as a single array-of-arrays literal — dim² doubles, ≤ 4.7 MB
  * at dim 768), no shuffle, no UDF.
  */
final case class OpqModel(rotation: Seq[Seq[Double]], pq: PqModel) {
  require(rotation.nonEmpty && rotation.forall(_.size == rotation.size),
    "rotation must be square")
  def dim: Int = rotation.size
}

object OpqIndex {

  /** Apply the stored rotation to a local vector: y(j) = rotation(j)·x. */
  private[graft] def rotateLocal(rot: Array[Array[Double]],
      x: Array[Double]): Array[Double] = {
    val d = rot.length
    val out = new Array[Double](d)
    var j = 0
    while (j < d) {
      val row = rot(j)
      var s = 0.0
      var i = 0
      while (i < d) { s += row(i) * x(i); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** Per-subspace nearest-codeword reconstruction of a rotated sample
    * row — the ŷ of the Procrustes step. */
  private def reconstruct(y: Array[Double], cbs: Array[Array[Array[Double]]],
      dsub: Int): Array[Double] = {
    val m = cbs.length
    val out = new Array[Double](m * dsub)
    var mi = 0
    while (mi < m) {
      val off = mi * dsub
      val book = cbs(mi)
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < book.length) {
        val row = book(j)
        var d = 0.0
        var i = 0
        while (i < dsub && d < bestD) { val t = y(off + i) - row(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      System.arraycopy(book(best), 0, out, off, dsub)
      mi += 1
    }
    out
  }

  /** Mean squared reconstruction error of a rotated sample under the
    * codebooks — the quantity OPQ minimizes; exposed for the invariants
    * gate (OPQ MSE ≤ plain-PQ MSE on the same sample). */
  private[graft] def sampleMse(data: Array[Array[Double]],
      rot: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      dsub: Int): Double = {
    var sum = 0.0
    var r = 0
    while (r < data.length) {
      val y = rotateLocal(rot, data(r))
      val yHat = reconstruct(y, cbs, dsub)
      var i = 0
      while (i < y.length) { val t = y(i) - yHat(i); sum += t * t; i += 1 }
      r += 1
    }
    sum / math.max(1, data.length)
  }

  /** Orthogonal Procrustes: the R maximizing tr(R·C) for C = Xᵀ·Ŷ is
    * V·Uᵀ from svd(C) = U·S·Vᵀ. */
  private def procrustes(c: breeze.linalg.DenseMatrix[Double]): Array[Array[Double]] = {
    val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(c)
    val r = vt.t * u.t
    Array.tabulate(r.rows, r.cols)((j, i) => r(j, i))
  }

  private def identity(d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

  private def stridedInit(data: Array[Array[Double]], kk: Int, m: Int,
      dsub: Int): Array[Array[Array[Double]]] = {
    val stride = math.max(1, data.length / kk)
    Array.tabulate(m, kk)((mi, j) =>
      data((j * stride) % data.length).slice(mi * dsub, (mi + 1) * dsub))
  }

  /** Train rotation + codebooks. Deterministic: capped smallest-id
    * sample, identity init, strided codebook init, LAPACK SVD — no RNG
    * anywhere. `opqIters` alternations of (codebook fit, rotation
    * update), then one full-depth fit in the final rotation. */
  def train(vectors: DataFrame, m: Int, nbits: Int, metric: Metric,
      opqIters: Int = 6, sampleCap: Int = Centroids.DefaultTrainCap): OpqModel = {
    val dim = vectors.select(size(col("vec"))).first().getInt(0)
    PqIndex.validate(dim, m, nbits)
    val ksub = 1 << nbits
    val dsub = dim / m
    // the rotation update is driver-local; keep the collected sample
    // inside the driver training budget regardless of the caller's cap
    val cap = math.min(sampleCap.toLong, Centroids.LocalTrainBudget / dim).toInt
    val ts = Centroids.trainingSample(vectors, math.max(1, cap), "id", "vec")
    val x = ts.localData
    ts.unpersist()
    require(x.nonEmpty, "cannot train OPQ on an empty vector table")
    val kk = math.max(1, math.min(ksub, x.length))

    var rot = identity(dim)
    var it = 0
    // per-row rotate/reconstruct are pure — parallel by row slot, while
    // the Procrustes C accumulation below stays sequential in ascending
    // row order, so every float lands exactly as in the sequential loop
    def rotateAll(r: Array[Array[Double]]): Array[Array[Double]] = {
      val out = new Array[Array[Double]](x.length)
      DriverPar.foreach(x.length, chunk = 64) { i => out(i) = rotateLocal(r, x(i)) }
      out
    }
    while (it < opqIters) {
      val y = rotateAll(rot)
      val cbs = PqIndex.lloydLocalPq(y, stridedInit(y, kk, m, dsub), dsub, maxIter = 4)
      val yHats = new Array[Array[Double]](x.length)
      DriverPar.foreach(x.length, chunk = 64) { i => yHats(i) = reconstruct(y(i), cbs, dsub) }
      // C = Xᵀ·Ŷ accumulated row by row (dim×dim, ≤ 4.7 MB at dim 768)
      // into a flat primitive array — breeze's per-element update was a
      // bounds-checked method call on the 82M-add hot loop; the adds and
      // their order are unchanged (row-major (i,j), ascending r)
      val cFlat = new Array[Double](dim * dim)
      var r = 0
      while (r < x.length) {
        val yHat = yHats(r)
        val xr = x(r)
        var i = 0
        while (i < dim) {
          val xi = xr(i)
          if (xi != 0.0) {
            val base = i * dim
            var j = 0
            while (j < dim) { cFlat(base + j) += xi * yHat(j); j += 1 }
          }
          i += 1
        }
        r += 1
      }
      val c = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => cFlat(i * dim + j))
      rot = procrustes(c)
      it += 1
    }
    val yFinal = rotateAll(rot)
    val cbs = PqIndex.lloydLocalPq(
      yFinal, stridedInit(yFinal, kk, m, dsub), dsub, maxIter = 10)
    OpqModel(rot.map(_.toVector).toVector,
      PqModel(cbs.map(_.map(_.toVector).toVector).toVector, metric))
  }

  /** The rotation as a codegen'd projection — one native MatVec kernel
    * call per row (r13; the prior transform-over-typedLit form paid dim
    * interpreted lambda dispatches per row — the OPQ encode cost,
    * VERDICT r12 next #7). Same per-element dot fold, bit-identical. */
  def rotateCol(vec: Column, model: OpqModel): Column =
    VectorFunctions.matVec(model.rotation, vec)

  /** (id, code) table — PQ encode of the rotated vectors. */
  def encode(vectors: DataFrame, model: OpqModel): DataFrame =
    vectors.select(col("id"),
      PqIndex.encodeCol(rotateCol(col("vec"), model), model.pq).as("code"))

  /** Dequantize back to the ORIGINAL space: PQ-decode in the rotated
    * space, then apply R⁻¹ = Rᵀ (the rotation is orthonormal, so the
    * original-space reconstruction error equals the rotated-space PQ
    * error — the isometry ReconstructSpec asserts). */
  def decode(code: Column, model: OpqModel): Column =
    VectorFunctions.matVec(model.rotation.transpose,
      PqIndex.decode(code, model.pq))

  private def rotateQueries(queries: DataFrame, model: OpqModel): DataFrame =
    queries.select(col("query_id"), rotateCol(col("qvec"), model).as("qvec"))

  /** ADC kNN in the rotated space — exact-L2-equivalent by isometry. */
  def knn(codes: DataFrame, model: OpqModel, queries: DataFrame, k: Int): DataFrame =
    PqIndex.knn(codes, model.pq, rotateQueries(queries, model), k)

  /** Blocked batch search ([[BlockedScan]] over [[OpqScan]]: the PQ scan
    * behind a driver-side rotation of each query). */
  def knnBlocked(codes: DataFrame, model: OpqModel, queries: DataFrame, k: Int): DataFrame =
    if (k <= 0) knn(codes, model, queries, k)
    else BlockedScan.search(new OpqScan(model), codes, queries, k)
}
