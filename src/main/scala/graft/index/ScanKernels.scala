package graft.index

import graft.core.Metric

/** The per-kind [[ScanKernel]]s: flat, IVF, LSH, PQ, OPQ, IVFPQ, BQ, SQ8
  * and IVF×SQ8. Each kind's per-row loop is its `scanRange`, written once
  * here and run by all three drivers. Kinds that probe (IVF, LSH, IVFPQ,
  * IVF×SQ8) use a tag-grouped layout and visit only their probed groups;
  * the rest scan every row of an untagged block. */

/** Each kind's single block layout. */
private[graft] object Layouts {
  val Vectors: Layout[Double] = Layout(Payload.Doubles, "vec", None)
  val ClusteredVectors: Layout[Double] = Layout(Payload.Doubles, "vec", Some("cluster_id"))
  val BucketedVectors: Layout[Double] = Layout(Payload.Doubles, "vec", Some("bucket"))
  val Codes: Layout[Int] = Layout(Payload.Ints, "code", None)
  val ClusteredCodes: Layout[Int] = Layout(Payload.Ints, "code", Some("cluster_id"))
  val Words: Layout[Long] = Layout(Payload.Longs, "code", None)
  val Bytes: Layout[Byte] = Layout(Payload.Bytes, "code", None)
  val ClusteredBytes: Layout[Byte] = Layout(Payload.Bytes, "code", Some("cluster_id"))
}

/** A prepared query for the vector and SQ8 kernels: the query and the
  * row groups it visits (null = every row). */
private[graft] final case class QueryGroups(q: Array[Double], groups: Array[Long])

/** Exact distances over stored vectors — flat, IVF and LSH differ only in
  * which groups a query visits. */
private[graft] abstract class VecScan(kind: String, layout: Layout[Double], metric: Metric,
    dim: Int) extends ScanKernel[Double, QueryGroups](kind, layout, dim, dim, metric) {
  protected def groups(p: QueryGroups): Array[Long] = p.groups

  protected def scanRange(p: QueryGroups, blk: Block[Double], i: Int, from: Int,
      until: Int, heap: BoundedTopK): Unit = {
    val q = p.q
    val metric = finish
    val ids = blk.ids
    val data = blk.data
    val w = blk.width
    var r = from
    while (r < until) {
      heap.insert(ids(r), metric.rankKeyScalar(q, data, r * w, w))
      r += 1
    }
  }
}

/** Brute force: every row. `dim` comes from the data (the kind has no
  * model). */
private[graft] final class FlatScan(metric: Metric, dim: Int)
    extends VecScan("flat", Layouts.Vectors, metric, dim) {
  protected def prep(q: Array[Double]): QueryGroups = QueryGroups(q, null)
}

/** IVF: the query's top-nprobe clusters by centroid rank key
  * ([[IvfIndex.probeSet]]), exact distances within them. */
private[graft] final class IvfScan(@transient model: IvfModel, nprobe: Int)
    extends VecScan("ivf", Layouts.ClusteredVectors, model.metric, model.dim) {
  private val np = math.min(math.max(nprobe, 1), model.nlist)
  protected def prep(q: Array[Double]): QueryGroups =
    QueryGroups(q, IvfIndex.probeSet(q, model.centroidArrays, model.metric, np).map(_.toLong))
}

/** Sign-LSH: the query's bucket, plus each single-bit flip at Hamming
  * radius 1 (the multi-probe recall recovery, [[LshIndex.knnMultiProbe]]);
  * exact distances within. `dim` comes from the data. */
private[graft] final class LshScan(planes: Int, metric: Metric, hamming: Int, dim: Int)
    extends VecScan("lsh", Layouts.BucketedVectors, metric, dim) {
  require(hamming >= 0 && hamming <= 1, s"hamming radius must be 0 or 1, got $hamming")
  protected def prep(q: Array[Double]): QueryGroups = {
    val qb = LshIndex.bucketScalar(q, planes)
    QueryGroups(q,
      if (hamming == 0) Array(qb) else qb +: Array.tabulate(planes)(p => qb ^ (1L << p)))
  }
}

/** PQ ADC: the query's flat M·Ksub distance table ([[PqIndex.adcTable]],
  * pq.go:144-155's loop-invariant hoist) is built on the driver; the scan
  * is M table lookups per row, summed in ascending subspace order — the
  * same doubles in the same order as the plan's ADC expression, so the
  * distances are bit-identical. ADC reports √ of the summed squared
  * subspace distances (pq.go:158-168). */
private[graft] class PqScan(@transient pq: PqModel, kind: String = "pq")
    extends ScanKernel[Int, Array[Double]](kind, Layouts.Codes, pq.dim, pq.m, Metric.L2) {
  private val ksub = pq.ksub
  protected def prep(q: Array[Double]): Array[Double] = PqIndex.adcTable(q, pq)
  protected def groups(tab: Array[Double]): Array[Long] = null

  protected def scanRange(tab: Array[Double], blk: Block[Int], i: Int, from: Int,
      until: Int, heap: BoundedTopK): Unit = {
    val ids = blk.ids
    val codes = blk.data
    val m = blk.width
    val ks = ksub
    var r = from
    while (r < until) {
      val off = r * m
      var d = 0.0
      var mi = 0
      while (mi < m) { d += tab(mi * ks + codes(off + mi)); mi += 1 }
      heap.insert(ids(r), d)
      r += 1
    }
  }
}

/** OPQ: the PQ scan behind a driver-side query rotation (one dim² matVec
  * per query, [[OpqIndex.rotateLocal]] — the same per-element fold as the
  * plan's rotation expression). */
private[graft] final class OpqScan(@transient model: OpqModel) extends PqScan(model.pq, "opq") {
  @transient private lazy val rot = model.rotation.map(_.toArray).toArray
  override protected def prep(q: Array[Double]): Array[Double] =
    super.prep(OpqIndex.rotateLocal(rot, q))
}

/** A prepared IVFPQ query: its probed clusters and the query residual
  * against each probed centroid (ivfpq.go:139-147). */
private[graft] final case class ResidualProbes(groups: Array[Long],
    residuals: Array[Array[Double]])

/** IVFPQ: probe ranking and residuals on the driver, residual ADC over
  * each probed cluster's range. The ADC table hoists per range: a range
  * longer than `adcHoistThreshold` rows (default Ksub — the flop
  * break-even: one table costs dim·Ksub, each row then saves ~dim) builds
  * the cluster's M×Ksub table once; shorter ranges score directly. Table
  * and direct forms add the same doubles in the same ascending-subspace
  * order, so distances are bit-identical either way. A threshold of 0
  * hoists every range (the test hook for the table path). */
private[graft] final class IvfPqScan(@transient model: IvfPqModel, nprobe: Int,
    adcHoistThreshold: Int = -1)
    extends ScanKernel[Int, ResidualProbes]("ivfpq", Layouts.ClusteredCodes,
      model.coarse.dim, model.pq.m, Metric.L2) {
  private val cbs = model.pq.codebookArrays
  private val dsub = model.pq.dsub
  private val ksub = model.pq.ksub
  private val hoistAt = if (adcHoistThreshold >= 0) adcHoistThreshold else ksub
  private val np = math.min(math.max(nprobe, 1), model.coarse.nlist)
  @transient private lazy val table =
    ThreadLocal.withInitial[Array[Double]](() => new Array[Double](cbs.length * ksub))

  protected def prep(q: Array[Double]): ResidualProbes = {
    val cents = model.coarse.centroidArrays
    val ps = IvfIndex.probeSet(q, cents, model.coarse.metric, np)
    ResidualProbes(ps.map(_.toLong), ps.map { c =>
      val cent = cents(c)
      Array.tabulate(q.length)(i => q(i) - cent(i))
    })
  }

  protected def groups(p: ResidualProbes): Array[Long] = p.groups

  protected def scanRange(p: ResidualProbes, blk: Block[Int], i: Int, from: Int,
      until: Int, heap: BoundedTopK): Unit = {
    val res = p.residuals(i)
    val ids = blk.ids
    val codes = blk.data
    val m = blk.width
    var r = from
    if (until - from > hoistAt) {
      val tab = PqIndex.adcTableInto(res, cbs, table.get())
      val ks = ksub
      while (r < until) {
        val off = r * m
        var d = 0.0
        var mi = 0
        while (mi < m) { d += tab(mi * ks + codes(off + mi)); mi += 1 }
        heap.insert(ids(r), d)
        r += 1
      }
    } else {
      val ds = dsub
      while (r < until) {
        val off = r * m
        var acc = 0.0
        var mi = 0
        while (mi < m) {
          val row = cbs(mi)(codes(off + mi))
          val qOff = mi * ds
          var d = 0.0
          var j = 0
          while (j < ds) { val x = res(qOff + j) - row(j); d += x * x; j += 1 }
          acc += d
          mi += 1
        }
        heap.insert(ids(r), acc)
        r += 1
      }
    }
  }
}

/** BQ: the query's sign words ([[BqIndex.packLocal]], bit-identical to the
  * plan's encode), then XOR + popcount per word per row. Hamming distance
  * is the L1 distance between bit vectors, so the rank key is the reported
  * distance. */
private[graft] final class BqScan(@transient model: BqModel)
    extends ScanKernel[Long, Array[Long]]("bq", Layouts.Words, model.dim, model.words,
      Metric.Manhattan) {
  protected def prep(q: Array[Double]): Array[Long] = BqIndex.packLocal(q, model.thresholdArray)
  protected def groups(qc: Array[Long]): Array[Long] = null

  protected def scanRange(qc: Array[Long], blk: Block[Long], i: Int, from: Int,
      until: Int, heap: BoundedTopK): Unit = {
    val ids = blk.ids
    val words = blk.data
    val nw = blk.width
    var r = from
    while (r < until) {
      val off = r * nw
      var d = 0L
      var w = 0
      while (w < nw) { d += java.lang.Long.bitCount(words(off + w) ^ qc(w)); w += 1 }
      heap.insert(ids(r), d.toDouble)
      r += 1
    }
  }
}

/** SQ8 and IVF×SQ8: the query against dequantized codes. Under L2 each
  * (query, block) scan first fills the squared-difference table
  * `tab(i·256 + u) = (q_i − (min_i + u·scale_i))²`, u = code + 128 — each
  * entry EXACTLY the inline dequantize-subtract-square term, so the
  * i-ordered fold of lookups is bit-identical to the dequantized plan
  * (VERDICT r10 wrong #2: the inline form lost to raw doubles despite 8×
  * less data). The table is dim·256 doubles, kept per thread. Other
  * metrics dequantize each row and use the metric's rank key. */
private[graft] abstract class Sq8Family(kind: String, layout: Layout[Byte],
    @transient sq8: Sq8Model)
    extends ScanKernel[Byte, QueryGroups](kind, layout, sq8.dim, sq8.dim, sq8.metric) {
  private val mins = sq8.minsArray
  private val scales = sq8.scalesArray
  private val l2 = sq8.metric == Metric.L2
  @transient private lazy val table =
    ThreadLocal.withInitial[Array[Double]](() => new Array[Double](dim << 8))

  protected def groups(p: QueryGroups): Array[Long] = p.groups

  override protected def scanBlock(p: QueryGroups, blk: Block[Byte], heap: BoundedTopK): Unit = {
    if (l2) {
      val tab = table.get()
      var i = 0
      while (i < dim) {
        var u = 0
        while (u < 256) {
          val t = p.q(i) - (mins(i) + u.toDouble * scales(i))
          tab((i << 8) + u) = t * t
          u += 1
        }
        i += 1
      }
    }
    super.scanBlock(p, blk, heap)
  }

  /** Under L2 the canonical per-row fold is one serial add chain, and it
    * is value-pinned (reassociating within a row would change the oracle's
    * bits), so FOUR rows' folds interleave instead: four independent add
    * chains, each row's own fold exactly canonical. */
  protected def scanRange(p: QueryGroups, blk: Block[Byte], gi: Int, from: Int,
      until: Int, heap: BoundedTopK): Unit = {
    val ids = blk.ids
    val codes = blk.data
    var r = from
    if (l2) {
      val tab = table.get()
      val lim = until - 3
      while (r < lim) {
        val o0 = r * dim; val o1 = o0 + dim; val o2 = o1 + dim; val o3 = o2 + dim
        var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
        var i = 0
        while (i < dim) {
          val base = i << 8
          d0 += tab(base + codes(o0 + i) + 128)
          d1 += tab(base + codes(o1 + i) + 128)
          d2 += tab(base + codes(o2 + i) + 128)
          d3 += tab(base + codes(o3 + i) + 128)
          i += 1
        }
        heap.insert(ids(r), d0)
        heap.insert(ids(r + 1), d1)
        heap.insert(ids(r + 2), d2)
        heap.insert(ids(r + 3), d3)
        r += 4
      }
      while (r < until) {
        val off = r * dim
        var d = 0.0
        var i = 0
        while (i < dim) { d += tab((i << 8) + codes(off + i) + 128); i += 1 }
        heap.insert(ids(r), d)
        r += 1
      }
    } else {
      val recon = new Array[Double](dim)
      while (r < until) {
        val off = r * dim
        var i = 0
        while (i < dim) {
          recon(i) = mins(i) + (codes(off + i).toInt + 128).toDouble * scales(i)
          i += 1
        }
        heap.insert(ids(r), finish.rankKeyScalar(p.q, recon))
        r += 1
      }
    }
  }
}

/** SQ8: every row. */
private[graft] final class Sq8Scan(@transient model: Sq8Model)
    extends Sq8Family("sq8", Layouts.Bytes, model) {
  protected def prep(q: Array[Double]): QueryGroups = QueryGroups(q, null)
}

/** IVF×SQ8 (the `knn_ivfsq8_det` layout: coarse assignment on the original
  * vectors, SQ8 codes as the payload): the query's top-nprobe clusters,
  * dequantized distances within them. L2 only. */
private[graft] final class IvfSq8Scan(@transient sq8: Sq8Model, @transient ivf: IvfModel,
    nprobe: Int) extends Sq8Family("ivfsq8", Layouts.ClusteredBytes, sq8) {
  require(sq8.metric == Metric.L2 && ivf.metric == Metric.L2,
    s"ivfsq8 serves the l2 kind; got ${sq8.metric.name}/${ivf.metric.name}")
  private val np = math.min(math.max(nprobe, 1), ivf.nlist)
  protected def prep(q: Array[Double]): QueryGroups =
    QueryGroups(q, IvfIndex.probeSet(q, ivf.centroidArrays, Metric.L2, np).map(_.toLong))
}
