package graft.query

import java.util.stream.IntStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Metric
import graft.index.{Block, BoundedTopK, BqModel, BqScan, FlatScan, IvfModel, IvfPqModel, IvfPqScan, IvfScan, IvfSq8Scan, Layout, Layouts, LshScan, OpqModel, OpqScan, PqModel, PqScan, RoutedHnswIndex, RoutedHnswModel, ScanKernel, Sq8Model, Sq8Scan}

/** Kind-erased in-process serving handle — what [[Searcher.localServer]]
  * returns: one query in, (id, distance, rank) out, with the facade's
  * options (nprobe/efSearch) already applied. */
trait LocalServer {
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)]
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]]
}

/** In-process serving: zero Spark jobs per query.
  *
  * Every scan kind has ONE kernel ([[graft.index.ScanKernel]]: pack,
  * prepare, scan) and three drivers run it — the blocked batch search
  * ([[graft.index.BlockedScan]]), the distributed `ServingRdd` servers
  * ([[ServeBlocks]], one single-stage Spark job per query) and this one,
  * which collects the kind's packed blocks to the driver ONCE and scans
  * them on the JVM common pool. All three are a local top-k per block
  * followed by one merge under the same (rank_key, id) total order, so
  * the in-process servers are result-IDENTICAL to their distributed and
  * batch siblings by construction (LocalServeSpec, ThreePathParitySpec).
  * IVF, IVFPQ, IVF×SQ8 and LSH (any planes in 1–62) scan only their
  * probed groups of the tag-grouped blocks; flat, PQ, OPQ, SQ8 and BQ
  * scan every row.
  *
  * This is the reference's deployment shape: its facade serves queries
  * against heap-resident structures in-process (pkg/search/search.go —
  * no scheduler in the hot path), which is why its single-query
  * latencies are micro-to-milliseconds while every Spark job pays a
  * ~10-20 ms scheduling floor. `ServingRdd` servers are the CLUSTER path
  * (resident state sharded across executors — the only shape that exists
  * at 100 TB); the `Local*Server`s are the SINGLE-HEAP path for state
  * that fits the driver: flat doubles are n·dim·8 B, SQ8 n·dim B, PQ n·M
  * ints, BQ n·dim/8 B — at the reference's own protocol (100k × 128d)
  * that is 102 MB worst case. HNSW kinds walk their compiled shard graphs
  * through the same [[LocalServe.scan]]/[[LocalServe.batch]] helpers.
  */
private[graft] object LocalServe {

  /** Collect a kind's packed blocks — the same packer and serving
    * partitioning as [[ServeBlocks]]; the driver copy is the only
    * resident state. */
  def collect[E](layout: Layout[E], index: DataFrame): Array[Block[E]] =
    ServeBlocks.blocks(layout, index).collect()

  /** Batch-throughput twin of [[scan]]: QUERIES fan across the common
    * pool and each query's blocks scan sequentially on its worker into
    * one bounded heap — no per-query fork fan-out, no per-block partial
    * arrays (at in-process kernel speeds the fork overhead of a
    * per-query 32-task fan-out rivals the scans themselves). Merging
    * every block into one heap is order-invariant, so per query the
    * result is identical to [[scan]]'s two-level merge. `mk` runs once
    * per query for per-query precomputation shared across that query's
    * blocks. */
  def batch[B](qs: Array[Array[Double]], blocks: Array[B], k: Int)(
      mk: Array[Double] => (B, BoundedTopK) => Unit): Array[BoundedTopK] = {
    val out = new Array[BoundedTopK](qs.length)
    IntStream.range(0, qs.length).parallel().forEach { qi =>
      val merge = new BoundedTopK(k)
      val perBlock = mk(qs(qi))
      var b = 0
      while (b < blocks.length) { perBlock(blocks(b), merge); b += 1 }
      out(qi) = merge
    }
    out
  }

  /** Parallel per-block scan → merged (id, rank_key) candidates.
    * `distinct` dedups the cross-block merge — required when one id can
    * live in several blocks (the replicated routed graph,
    * [[graft.index.RoutedHnswIndex.buildReplicated]]); within a block an
    * id appears once, so the per-block heaps never need it. */
  def scan[B](blocks: Array[B], k: Int, distinct: Boolean = false)(
      perBlock: (B, BoundedTopK) => Unit): BoundedTopK = {
    val partials = new Array[Array[(Long, Double)]](blocks.length)
    IntStream.range(0, blocks.length).parallel().forEach { bi =>
      val merge = new BoundedTopK(k)
      perBlock(blocks(bi), merge)
      partials(bi) = merge.drainIterator.toArray
    }
    val top = new BoundedTopK(k)
    if (distinct) partials.foreach(_.foreach { case (id, d) => top.insertDistinct(id, d) })
    else partials.foreach(_.foreach { case (id, d) => top.insert(id, d) })
    top
  }

  /** One query: prepare on the calling thread, blocks scan in parallel. */
  def search[E, P](kernel: ScanKernel[E, P], blocks: Array[Block[E]], q: Array[Double],
      k: Int): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val p = kernel.prepare(q)
    finish(kernel, scan(blocks, k)((blk, heap) => kernel.scan(p, blk, heap)))
  }

  /** Query-parallel batch; per query ≡ [[search]]. */
  def searchBatch[E, P](kernel: ScanKernel[E, P], blocks: Array[Block[E]],
      qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] = {
    require(k > 0, s"serving requires k > 0, got $k")
    batch(qs, blocks, k) { q =>
      val p = kernel.prepare(q)
      (blk, heap) => kernel.scan(p, blk, heap)
    }.map(finish(kernel, _))
  }

  private def finish(kernel: ScanKernel[_, _], top: BoundedTopK): Array[(Long, Double, Int)] =
    top.ranked.map { case (id, d, r) => (id, kernel.finish.finishRankScalar(d), r) }
}

/** A kernel over its collected blocks — the in-process driver
  * [[Searcher.localServer]] builds for every scan kind. */
private[graft] final class LocalScan[E, P](kernel: ScanKernel[E, P], blocks: Array[Block[E]])
    extends LocalServer {
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] =
    LocalServe.search(kernel, blocks, q, k)
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    LocalServe.searchBatch(kernel, blocks, qs, k)
}

private[graft] object LocalScan {
  def apply[E, P](kernel: ScanKernel[E, P], index: DataFrame): LocalScan[E, P] =
    new LocalScan(kernel, LocalServe.collect(kernel.layout, index))
}

/** In-process exhaustive scan — the reference's flat kind served the
  * reference's way. Result-identical to FlatIndex.knnBlocked. */
final class LocalFlatServer(vectors: DataFrame, metric: Metric) {
  private val local =
    LocalScan(new FlatScan(metric, Layout.width(Layouts.Vectors.rows(vectors))), vectors)
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = local.search(q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    local.searchBatch(qs, k)
}

/** In-process IVF: driver probe ranking, probed clusters' rows only.
  * Result-identical to [[IvfServer.search]]. */
final class LocalIvfServer(assigned: DataFrame, model: IvfModel) {
  private val blocks = LocalServe.collect(Layouts.ClusteredVectors, assigned)
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    LocalServe.search(new IvfScan(model, nprobe), blocks, q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      nprobe: Int): Array[Array[(Long, Double, Int)]] =
    LocalServe.searchBatch(new IvfScan(model, nprobe), blocks, qs, k)
}

/** In-process sign-LSH: the query's bucket (+ Hamming-1 flips), those
  * buckets' rows only. Result-identical to [[LshServer.search]]. */
final class LocalLshServer(indexed: DataFrame, planes: Int, metric: Metric) {
  private val blocks = LocalServe.collect(Layouts.BucketedVectors, indexed)
  private val dim = Layout.width(Layouts.BucketedVectors.rows(indexed))
  private def kernel(hamming: Int) = new LshScan(planes, metric, hamming, dim)
  def search(q: Array[Double], k: Int, hamming: Int = 1): Array[(Long, Double, Int)] =
    LocalServe.search(kernel(hamming), blocks, q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      hamming: Int = 1): Array[Array[(Long, Double, Int)]] =
    LocalServe.searchBatch(kernel(hamming), blocks, qs, k)
}

/** In-process PQ ADC: driver distance table, M int lookups per row.
  * Result-identical to [[PqServer.search]]. */
final class LocalPqServer(codes: DataFrame, model: PqModel) {
  private val local = LocalScan(new PqScan(model), codes)
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = local.search(q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    local.searchBatch(qs, k)
}

/** In-process SQ8 ([[graft.index.Sq8Scan]]: the per-query squared-
  * difference table, four-row-pipelined canonical fold).
  * Result-identical to [[Sq8Server.search]]. */
final class LocalSq8Server(codes: DataFrame, model: Sq8Model) extends LocalServer {
  require(model.metric == Metric.L2,
    s"LocalSq8Server serves the l2 kind; got ${model.metric.name}")
  private val kernel = new Sq8Scan(model)
  private val blocks: Array[Block[Byte]] = LocalServe.collect(Layouts.Bytes, codes)

  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] =
    LocalServe.search(kernel, blocks, q, k)

  /** Batch throughput: QUERY-GROUP-BLOCKED row-outer kernel — groups of
    * four queries fan across the common pool (250-way parallel at the
    * bench batch, vs the r10 row-outer form's 8 blocks); within a group
    * each row dequantizes ONCE into a register-resident value and feeds
    * four independent canonical fold chains (all loads L1: the query
    * rows + the dequant model; the code stream is sequential). Each
    * (query, row) value is EXACTLY [[search]]'s arithmetic — dequant
    * then subtract-square in i order — and bounded-top-k merges are
    * insert-order-invariant, so per query the result ≡ [[search]]
    * row-for-row. The r11 query-outer table scan benched gather-
    * throughput-bound (the 256 KB table thrashes L2 across 32 threads);
    * this shape keeps the serial-chain bound broken across QUERIES
    * instead, with no table at all. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] = {
    require(k > 0, s"serving requires k > 0, got $k")
    qs.foreach(kernel.validate)
    val mins = model.minsArray
    val scales = model.scalesArray
    val nq = qs.length
    val out = new Array[Array[(Long, Double, Int)]](nq)
    val G = 8 // query-block width: dequant amortizes over G chains
    val nGroups = (nq + G - 1) / G
    java.util.stream.IntStream.range(0, nGroups).parallel().forEach { gi =>
      val q0 = gi * G
      if (nq - q0 >= G) {
        val heaps = Array.fill(G)(new BoundedTopK(k))
        var bi = 0
        while (bi < blocks.length) {
          val blk = blocks(bi)
          val dim = blk.width
          val codes = blk.data
          val recon = new Array[Double](dim)
          val n = blk.ids.length
          var r = 0
          while (r < n) {
            val off = r * dim
            var i = 0
            while (i < dim) {
              recon(i) = mins(i) + (codes(off + i).toInt + 128).toDouble * scales(i)
              i += 1
            }
            val id = blk.ids(r)
            var j = 0
            while (j < G) {
              val q = qs(q0 + j)
              val h = heaps(j)
              // EXACT early termination: L2 terms are non-negative, so a
              // partial sum already strictly above the heap's k-th key
              // can only grow — the row would be rejected; skipping the
              // insert changes nothing. Checked every 32 elements so the
              // canonical fold (and every surviving value) is untouched.
              val bound =
                if (h.size < k) Double.PositiveInfinity else h.dists(k - 1)
              var d = 0.0
              var skip = false
              i = 0
              while (!skip && i < dim) {
                val stop = math.min(i + 32, dim)
                while (i < stop) { val t = q(i) - recon(i); d += t * t; i += 1 }
                skip = d > bound
              }
              if (!skip) h.insert(id, d)
              j += 1
            }
            r += 1
          }
          bi += 1
        }
        var j = 0
        while (j < G) {
          out(q0 + j) = heaps(j).ranked.map { case (id, d, rk) => (id, math.sqrt(d), rk) }
          j += 1
        }
      } else {
        // tail group (< G queries): the kernel's table scan, whose
        // per-row values are identical to the interleaved form's
        val tail = LocalServe.searchBatch(kernel, blocks, qs.slice(q0, nq), k)
        System.arraycopy(tail, 0, out, q0, tail.length)
      }
    }
    out
  }
}

/** In-process OPQ: driver-side query rotation (one dim² matVec,
  * microseconds) in front of the PQ scan — same kernel as [[OpqServer]],
  * result-identical to it. */
final class LocalOpqServer(codes: DataFrame, model: OpqModel) {
  private val local = LocalScan(new OpqScan(model), codes)
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = local.search(q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    local.searchBatch(qs, k)
}

/** In-process IVFPQ: driver probe ranking + residuals, residual ADC over
  * the probed clusters' ranges. Result-identical to [[IvfPqServer.search]]. */
final class LocalIvfPqServer(codes: DataFrame, model: IvfPqModel) {
  private val blocks = LocalServe.collect(Layouts.ClusteredCodes, codes)
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    LocalServe.search(new IvfPqScan(model, nprobe), blocks, q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      nprobe: Int): Array[Array[(Long, Double, Int)]] =
    LocalServe.searchBatch(new IvfPqScan(model, nprobe), blocks, qs, k)
}

/** In-process IVF×SQ8 composite: the probed clusters' byte-code ranges
  * through the SQ8 table kernel. Result-identical to [[IvfSq8Server.search]]. */
final class LocalIvfSq8Server(codes: DataFrame, sq8: Sq8Model, ivf: IvfModel) {
  require(sq8.metric == Metric.L2 && ivf.metric == Metric.L2,
    s"LocalIvfSq8Server serves the l2 kind; got ${sq8.metric.name}/${ivf.metric.name}")
  private val blocks = LocalServe.collect(Layouts.ClusteredBytes, codes)
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    LocalServe.search(new IvfSq8Scan(sq8, ivf, nprobe), blocks, q, k)
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      nprobe: Int): Array[Array[(Long, Double, Int)]] =
    LocalServe.searchBatch(new IvfSq8Scan(sq8, ivf, nprobe), blocks, qs, k)
}

/** In-process routed sharded HNSW — the engine's 100 TB ANN shape served
  * the reference's way: region probe on the driver, then ONLY the probed
  * regions' graphs walk. Result-identical to [[graft.index
  * .RoutedHnswIndex.knn]] (same probe order, same walks, same merge). */
final class LocalRoutedHnswServer(graph: DataFrame, model: RoutedHnswModel) {
  import graft.index.{CompiledHnsw, HnswIndex}

  // indexed by physical shard id; empty shards stay null
  private val graphs: Array[CompiledHnsw] = {
    val arr = new Array[CompiledHnsw](model.numShards)
    HnswIndex.shardGrouped(graph, model.numShards).collect()
      .groupBy(_._1).foreach { case (s, rs) =>
        arr(s) = CompiledHnsw.fromTuples(
          rs.map(t => (t._2, t._3, t._4, t._5)), model.metric)
      }
    arr
  }

  def search(q: Array[Double], k: Int, probeRegions: Int,
      efSearch: Int = graft.index.HnswIndex.EfSearch): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val ef = math.max(efSearch, k)
    val probed = RoutedHnswIndex.probeShards(q, model, probeRegions)
      .map(graphs(_)).filter(_ != null)
    // distinct merge: the graph may be a replicated build, where one id
    // lives in several probed regions' shards
    LocalServe.scan(probed, k, distinct = true) { (g, merge) =>
      g.knnInto(q, k, ef, merge)
    }.ranked.map { case (id, d, r) => (id, model.metric.finishRankScalar(d), r) }
  }

  /** Batch throughput path — queries fan across the common pool, each
    * query routes (driver-side probe ranking) and walks ONLY its probed
    * regions' graphs sequentially into one distinct-merging bounded
    * top-k. This is the engine's honest high-QPS serving shape: per
    * query O(R · log shard_size) work, constant in corpus size — see
    * [[graft.index.RoutedHnswIndex]]. Result-identical per query to
    * [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int, probeRegions: Int,
      efSearch: Int = graft.index.HnswIndex.EfSearch): Array[Array[(Long, Double, Int)]] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val ef = math.max(efSearch, k)
    val out = new Array[Array[(Long, Double, Int)]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel().forEach { qi =>
      val merge = new graft.index.BoundedTopK(k)
      val probed = RoutedHnswIndex.probeShards(qs(qi), model, probeRegions)
      var s = 0
      while (s < probed.length) {
        val g = graphs(probed(s))
        if (g != null) g.knnInto(qs(qi), k, ef, merge, distinct = true)
        s += 1
      }
      out(qi) = merge.ranked.map { case (id, d, r) =>
        (id, model.metric.finishRankScalar(d), r)
      }
    }
    out
  }
}

/** In-process sharded HNSW — the reference's flagship serving shape:
  * its search IS an in-memory graph walk (pkg/index/hnsw/hnsw.go), which
  * is where its sub-ms serving rows come from. All shard graphs build
  * driver-side ONCE (same [[graft.index.CompiledHnsw]] structures the
  * executors hold); per query every shard's logarithmic walk runs on
  * the common pool and merges under the same (rank_key, id) order as
  * [[HnswServer]] — result-identical. 32 graph walks of a 3k-node shard
  * are microseconds each; the distributed sibling pays the job-dispatch
  * floor on exactly the same walks. */
final class LocalHnswServer private (preGraphs: Array[graft.index.CompiledHnsw],
    graph: DataFrame, metric: Metric, numShards: Int) {
  import graft.index.{CompiledHnsw, HnswIndex}

  def this(graph: DataFrame, metric: Metric, numShards: Int = -1) =
    this(null, graph, metric, numShards)

  private val graphs: Array[CompiledHnsw] =
    if (preGraphs != null) preGraphs
    else {
      val nShards =
        if (numShards > 0) numShards
        else graph.agg(org.apache.spark.sql.functions.max(col("shard"))).head.getInt(0) + 1
      HnswIndex.shardGrouped(graph, nShards).collect()
        .groupBy(_._1).values
        .map(rs =>
          CompiledHnsw.fromTuples(rs.map(t => (t._2, t._3, t._4, t._5)), metric))
        .toArray
    }

  def search(q: Array[Double], k: Int,
      efSearch: Int = graft.index.HnswIndex.EfSearch): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val ef = math.max(efSearch, k)
    LocalServe.scan(graphs, k) { (g, merge) =>
      g.knnInto(q, k, ef, merge)
    }.ranked.map { case (id, d, r) => (id, metric.finishRankScalar(d), r) }
  }

  /** Batch throughput path: queries fan across the common pool; each
    * query walks every shard SEQUENTIALLY on its worker into one bounded
    * merge — no per-query fork fan-out, no per-shard partial arrays.
    * With compiled walks in the microseconds, per-query fork overhead
    * (32 subtask submissions) would otherwise rival the walks
    * themselves. Merging all shards into one [[BoundedTopK]] is
    * order-invariant, so results are identical to [[search]]'s
    * two-level merge row-for-row. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      efSearch: Int = graft.index.HnswIndex.EfSearch): Array[Array[(Long, Double, Int)]] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val ef = math.max(efSearch, k)
    LocalServe.batch(qs, graphs, k)(q => (g, merge) => g.knnInto(q, k, ef, merge))
      .map(_.ranked.map { case (id, d, r) => (id, metric.finishRankScalar(d), r) })
  }
}

object LocalHnswServer {
  /** Serve graphs already compiled in this process — the direct handoff
    * from [[graft.index.HnswIndex.buildParallelCompiled]] (build arrays
    * ARE the serving arrays; no DataFrame interchange, no re-collect). */
  private[graft] def fromCompiled(gs: Array[graft.index.CompiledHnsw],
      metric: Metric): LocalHnswServer =
    new LocalHnswServer(gs, null, metric, gs.length)
}

/** In-process BQ: XOR + popcount over packed sign words — at dim/8 bytes
  * per row the whole index is megabytes; the scan is the cheapest of any
  * kind. Result-identical to [[BqServer.search]]. */
final class LocalBqServer(codes: DataFrame, model: BqModel) {
  private val local = LocalScan(new BqScan(model), codes)
  def search(q: Array[Double], k: Int): Array[(Long, Long, Int)] =
    local.search(q, k).map { case (id, d, r) => (id, d.toLong, r) }
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Long, Int)]] =
    local.searchBatch(qs, k).map(_.map { case (id, d, r) => (id, d.toLong, r) })
}
