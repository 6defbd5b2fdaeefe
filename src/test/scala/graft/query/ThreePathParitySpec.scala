package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.core.Metric
import graft.index._

/** Every scan kernel, run by its four entry paths — blocked batch
  * ([[BlockedScan]]), distributed single-query ([[ServeBlocks.search]]),
  * local single ([[LocalServe.search]]) and local batch
  * ([[LocalServe.searchBatch]]) — must return the same ids, distances and
  * ranks on adversarial inputs, not only on the bench data: k > n, index
  * partitions with zero rows, duplicate vectors under distinct ids (ties
  * broken by id), and probes that hit no rows. */
class ThreePathParitySpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  private val Dim = 8

  private type Hits = Seq[(Long, Double, Int)]

  /** 30 rows in 40 slices, so most index partitions hold no row. Rows
    * 0–5 share one vector and rows 6–11 another (duplicates under distinct
    * ids); rows 12–29 are random. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11L)
    def vec() = Array.fill(Dim)(rnd.nextGaussian())
    val dupA = vec()
    val dupB = vec()
    val rows = (0 until 30).map { i =>
      Row(i.toLong, (if (i < 6) dupA else if (i < 12) dupB else vec()).toSeq)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 40), schema).cache()
  }

  /** Queries: two exact duplicates of the shared vectors (ties), a far
    * point and two random points. */
  private lazy val queries: Array[Array[Double]] = {
    val byId = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val rnd = new scala.util.Random(12L)
    Array(byId(0L), byId(6L), Array.fill(Dim)(40.0),
      Array.fill(Dim)(rnd.nextGaussian()), Array.fill(Dim)(rnd.nextGaussian()))
  }

  private def queryFrame(qs: Array[Array[Double]]): DataFrame = {
    val s = spark
    import s.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }.toSeq.toDF("query_id", "qvec")
  }

  /** The four paths' answers per query, for one kernel over one index. */
  private def paths[E, P](kernel: ScanKernel[E, P], index: DataFrame, qs: Array[Array[Double]],
      k: Int): Seq[(String, Seq[Hits])] = {
    val blocked = BlockedScan.search(kernel, index, queryFrame(qs), k).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
      .groupBy(_._1)
    val served = ServeBlocks.pack(kernel.layout, index)
    val distributed = qs.toSeq.map(q => ServeBlocks.search(served, kernel, q, k).toSeq)
    served.unpersist()
    val blocks = LocalServe.collect(kernel.layout, index)
    Seq(
      "blocked" -> qs.indices.map(qi =>
        blocked.get(qi.toLong).map(_.map(_._2).sortBy(_._3).toSeq).getOrElse(Seq.empty)),
      "distributed" -> distributed,
      "local single" -> qs.toSeq.map(q => LocalServe.search(kernel, blocks, q, k).toSeq),
      "local batch" -> LocalServe.searchBatch(kernel, blocks, qs, k).toSeq.map(_.toSeq))
  }

  /** All paths agree; returns the common answer. */
  private def agree[E, P](label: String, kernel: ScanKernel[E, P], index: DataFrame,
      qs: Array[Array[Double]], k: Int): Seq[Hits] = {
    val all = paths(kernel, index, qs, k)
    val (_, expected) = all.head
    all.tail.foreach { case (name, got) =>
      qs.indices.foreach { qi =>
        assert(got(qi) == expected(qi), s"$label k=$k query $qi: $name != blocked")
      }
    }
    expected
  }

  private lazy val ivfModel = IvfIndex.trainDeterministic(corpus, 3, Metric.L2)
  private lazy val sq8Model = Sq8Index.train(corpus, Metric.L2)
  private lazy val pqModel = PqIndex.train(corpus, m = 2, nbits = 2, Metric.L2)
  private lazy val ivfpqModel = IvfPqIndex.train(corpus, nlist = 3, m = 2, nbits = 2, Metric.L2)

  /** (label, kernel, index, whether every row is a candidate). */
  private lazy val kernels: Seq[(String, ScanKernel[_, _], DataFrame, Boolean)] = Seq(
    ("flat", new FlatScan(Metric.L2, Dim), corpus, true),
    ("flat/cosine", new FlatScan(Metric.Cosine, Dim), corpus, true),
    ("ivf", new IvfScan(ivfModel, 2), IvfIndex.assign(corpus, ivfModel), false),
    ("lsh/h0", new LshScan(4, Metric.L2, 0, Dim), LshIndex.index(corpus, 4), false),
    ("lsh/h1", new LshScan(4, Metric.L2, 1, Dim), LshIndex.index(corpus, 4), false),
    ("pq", new PqScan(pqModel), PqIndex.encode(corpus, pqModel), true),
    {
      val m = OpqIndex.train(corpus, 2, nbits = 2, Metric.L2, opqIters = 1)
      ("opq", new OpqScan(m), OpqIndex.encode(corpus, m), true)
    },
    ("ivfpq", new IvfPqScan(ivfpqModel, 2), IvfPqIndex.encode(corpus, ivfpqModel), false),
    ("ivfpq/hoisted", new IvfPqScan(ivfpqModel, 2, adcHoistThreshold = 0),
      IvfPqIndex.encode(corpus, ivfpqModel), false),
    {
      val m = BqIndex.train(corpus, Metric.L2)
      ("bq", new BqScan(m), BqIndex.encode(corpus, m), true)
    },
    ("sq8", new Sq8Scan(sq8Model), Sq8Index.encode(corpus, sq8Model), true),
    {
      val m = Sq8Index.train(corpus, Metric.Cosine)
      ("sq8/cosine", new Sq8Scan(m), Sq8Index.encode(corpus, m), true)
    },
    ("ivfsq8", new IvfSq8Scan(sq8Model, ivfModel, 2),
      Sq8Index.encode(corpus, sq8Model)
        .join(IvfIndex.assign(corpus, ivfModel).select(col("id"), col("cluster_id")), "id"),
      false))

  test("blocked ≡ distributed ≡ local single ≡ local batch for every kernel, k > n included") {
    for ((label, kernel, index, exhaustive) <- kernels; k <- Seq(3, 10, 45)) {
      val answers = agree(label, kernel, index, queries, k)
      answers.zipWithIndex.foreach { case (hits, qi) =>
        assert(hits.map(_._3) == (1 to hits.size), s"$label query $qi: ranks not 1..n")
        // ties break by id: equal distances never list a larger id first
        hits.sliding(2).foreach {
          case Seq(a, b) => assert(a._2 < b._2 || (a._2 == b._2 && a._1 < b._1),
            s"$label query $qi: $a before $b")
          case _ =>
        }
        if (exhaustive) assert(hits.size == math.min(k, 30), s"$label query $qi: ${hits.size} hits")
      }
    }
  }

  test("duplicate vectors under distinct ids tie at the top and rank by id") {
    for ((label, kernel, index, _) <- kernels if !label.contains("cosine")) {
      val top = agree(label, kernel, index, queries.take(1), 3).head
      // ids 0–5 share query 0's vector: whichever of them a kind returns
      // are the smallest such ids, in id order, at one distance
      val dupHits = top.filter(_._1 < 6)
      assert(dupHits.map(_._1) == dupHits.indices.map(_.toLong),
        s"$label: duplicate ids out of order: $top")
      assert(dupHits.map(_._2).distinct.size <= 1, s"$label: duplicates at different distances")
    }
  }

  test("probes that hit no rows return nothing on every path") {
    // IVF kinds: an extra far-away centroid that owns no row, probed alone
    val far = Seq.fill(Dim)(40.0)
    val withEmpty = IvfModel(ivfModel.centroids :+ far, Metric.L2)
    val farQuery = Array(Array.fill(Dim)(40.0))
    val assigned = IvfIndex.assign(corpus, ivfModel)
    assert(agree("ivf", new IvfScan(withEmpty, 1), assigned, farQuery, 5).head.isEmpty)
    val sq8Codes = Sq8Index.encode(corpus, sq8Model)
      .join(assigned.select(col("id"), col("cluster_id")), "id")
    assert(agree("ivfsq8", new IvfSq8Scan(sq8Model, withEmpty, 1), sq8Codes, farQuery, 5)
      .head.isEmpty)
    val ivfpqEmpty = IvfPqModel(IvfModel(ivfpqModel.coarse.centroids :+ far, Metric.L2),
      ivfpqModel.pq)
    assert(agree("ivfpq", new IvfPqScan(ivfpqEmpty, 1), IvfPqIndex.encode(corpus, ivfpqModel),
      farQuery, 5).head.isEmpty)
    // LSH: a query whose own bucket holds no row, probed at radius 0
    val planes = 12
    val indexed = LshIndex.index(corpus, planes)
    val used = indexed.select("bucket").collect().map(_.getLong(0)).toSet
    val rnd = new scala.util.Random(13L)
    val lonely = Iterator.continually(Array.fill(Dim)(rnd.nextGaussian()))
      .find(q => !used(LshIndex.bucketScalar(q, planes))).get
    assert(agree("lsh", new LshScan(planes, Metric.L2, 0, Dim), indexed, Array(lonely), 5)
      .head.isEmpty)
  }

  test("LSH at planes = 40: blocked ≡ distributed ≡ local through the public entry points") {
    val planes = 40
    val indexed = LshIndex.index(corpus, planes)
    assert(indexed.select("bucket").collect().exists(_.getLong(0) > Int.MaxValue),
      "expected buckets beyond 31 bits")
    agree("lsh/40", new LshScan(planes, Metric.L2, 1, Dim), indexed, queries, 5)
    val server = new LshServer(indexed, planes, Metric.L2).warm()
    val local = new LocalLshServer(indexed, planes, Metric.L2)
    for (h <- Seq(0, 1)) {
      val blocked = LshIndex.knnBlocked(indexed, queryFrame(queries), 5, planes, Metric.L2, h)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
        .groupBy(_._1)
      val batch = local.searchBatch(queries, 5, h)
      queries.zipWithIndex.foreach { case (q, qi) =>
        val want = blocked.get(qi.toLong).map(_.map(_._2).sortBy(_._3).toSeq).getOrElse(Seq.empty)
        assert(server.search(q, 5, h).toSeq == want, s"hamming $h query $qi: distributed")
        assert(local.search(q, 5, h).toSeq == want, s"hamming $h query $qi: local")
        assert(batch(qi).toSeq == want, s"hamming $h query $qi: local batch")
      }
    }
    server.unpersist()
  }
}
