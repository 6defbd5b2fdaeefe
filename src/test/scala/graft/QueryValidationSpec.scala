package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.query._

/** A query whose length differs from the index dim, or that carries a
  * non-finite component, must fail loudly with an IllegalArgumentException
  * naming the kind and both dims — on every search path of every scan
  * kind. Scoring `min(length, dim)` components would return plausible
  * wrong neighbours; NaN would rank arbitrarily. Table: kind × path ×
  * {dim − 1, dim + 1, a NaN component}, through the public entry points. */
class QueryValidationSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  private val Dim = 16
  private val K = 5

  private lazy val corpus = graft.core.VectorGen.random(spark, 400, Dim, seed = 3L).cache()
  private lazy val good = corpus.where(col("id") < 8).collect()
    .map(_.getSeq[Double](1).toArray)

  private def queryFrame(q: Array[Double]): DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, q.toSeq)).toDF("query_id", "qvec")
  }

  /** One search path: runs one query end to end (collecting any frame). */
  private final case class Path(name: String, run: Array[Double] => Unit)

  private def blocked(f: DataFrame => DataFrame) =
    Path("blocked", q => { f(queryFrame(q)).collect(); () })
  private def served(f: Array[Double] => Any) = Path("distributed", q => { f(q); () })
  private def local(single: Array[Double] => Any,
      batch: Array[Array[Double]] => Any): Seq[Path] = Seq(
    Path("local single", q => { single(q); () }),
    // the bad query sits inside a batch of good ones (SQ8's batch kernel
    // scans queries in groups of eight)
    Path("local batch", q => { batch(good.take(4) ++ Array(q) ++ good.drop(4)); () }))

  private lazy val ivfModel = IvfIndex.trainDeterministic(corpus, 8, Metric.L2)
  private lazy val sq8Model = Sq8Index.train(corpus, Metric.L2)

  private lazy val cases: Seq[(String, Seq[Path])] = Seq(
    "flat" -> {
      val s = new LocalFlatServer(corpus, Metric.L2)
      Seq(blocked(FlatIndex.knnBlocked(corpus, _, K, Metric.L2))) ++
        local(s.search(_, K), s.searchBatch(_, K))
    },
    "ivf" -> {
      val assigned = IvfIndex.assign(corpus, ivfModel)
      val s = new LocalIvfServer(assigned, ivfModel)
      val d = new IvfServer(assigned, ivfModel)
      Seq(blocked(IvfIndex.searchBlocked(assigned, ivfModel, _, K, 3)),
        served(d.search(_, K, 3))) ++
        local(s.search(_, K, 3), s.searchBatch(_, K, 3))
    },
    "lsh" -> {
      val indexed = LshIndex.index(corpus, 6)
      val s = new LocalLshServer(indexed, 6, Metric.L2)
      val d = new LshServer(indexed, 6, Metric.L2)
      Seq(blocked(LshIndex.knnBlocked(indexed, _, K, 6, Metric.L2, hamming = 1)),
        served(d.search(_, K))) ++
        local(s.search(_, K), s.searchBatch(_, K))
    },
    "pq" -> {
      val model = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, Metric.L2)
      val codes = PqIndex.encode(corpus, model)
      val s = new LocalPqServer(codes, model)
      val d = new PqServer(codes, model)
      Seq(blocked(PqIndex.knnBlocked(codes, model, _, K)), served(d.search(_, K))) ++
        local(s.search(_, K), s.searchBatch(_, K))
    },
    "opq" -> {
      val model = OpqIndex.train(corpus, 4, nbits = 4, Metric.L2, opqIters = 1)
      val codes = OpqIndex.encode(corpus, model)
      val s = new LocalOpqServer(codes, model)
      val d = new OpqServer(codes, model)
      Seq(blocked(OpqIndex.knnBlocked(codes, model, _, K)), served(d.search(_, K))) ++
        local(s.search(_, K), s.searchBatch(_, K))
    },
    "ivfpq" -> {
      val model = IvfPqIndex.trainDeterministic(corpus, nlist = 8, m = 4, ksub = 16, Metric.L2)
      val codes = IvfPqIndex.encode(corpus, model)
      val s = new LocalIvfPqServer(codes, model)
      val d = new IvfPqServer(codes, model)
      Seq(blocked(IvfPqIndex.searchBlocked(codes, model, _, K, 3)),
        served(d.search(_, K, 3))) ++
        local(s.search(_, K, 3), s.searchBatch(_, K, 3))
    },
    "bq" -> {
      val model = BqIndex.train(corpus, Metric.L2)
      val codes = BqIndex.encode(corpus, model)
      val s = new LocalBqServer(codes, model)
      val d = new BqServer(codes, model)
      Seq(blocked(BqIndex.knnBlocked(codes, model, _, K)), served(d.search(_, K))) ++
        local(s.search(_, K), s.searchBatch(_, K))
    },
    "sq8" -> {
      val codes = Sq8Index.encode(corpus, sq8Model)
      val s = new LocalSq8Server(codes, sq8Model)
      val d = new Sq8Server(codes, sq8Model)
      Seq(blocked(Sq8Index.knnBlocked(codes, sq8Model, _, K)), served(d.search(_, K))) ++
        local(s.search(_, K), s.searchBatch(_, K))
    },
    "ivfsq8" -> {
      val codes = Sq8Index.encode(corpus, sq8Model)
        .join(IvfIndex.assign(corpus, ivfModel).select(col("id"), col("cluster_id")), "id")
      val s = new LocalIvfSq8Server(codes, sq8Model, ivfModel)
      val d = new IvfSq8Server(codes, sq8Model, ivfModel)
      Seq(served(d.search(_, K, 3))) ++ local(s.search(_, K, 3), s.searchBatch(_, K, 3))
    })

  private def badQueries: Seq[(String, Array[Double])] = {
    val q = good(0)
    Seq(
      s"dim ${Dim - 1}" -> q.take(Dim - 1),
      s"dim ${Dim + 1}" -> (q :+ 0.5),
      "a NaN component" -> q.updated(Dim / 2, Double.NaN))
  }

  test("every kind × path rejects a short, long or non-finite query by name and dims") {
    for ((kind, paths) <- cases; path <- paths; (what, q) <- badQueries) {
      val e = intercept[IllegalArgumentException](path.run(q))
      val msg = e.getMessage
      assert(msg.contains(kind) && msg.contains(s"$Dim") && msg.contains(s"${q.length}"),
        s"$kind / ${path.name} / $what: message '$msg' must name the kind and both dims")
    }
  }

  test("well-formed queries still serve on every path") {
    for ((kind, paths) <- cases; path <- paths) path.run(good(1))
  }
}
