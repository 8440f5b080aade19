package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Metric
import graft.operators.VectorSearch

/** Differential test of [[VectorSearch.knnJoin]]'s fused block kernel
  * against the row form it replaced: a cross join scored one row per
  * pair by `Metric.scorePrenormalized`, then the per-query `row_number`
  * window. Scores must agree in their raw double bits, and ranks and
  * tie order exactly, for every metric, both self-exclusion modes, k
  * around the block size and the input size, and block sizes from one
  * row to more than the input. Failures must be the row kernels'. */
class KnnBlockSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()
  private lazy val sample = emb.filter(col("vec_id") % 10 === 3)

  /** The pre-kernel knnJoin: one scored row per (query, data) pair. */
  private def rowForm(queries: DataFrame, data: DataFrame, metric: Metric,
      k: Int, excludeSelf: Boolean): DataFrame = {
    def prep(df: DataFrame) = metric match {
      case Metric.Cosine => df.withColumn("embedding", metric.prepare(col("embedding")))
      case _ => df
    }
    val pairs = prep(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qvec"))
      .crossJoin(prep(data)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("__dvec")))
      .withColumn("score", metric.scorePrenormalized(col("__qvec"), col("__dvec")))
    val kept = if (excludeSelf) pairs.filter(col("query_id") =!= col("neighbor_id"))
      else pairs
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("neighbor_id"))
    kept.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** (query_id, neighbor_id, raw score bits, rank), ordered by query then
    * rank, so the comparison covers tie order too. */
  private def rows(df: DataFrame): Seq[(Option[Long], Option[Long], Option[Long], Long)] = {
    def id(r: Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].longValue)
    df.collect().toSeq.map(r => (id(r, 0), id(r, 1),
      if (r.isNullAt(2)) None
      else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
      r.getLong(3))).sortBy(t => (t._1, t._4))
  }

  private def check(queries: DataFrame, data: DataFrame, metric: Metric, k: Int,
      excludeSelf: Boolean = true, blockRows: Int = VectorSearch.KnnBlockRows,
      broadcastData: Boolean = false, broadcastQueries: Boolean = false): Unit = {
    val expected = rowForm(queries, data, metric, k, excludeSelf)
    val got = VectorSearch.blockedKnnJoin(queries, data, "embedding", "vec_id", metric, k,
      excludeSelf, broadcastData, spreadQueries = true, broadcastQueries, blockRows)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      expected.schema.map(f => (f.name, f.dataType)))
    val (g, e) = (rows(got), rows(expected))
    assert(g == e, s"${metric.name} k=$k excludeSelf=$excludeSelf blockRows=$blockRows")
  }

  /** Hand rows in ONE partition, in the given order: a local relation is
    * otherwise split across the cores, and partitions of a row or two
    * would give blocks that the kernel's top-k keeps whole. */
  private def vecs(rows: (java.lang.Long, Seq[java.lang.Double])*): DataFrame =
    rows.toDF("vec_id", "embedding").coalesce(1)

  test("every metric, with and without self-exclusion, matches the row form") {
    for (metric <- Metric.all; excludeSelf <- Seq(true, false))
      check(sample, emb, metric, k = 5, excludeSelf = excludeSelf)
  }

  test("both broadcast orientations match the row form") {
    check(sample, emb, Metric.Cosine, k = 5, blockRows = 7, broadcastData = true)
    check(sample, emb.repartition(3), Metric.Cosine, k = 5, blockRows = 7,
      broadcastQueries = true)
  }

  test("the interpreted kernel (no whole-stage codegen) matches as well") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try for (metric <- Metric.all) check(sample, emb, metric, k = 5, blockRows = 7)
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("k = 1, k >= the block size and k > N, across block sizes 1, 7 and > N") {
    val n = emb.count().toInt
    for (blockRows <- Seq(1, 7, n + 1); k <- Seq(1, 7, n + 3))
      check(sample, emb, Metric.Cosine, k, blockRows = blockRows)
    check(sample, emb, Metric.Dot, VectorSearch.KnnBlockRows + 1)
  }

  test("tied scores from duplicate vectors break by id across block borders") {
    // ids 9, 4, 6, 2 and 8 carry the same vector, spread over several blocks
    val data = vecs(
      (9L, Seq(1.0, 0.0)), (5L, Seq(0.0, 1.0)), (4L, Seq(1.0, 0.0)),
      (6L, Seq(1.0, 0.0)), (1L, Seq(0.5, 0.5)), (2L, Seq(1.0, 0.0)),
      (8L, Seq(1.0, 0.0)), (3L, Seq(0.5, 0.5)))
    val queries = vecs((4L, Seq(1.0, 0.0)), (7L, Seq(0.5, 0.5)))
    for (metric <- Metric.all; blockRows <- Seq(1, 2, 3); k <- Seq(2, 4, 10))
      check(queries, data, metric, k, blockRows = blockRows)
  }

  test("zero, NaN and null vectors: null scores rank last, as in the row form") {
    val nan = java.lang.Double.NaN
    val data = vecs(
      (1L, Seq(0.0, 0.0)), (2L, null), (3L, Seq(1.0, 2.0)), (4L, Seq(nan, 1.0)),
      (5L, null), (6L, Seq(-1.0, 0.5)))
    val queries = vecs((1L, Seq(0.0, 0.0)), (3L, Seq(1.0, 2.0)), (7L, null))
    for (metric <- Metric.all; excludeSelf <- Seq(true, false); blockRows <- Seq(1, 4);
         k <- Seq(2, 10))
      check(queries, data, metric, k, excludeSelf = excludeSelf, blockRows = blockRows)
  }

  test("null ids: dropped under self-exclusion, ranked first among ties otherwise") {
    val data = vecs((null, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
    val queries = vecs((null, Seq(1.0, 0.0)), (2L, Seq(1.0, 1.0)))
    for (excludeSelf <- Seq(true, false); blockRows <- Seq(1, 3); k <- Seq(1, 3))
      check(queries, data, Metric.Dot, k, excludeSelf = excludeSelf, blockRows = blockRows)
  }

  test("integer ids keep their type") {
    val data = Seq((1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)), (3, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    check(data, data, Metric.Euclidean, k = 2, blockRows = 2)
  }

  test("empty inputs on either side yield no rows") {
    val none = emb.filter(lit(false))
    for (metric <- Metric.all) {
      check(none, emb, metric, k = 5)
      check(sample, none, metric, k = 5)
    }
  }

  test("building the join runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      val table = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
      sc.setJobGroup("knn-construct", "knnJoin construction")
      for (broadcastQueries <- Seq(false, true))
        VectorSearch.knnJoin(table.filter(col("vec_id") % 7 === 0), table, "embedding",
          "vec_id", Metric.Cosine, k = 5, broadcastQueries = broadcastQueries)
      // listener events arrive in order: once the marker job is seen,
      // every job started before it has been seen too
      sc.setJobGroup("knn-marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("knn-marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("knn-marker"), "marker job never reached the listener")
      assert(!groups.contains("knn-construct"), "knnJoin ran a Spark job while building")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("the kernel reads generic and unsafe block arrays alike") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}
    import graft.expressions.VectorExpressions.VecBlockTopK
    val vecs = Array(1.0, 0.5, 0.25, 2.0, -1.0, 0.0)
    def kernel(unsafe: Boolean, euclidean: Boolean) = {
      def arr(xs: Array[Double]) =
        if (unsafe) UnsafeArrayData.fromPrimitiveArray(xs) else new GenericArrayData(xs)
      val out = VecBlockTopK(Literal(7L),
        Literal(arr(Array(1.0, 1.0)), ArrayType(DoubleType, false)),
        Literal(new GenericArrayData(Array[Any](3L, 1L, 2L)), ArrayType(LongType, false)),
        Literal(new GenericArrayData(Array[Any](2, 2, 2)), ArrayType(IntegerType, false)),
        Literal(arr(vecs), ArrayType(DoubleType, false)),
        euclidean, k = 2, excludeSelf = true).eval().asInstanceOf[ArrayData]
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getLong(0), r.getDouble(1))
      }
    }
    for (euclidean <- Seq(false, true))
      assert(kernel(unsafe = false, euclidean) == kernel(unsafe = true, euclidean))
    // dot: ids 3, 1, 2 score 1.5, 2.25, -1.0
    assert(kernel(unsafe = true, euclidean = false) == Seq((1L, 2.25), (3L, 1.5)))
    // lengths that disagree with the vectors are refused before any read
    val malformed = intercept[IllegalArgumentException](VecBlockTopK(Literal(7L),
      Literal(UnsafeArrayData.fromPrimitiveArray(Array(1.0, 1.0)), ArrayType(DoubleType, false)),
      Literal(UnsafeArrayData.fromPrimitiveArray(Array(3L, 1L)), ArrayType(LongType, false)),
      Literal(UnsafeArrayData.fromPrimitiveArray(Array(2, 3)), ArrayType(IntegerType, false)),
      Literal(UnsafeArrayData.fromPrimitiveArray(vecs), ArrayType(DoubleType, false)),
      euclidean = false, k = 2, excludeSelf = true).eval())
    assert(malformed.getMessage.contains("malformed block"))
  }

  test("null elements and length mismatches raise the row kernels' errors") {
    def message(df: => DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $e"))
    }
    val ok = vecs((1L, Seq(1.0, 0.0, 0.5)), (2L, Seq(0.5, 0.5, 0.5)))
    val bad = Seq(
      "null element" -> vecs((3L, Seq(1.0, null, 0.5))),
      "length mismatch" -> vecs((3L, Seq(1.0, 0.0))))
    for ((what, b) <- bad; metric <- Seq(Metric.Dot, Metric.Euclidean);
         (queries, data) <- Seq((ok, ok.union(b)), (ok.union(b), ok))) {
      val expected = message(rowForm(queries, data, metric, 2, excludeSelf = true))
      val got = message(VectorSearch.blockedKnnJoin(queries, data, "embedding", "vec_id",
        metric, 2, excludeSelf = true, broadcastData = false, spreadQueries = true,
        broadcastQueries = false, blockRows = 2))
      assert(got == expected, s"$what, ${metric.name}")
    }
  }
}
