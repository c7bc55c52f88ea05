package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** PRODUCT QUANTIZATION (PQ) approximate nearest neighbor — the
  * memory-bandwidth scale path the reference has no analog for (FAISS
  * IndexPQ): each L2-normalized vector is split into [[M]] subspaces and
  * encoded by a per-subspace KMeans codebook ([[K]] centroids, fit on a
  * bounded seeded sample like [[Ivf]]), so 64 doubles become M small
  * codes. Search is ASYMMETRIC DISTANCE COMPUTATION: a query precomputes
  * its dot product against every centroid of every subspace — an M x K
  * lookup table, broadcast — and a candidate's approximate similarity is
  * M lookups + adds over its CODES, no per-pair float vector math. The
  * ADC top-[[Shortlist]] is re-ranked by exact cosine.
  *
  * 100-TB shape: codebook fit touches ~100*K sampled rows per subspace;
  * the encode pass is the single full scan; per-query scoring joins the
  * code table (M small ints per vector — ~32x smaller than the raw
  * vectors, which is the point) against the broadcast lookup table.
  * Judged by the same recall contract as ss3 (centroids are
  * engine-specific; the PROMISE is checkable).
  */
object Pq {
  val M = 8         // subspaces
  val SubDim = 8    // dims per subspace (M * SubDim = 64)
  val K = 32        // centroids per codebook

  /** ADC shortlist size, scaled with the corpus: quantization noise is
    * roughly constant per candidate, so the number of false positives
    * ABOVE a true neighbor grows with N — a fixed 32 that cleared the
    * contract at 2k vectors recovered only 66% of queries at 20k
    * (measured, round 12). N/100 (floored at 32, capped at 512) keeps
    * the re-rank cost negligible relative to the code scan while recall
    * stays on contract — the same k'-proportional-to-N rule FAISS
    * deployments use. */
  def shortlist(total: Long): Int =
    math.min(512L, math.max(32L, total / 100)).toInt

  /** Build-once index memo per (session, table dir) — same rationale as
    * [[Ivf.indexMemo]]: a PQ index is trained and populated once. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (DataFrame, Seq[(Int, Int, Array[Double])], Long)]()

  private def index(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Int, Int, Array[Double])], Long) =
    memo.computeIfAbsent((spark, sfDir), _ => build(spark, sfDir))

  /** Encode the table: per-subspace KMeans codes + the codebooks as
    * (subspace, code, centroid) rows. */
  private def build(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Int, Int, Array[Double])], Long) = {
    graft.functions.DotProduct.register(spark)
    val total = graft.Tables.embeddings(spark, sfDir).count()
    // PQ in L2-normalized space for the same reason as IVF: ranking is
    // by cosine, and euclidean codebooks on the unit sphere preserve it
    var e = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("vn", expr("transform(v, x -> x / nrm)"))
    val books = Seq.newBuilder[(Int, Int, Array[Double])]
    for (m <- 0 until M) {
      val fcol = s"__f$m"
      e = e.withColumn(fcol,
        array_to_vector(expr(s"slice(vn, ${m * SubDim + 1}, $SubDim)")))
      val model = new KMeans().setK(K).setSeed(42L + m).setMaxIter(10)
        .setFeaturesCol(fcol)
        .fit(Ivf.fitInput(e.select(fcol), total))
      model.clusterCenters.zipWithIndex.foreach { case (c, i) =>
        books += ((m, i, c.toArray))
      }
      e = model.transform(e).withColumnRenamed("prediction", s"code$m")
        .drop(fcol)
    }
    val encoded = e.select(
      (Seq("vec_id", "v", "nrm", "vn") ++
        (0 until M).map(m => s"code$m")).map(col): _*)
      // session-lifetime index cache (memoized) — bare persist on
      // purpose, see Ivf: Cached.release would un-cache the memo
      .persist()
    // the corpus count rides the memo: shortlist() needs it on every
    // pqTop3 call, and a fresh points.count() per call is an extra job
    // over the cached index (benchmarks replay each query many times)
    (encoded, books.result(), total)
  }

  /** PQ/ADC top-3 for the `vec_id % 100 = 0` query set. */
  private[graft] def pqTop3(spark: SparkSession, sfDir: String): DataFrame = {
    val (points, books, total) = index(spark, sfDir)
    import spark.implicits._
    val bookDf = books.toDF("m", "code", "cvec")
    val queries = points.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("vn").as("qvn"))
    // the ADC lookup table: dot(query subvector, centroid) for every
    // (subspace, code) — |Q| x M x K rows, built distributed, broadcast
    // into the scoring join
    val qtab = queries.crossJoin(broadcast(bookDf))
      .withColumn("qdot", expr(
        s"aggregate(zip_with(slice(qvn, m * $SubDim + 1, $SubDim), cvec, " +
          "(x, y) -> x * y), cast(0 AS double), (acc, x) -> acc + x)"))
      .select("qid", "m", "code", "qdot")
    // candidates scored from their CODES alone: long-form (vec_id, m,
    // code) joins the lookup table; sum over subspaces = ADC similarity
    val codesLong = points.select(col("vec_id"),
      posexplode(array((0 until M).map(m => col(s"code$m")): _*))
        .as(Seq("m", "code")))
    val adc = codesLong.join(broadcast(qtab), Seq("m", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(round(sum(col("qdot")), 6).as("adc"))
    val wShort = Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))
    val short = adc
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist(total))
    // exact cosine re-rank of the shortlist only
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    short
      .join(points.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(queries.select(col("qid"), col("qv"), col("qnrm")), "qid")
      .selectExpr("qid", "vec_id AS nid",
        "round(graft_dot(qv, v) / (qnrm * nrm), 6) AS cos", "adc")
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cos", "adc")
  }

  /** Judged query SS5: PQ judged by the same two-layer recall contract
    * as [[Ivf.annIvf]] — `recall_ok` is the AGGREGATE recall@3 ≥ 95%
    * (PQ top-3 recovering a true top-3 neighbor) stamped on every row;
    * `found_true_neighbor` is the PER-QUERY floor (this query's PQ
    * top-3 recovers an exact top-[[Ivf.PerQueryRankFloor]] neighbor),
    * so a single zero-recall query flips its own row and breaks the
    * oracle hash instead of hiding in the 5% aggregate slack. The
    * exact side is computed brute-force in the same session; the query
    * set is independently derived by DuckDB. Measured worst best-rank:
    * 7 (sf1, 200 q) / 10 (sf3, 600 q) — 2x margin under the floor of
    * 20. Exact per-query top-3 recall keeps its floor assertion in
    * PipelineSpec via [[perQueryOk]]. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val perQ = perQueryOk(spark, sfDir)
    val frac = perQ.agg(
      avg(when(col("__ok"), 1.0).otherwise(0.0)).as("__recall"))
    perQ.crossJoin(broadcast(frac))
      .select(col("qid"), lit(3).as("k"),
        col("__found").as("found_true_neighbor"),
        (col("__recall") >= 0.95).as("recall_ok"))
      .orderBy("qid")
  }

  /** (qid, __ok, __found) — per-query layer of the PQ recall story (see
    * [[Ivf.perQueryOk]]). */
  private[graft] def perQueryOk(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val (points, _, _) = index(spark, sfDir)
    val pq = pqTop3(spark, sfDir)
    val queries = points.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wExact = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val exact = queries.join(points, col("qid") =!= col("vec_id"))
      .selectExpr("qid", "vec_id AS nid",
        "round(graft_dot(qv, v) / (qnrm * nrm), 6) AS cos")
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= Ivf.PerQueryRankFloor)
      .select("qid", "nid", "rank")
    val best = pq.select("qid", "nid")
      .join(exact, Seq("qid", "nid"))
      .groupBy("qid").agg(min(col("rank")).as("__best"))
    queries.select("qid").join(best, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("__best"), lit(99L)) <= 3).as("__ok"),
        (coalesce(col("__best"), lit(99L)) <= Ivf.PerQueryRankFloor)
          .as("__found"))
  }
}
