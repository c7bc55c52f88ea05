package graft

import org.apache.spark.sql.functions._

/** The native codegen'd dot product must be bit-identical to the
  * sequential-fold HOF it replaces (same association order), in both
  * codegen and interpreted evaluation paths. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot equals the sequential HOF fold bit-for-bit") {
    GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
    val diff = e.as("a").join(e.as("b"), col("a.vec_id") % 17 === col("b.vec_id") % 13)
      .selectExpr(
        "graft_dot(a.v, b.v) AS fast",
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), cast(0 AS double), " +
          "(acc, x) -> acc + x) AS slow")
      .filter(col("fast") =!= col("slow")) // bitwise: NaN-free doubles
      .count()
    assert(diff === 0)
  }

  test("null and length edge cases") {
    GraftExtensions.register(spark)
    val rows = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),  // 11.0
      (None, Some(Seq(1.0))),                       // null
      (Some(Seq(1.0, 2.0, 99.0)), Some(Seq(2.0)))   // min-length: 2.0
    ).toDF("a", "b")
    val out = rows.selectExpr("graft_dot(a, b) AS d")
      .as[Option[Double]].collect()
    assert(out(0) === Some(11.0))
    assert(out(1) === None)
    assert(out(2) === Some(2.0))
    // interpreted path (codegen off) agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val out2 = rows.selectExpr("graft_dot(a, b) AS d")
        .as[Option[Double]].collect()
      assert(out.toSeq === out2.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("GraftExtensions: one registry list serves the cluster hook and session registration") {
    // the extensions hook must accept every declared function
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext) // would throw on a malformed injection
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ===
      Set("graft_dot", "graft_bloom_contains"))
    // the shared session-registration path resolves both names in SQL
    GraftExtensions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(d === 11.0)
    val bf = spark.range(100).stat.bloomFilter("id", 100, 0.01)
    val ser = graft.functions.BloomContains.serialize(bf)
    val hits = spark.range(200).selectExpr(
      s"graft_bloom_contains(unhex('${ser.map("%02x".format(_)).mkString}'), id) AS h")
      .where("h").count()
    assert(hits >= 100, s"bloom must contain all inserted keys, got $hits")
  }
}
