package graft

/** Suite benchmark: builds and fully evaluates every data-scale query
  * (`SparkEntry.queries` minus the `l*` lake scenarios) once, and prints
  * ONE bare JSON line last, after the session has stopped:
  * `{"metric":"total","value":<sec>,"unit":"sec","failed":[<names>]}`.
  *
  * Each result goes to the `noop` sink, which evaluates every output row
  * and column; a `count()` would let Catalyst drop the final projection,
  * aggregates and sort. A failed query is named in `failed` and its time
  * left out of the total. The benchmark of record, with per-operation and
  * per-layer metrics, is `perfbench/`.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.Bench"`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(SparkEntry.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    // the queries re-read the same ten tables: cache them once, so
    // re-decoding the parquet per query is not timed as query work
    Tables.warm(spark, sfDir)
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    var total = 0.0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("l")) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        total += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failed += name
        System.err.println(
          s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally ops.Cached.release()
    }
    spark.stop()
    val names = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.4f,"unit":"sec","failed":$names}""")
  }
}
