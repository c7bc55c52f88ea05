package graft.tools

/** Standalone writer PROCESS for the cross-JVM concurrent-commit pin
  * (LakeSpec spawns two of these against one lake root while committing
  * itself): args = root, table, writerId, txnCount, rowsPerTxn. Each
  * transaction inserts `rowsPerTxn` (writer, seq, payload) rows. The
  * point is that the OCC conditional-put serializes ACROSS PROCESSES —
  * in-JVM thread races (l52) can't prove that; only a second JVM with
  * its own catalog instance, page cache, and filesystem handles can. */
object WriterProc {
  def main(args: Array[String]): Unit = {
    val root = args(0); val table = args(1)
    val writer = args(2).toLong
    val m = args(3).toInt; val r = args(4).toInt
    val spark = graft.SparkEntry.session(2)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cat = new graft.lake.LakeCatalog(spark, root)
    (0 until m).foreach { i =>
      cat.transaction(_.insert(table,
        (0 until r).map(j => (writer, (i * r + j).toLong,
          writer * 100 + (i * r + j))).toDF("writer", "seq", "payload")))
    }
    spark.stop()
    sys.exit(0)
  }
}
