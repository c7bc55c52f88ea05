package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.lake.{LakeCatalog, Mv}

/** Executes one benchmark run from an input file that `run.py` generated
  * from the seed, and writes a raw record (per-operation latencies,
  * correctness flags, per-layer counters, spans) that `run.py` turns into
  * metrics. Usage: `perfbench.Main <input.json> <record.json>`.
  *
  * The engine is driven only through its public entry points:
  * `SparkEntry.queries`, `Tables.warm`, `ops.Cached.release`, and the
  * `LakeCatalog` / `Mv` / `LakeStream` API. */
object Main {
  private implicit val formats: Formats = DefaultFormats

  final case class OpRec(kind: String, name: String, ms: Double, ok: Boolean,
      traced: Boolean, extra: Map[String, Double], err: String)

  def main(args: Array[String]): Unit = {
    HostSpeed.start()
    val in = JsonMethods.parse(new File(args(0)))
    val cores = (in \ "cores").extract[Int]
    val work = (in \ "work_dir").extract[String]
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Record(sessionS)
    try (in \ "workload").extract[String] match {
      case "digests" => digests(spark, in, rec)
      case "lake_mixed" => new LakeRun(spark, in, rec).run()
      case _ => queryRun(spark, in, rec)
    } finally spark.stop()
    rec.write(args(1))
  }

  /** The fixed session every workload runs on: `local[cores]` with the
    * core count pinned by the caller, and the confs the engine's own
    * correctness dump (`graft.Verify`) uses. Scratch space stays inside
    * the work directory. */
  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(OpCpu)
    s.streams.addListener(OpCpu.streams)
    s
  }

  private def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  // ------------------------------------------------------------ queries

  private def queries(in: JValue): Seq[String] = (in \ "queries").extract[Seq[String]]

  /** Run each query of the input once and record its digest (in the op's
    * detail field) — the engine-side half of `gen_expected.py`. */
  private def digests(spark: SparkSession, in: JValue, rec: Record): Unit = {
    val dataDir = (in \ "data_dir").extract[String]
    val sql = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Record.q(k)}:${Record.q(v)}" }.mkString("{", ",\n", "}")
    val w = new java.io.PrintWriter(s"${(in \ "work_dir").extract[String]}/oracle_sql.json", "UTF-8")
    try w.println(sql) finally w.close()
    graft.Tables.warm(spark, dataDir)
    queries(in).foreach { n =>
      val t0 = System.nanoTime()
      val (ok, d, rows) =
        try {
          val df = graft.SparkEntry.queries(n)(spark, dataDir)
          val r = df.collect()
          (true, Canon.digest(df.columns.toSeq, r), r.length)
        } catch { case e: Throwable => (false, e.toString, 0) }
        finally { graft.ops.Cached.release(); dropDrainViews(spark) }
      rec.ops += OpRec("digest", n, nowMs(t0), ok, traced = false,
        Map("rows" -> rows.toDouble), d)
    }
  }

  /** The memory-sink views `st*` drains leave registered. */
  private def dropDrainViews(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("st[0-9]+_.*"))
      .foreach(t => spark.catalog.dropTempView(t.name))

  /** olap_batch: builder call plus `collect()` of each query, for the
    * given number of whole cycles through the seeded order, so every run
    * measures the same work and the seed changes only the order. */
  private def queryRun(s: SparkSession, in: JValue, rec: Record): Unit = {
    val dataDir = (in \ "data_dir").extract[String]
    val trace = (in \ "trace").extract[Int] == 1
    val cycle = (in \ "cycle").extract[Int]
    val timedOps = cycle * (in \ "cycles").extract[Int]
    val order = queries(in)
    val expected = (in \ "expected").extract[Map[String, String]]
    val t0 = System.nanoTime()
    graft.Tables.warm(s, dataDir)
    rec.setupMs = nowMs(t0)
    rec.layers("Tables.warm_ms") = rec.setupMs
    // one untimed cycle fills the per-query codegen caches and compiles
    // the hottest paths before timing starts
    val w0 = System.nanoTime()
    order.take(cycle).foreach { n =>
      graft.SparkEntry.queries(n)(s, dataDir).collect()
      graft.ops.Cached.release()
      dropDrainViews(s)
      HostSpeed.sample()
    }
    rec.warmupMs = nowMs(w0)
    val tr = new Trace(s)
    rec.setupDone(OpCpu.now(s))
    rec.timed {
      var i = 0
      while (i < timedOps) {
        val n = order(i)
        val traced = trace && rec.traceNext(n)
        if (traced) tr.start()
        val c0 = OpCpu.now(s)
        val t0 = System.nanoTime()
        var built = 0.0
        val res =
          try {
            val df = graft.SparkEntry.queries(n)(s, dataDir)
            built = nowMs(t0)
            Right((df.columns.toSeq, df.collect()))
          } catch { case e: Throwable => Left(e.toString) }
        val ms = nowMs(t0)
        val cpuMs = OpCpu.stop(s, c0)
        val t1 = System.nanoTime()
        graft.ops.Cached.release()
        val releaseMs = nowMs(t1)
        val counters = if (traced) tr.stop() else Map.empty[String, Long]
        val (ok, err) = res match {
          case Right((cols, rows)) =>
            val d = Canon.digest(cols, rows)
            (expected.get(n).contains(d), if (expected.get(n).contains(d)) "" else s"digest $d")
          case Left(e) => (false, e)
        }
        dropDrainViews(s)
        val extra = counters.map { case (k, v) => k -> v.toDouble } ++
          Map("build_ms" -> built, "release_ms" -> releaseMs, "cpu_ms" -> cpuMs)
        rec.ops += OpRec("query", n, ms, ok, traced, extra, err)
        if (traced) rec.span(n, t0, t0 + (built * 1e6).toLong, ms)
        HostSpeed.sample()
        i += 1
      }
    }
  }

  // --------------------------------------------------------------- lake

  private val iotSchema = StructType(Seq(StructField("sensor", IntegerType),
    StructField("ts", LongType), StructField("reading", LongType)))

  /** lake_mixed: a seeded stream of commits (appends, inlined appends,
    * CoW/MoR DML, compaction, replication, MV refresh) interleaved with
    * reads of the history it builds (time travel by version and by
    * timestamp, pruned range/point reads, metadata, change feed, cold
    * catalog opens). Each read is checked against the model `run.py`
    * computed from the same op stream; the final table states are
    * reported for the same check of the writes. */
  private final class LakeRun(spark: SparkSession, in: JValue, rec: Record) {
    import spark.implicits._
    private val work = (in \ "work_dir").extract[String]
    private val trace = (in \ "trace").extract[Int] == 1
    private val dimRows = (in \ "dim_rows").extract[Long]
    private val setupOps = (in \ "setup_ops").children
    private val warmupOps = (in \ "warmup_ops").children
    private val timedOps = (in \ "cycle").extract[Int] * (in \ "cycles").extract[Int]
    private val ops = (in \ "ops").children

    private var root = ""
    private var cat: LakeCatalog = _
    /** Catalog version and wall clock after the n-th write (0: creation). */
    private val versions = mutable.ArrayBuffer[Long]()
    private val times = mutable.ArrayBuffer[Long]()

    private def s(o: JValue, k: String) = (o \ k).extract[String]
    private def l(o: JValue, k: String) = (o \ k).extract[Long]

    private def create(): Unit = {
      root = s"$work/lake"
      cat = new LakeCatalog(spark, root)
      cat.createTable("iot", iotSchema)
      cat.createTable("silver", iotSchema)
      cat.createTable("dim", StructType(Seq(StructField("id", LongType),
        StructField("qty", LongType))), primaryKey = Seq("id"))
      cat.insert("dim", spark.range(dimRows).selectExpr("id", "id % 97 AS qty"))
      Mv.create(cat, "iot_mv", "iot", Seq("sensor"), Seq("reading"))
      mark()
      setupOps.foreach(checked)
    }

    /** Run an untimed op, failing the run if a read disagrees. */
    private def checked(o: JValue): Unit = {
      val want = (o \ "expect").extractOpt[Seq[Long]].filter(_.nonEmpty)
      val got = exec(o)
      require(want.isEmpty || got == want, s"untimed op $o: got $got")
    }

    private def mark(): Unit = {
      versions += cat.currentVersion; times += System.currentTimeMillis()
    }

    private def iotRows(o: JValue): DataFrame =
      (o \ "rows").extract[Seq[Seq[Long]]].map(r => (r(0).toInt, r(1), r(2)))
        .toDF("sensor", "ts", "reading")

    private def countSum(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col(c))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    private def inRange(o: JValue) =
      col("id") >= l(o, "lo") && col("id") < l(o, "hi")

    /** Run one op; a read returns what it observed, a write None. */
    private def exec(o: JValue): Option[Seq[Long]] = {
      def write(f: => Unit): Option[Seq[Long]] = { f; mark(); None }
      def read(p: (Long, Long)): Option[Seq[Long]] = Some(Seq(p._1, p._2))
      s(o, "op") match {
        case "insert" => write(cat.insert("iot", iotRows(o)))
        case "insert_inlined" => write(cat.insertInlined("iot", iotRows(o)))
        case "update" => write(cat.update("dim", col("id") % l(o, "mod") === l(o, "rem"),
          Map("qty" -> (col("qty") + l(o, "delta")))))
        case "merge" => write(cat.merge("dim",
          (o \ "rows").extract[Seq[Seq[Long]]].map(r => (r(0), r(1))).toDF("id", "qty"),
          Seq("id")))
        case "delete" => write(cat.delete("dim", inRange(o)))
        case "delete_mor" => write(cat.deleteMor("dim", inRange(o)))
        case "compact" => write(cat.compact("dim"))
        case "replicate" => write(graft.streaming.LakeStream.replicate(
          cat, "iot", "silver", identity, s"$root/_replicate_ckpt"))
        case "mv_refresh" => write(Mv.refresh(cat, "iot_mv"))
        case "read_at" => read(countSum(cat.readAt("dim", versions(l(o, "w").toInt)), "qty"))
        case "read_asof" => read(countSum(cat.readAsOf("dim", times(l(o, "w").toInt)), "qty"))
        case "open_cold" => read(countSum(
          new LakeCatalog(spark, root).readAt("dim", versions(l(o, "w").toInt)), "qty"))
        case "read_range" =>
          val df = cat.readRange("dim", "id", l(o, "lo").toString, l(o, "hi").toString)
          if (trace) rec.prune(df.inputFiles.length, liveFiles("dim"))
          read(countSum(df, "qty"))
        case "read_point" =>
          val v = l(o, "id").toString
          if (trace) rec.prune(cat.pointScanFiles("dim", "id", v), liveFiles("dim"))
          read(countSum(cat.readPoint("dim", "id", v), "qty"))
        case "metadata" =>
          val snaps = cat.snapshots().agg(count(lit(1))).collect()(0).getLong(0)
          val live = cat.files().filter(col("table_name") === "dim")
            .agg(sum(col("live_rows"))).collect()(0).getLong(0)
          Some(Seq(live, if (snaps > 0) 1L else 0L))
        case "table_changes" =>
          val ch = cat.tableChanges("dim", versions(l(o, "w0").toInt),
            versions(l(o, "w1").toInt))
            .groupBy("change_type").agg(count(lit(1)), sum(col("qty"))).collect()
          val sign = Map("insert" -> 1L, "update_postimage" -> 1L,
            "delete" -> -1L, "update_preimage" -> -1L)
          Some(Seq(ch.map(r => sign(r.getString(0)) * r.getLong(1)).sum,
            ch.map(r => sign(r.getString(0)) * r.getLong(2)).sum))
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
    }

    private def liveFiles(t: String): Long = cat.current.tables(t).files.size.toLong

    def run(): Unit = {
      val t0 = System.nanoTime()
      create()
      rec.setupMs = nowMs(t0)
      // one untimed block of every op type warms the JIT for the paths
      // the set-up does not take (maintenance, change feed, cold opens)
      val w0 = System.nanoTime()
      warmupOps.foreach { o => checked(o); HostSpeed.sample() }
      rec.warmupMs = nowMs(w0)
      val before = Storage.scan(root)
      val retries0 = LakeCatalog.occRetries.sum()
      val tr = new Trace(spark)
      var done = 0
      rec.setupDone(OpCpu.now(spark))
      rec.timed {
        val it = ops.iterator
        while (done < timedOps && it.hasNext) {
          val o = it.next()
          val kind = s(o, "op")
          val traced = trace && rec.traceNext(kind)
          if (traced) tr.start()
          val c0 = OpCpu.now(spark)
          val t0 = System.nanoTime()
          val res = try Right(exec(o)) catch { case e: Throwable => Left(e.toString) }
          val ms = nowMs(t0)
          val cpuMs = OpCpu.stop(spark, c0)
          val counters = if (traced) tr.stop() else Map.empty[String, Long]
          val expect = (o \ "expect") match {
            case JNothing => None
            case v => Some(v.extract[Seq[Long]])
          }
          val (ok, err) = res match {
            case Right(got) if got == expect => (true, "")
            case Right(got) => (false, s"got $got expected $expect")
            case Left(e) => (false, e)
          }
          rec.ops += OpRec(kind, kind, ms, ok, traced,
            counters.map { case (k, v) => k -> v.toDouble } + ("cpu_ms" -> cpuMs), err)
          if (traced) rec.span(kind, t0, t0, ms)
          HostSpeed.sample()
          done += 1
        }
      }
      val after = Storage.scan(root)
      rec.layers("lake.occ_retries") = (LakeCatalog.occRetries.sum() - retries0).toDouble
      rec.layers("lake.files_written") = (after.keySet -- before.keySet).size.toDouble
      rec.layers("lake.bytes_written") =
        (after.keySet -- before.keySet).toSeq.map(after).sum.toDouble
      rec.layers("lake.manifest_bytes") =
        after.filter(e => !Storage.isData(e._1)).values.sum.toDouble
      rec.layers("lake.live_files") =
        cat.current.tables.values.map(_.files.size).sum.toDouble
      rec.layers("lake.root_files") = after.count(e => Storage.isData(e._1)).toDouble
      rec.layers("lake.root_bytes") = after.values.sum.toDouble
      val mv = cat.read("iot_mv").agg(sum(col("n_rows")), sum(col("sum_reading")))
        .collect()(0)
      rec.state("ops_done") = Seq(done.toLong)
      rec.state("iot") = countSum(cat.read("iot"), "reading").productIterator
        .map(_.asInstanceOf[Long]).toSeq
      rec.state("silver") = countSum(cat.read("silver"), "reading").productIterator
        .map(_.asInstanceOf[Long]).toSeq
      rec.state("dim") = countSum(cat.read("dim"), "qty").productIterator
        .map(_.asInstanceOf[Long]).toSeq
      rec.state("iot_mv") = Seq(
        if (mv.isNullAt(0)) 0L else mv.getLong(0),
        if (mv.isNullAt(1)) 0L else mv.getLong(1))
    }
  }
}

/** CPU time the work's own threads spent: the calling thread (where
  * Catalyst plans and the lake commits), the execution thread of every
  * streaming query it started (micro-batch planning, WAL and offset
  * commits, `foreachBatch` sinks such as `LakeStream.replicate`'s lake
  * commit) and every Spark task it ran. Unlike process CPU it leaves out
  * the JIT compiler and GC threads and time the host steals, so it moves
  * with the work the engine does. Read on the main thread, whose CPU
  * clock starts with the JVM, it also gives the set-up's CPU time. */
object OpCpu extends org.apache.spark.scheduler.SparkListener {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong()
  private val threads = ManagementFactory.getThreadMXBean
  /** Stream execution threads: the last CPU reading of each live one and
    * the total of those that have ended. A thread's CPU time cannot be
    * read once it has ended, so a sampler reads the live ones every
    * millisecond while there are any. */
  private val live = mutable.Map[Long, Long]()
  private var endedNs = 0L

  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) taskNs.addAndGet(e.taskMetrics.executorCpuTime)

  /** `onQueryStarted` runs on the new query's execution thread, before
    * `start()` returns to the caller. */
  val streams = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = OpCpu.synchronized {
      live(Thread.currentThread.getId) = 0L
      OpCpu.notifyAll()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def sample(): Unit = synchronized {
    for (id <- live.keys.toSeq) {
      val ns = threads.getThreadCpuTime(id)
      if (ns < 0) endedNs += live.remove(id).get else live(id) = ns
    }
  }

  private val sampler = new Thread(() => while (true) {
    synchronized { while (live.isEmpty) wait() }
    sample()
    Thread.sleep(1)
  }, "perfbench-stream-cpu")
  sampler.setDaemon(true)
  sampler.start()

  private def streamNs(): Long = synchronized { sample(); endedNs + live.values.sum }

  /** CPU so far of the calling thread, stream threads and Spark tasks. */
  def now(spark: SparkSession): Long = {
    org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
    threads.getCurrentThreadCpuTime + taskNs.get() + streamNs()
  }

  /** Milliseconds of CPU since `started`, a reading of [[now]]. */
  def stop(spark: SparkSession, started: Long): Double = {
    val thread = threads.getCurrentThreadCpuTime
    org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
    (thread + taskNs.get() + streamNs() - started) / 1e6
  }
}

/** How fast the host runs a fixed kernel at present: the CPU time of
  * about 4 ms of dependent loads from a 16 MB table. Co-tenants that share
  * the host's cores, caches and memory slow every thread of a run alike,
  * and CPU time shows that as more work; `run.py` divides it out. The
  * kernel runs on the calling thread between operations, when no Spark
  * task of the run is active, so the run's own work does not slow it, and
  * its CPU time is kept out of every metric. */
object HostSpeed {
  private val Size = 1 << 21
  private val Iters = 20000
  private lazy val table = {
    val r = new java.util.Random(1)
    Array.fill(Size)(r.nextLong())
  }
  private val threads = ManagementFactory.getThreadMXBean
  private val samples = mutable.ArrayBuffer[Long]()
  @volatile private var sink = 0L
  /** CPU time the kernel has taken on the calling thread so far. */
  var spentNs = 0L

  private def kernel(): Long = {
    val t = table
    var h = 1L
    var i = 0
    while (i < Iters) {
      h = h * 6364136223846793005L + t((h >>> 43).toInt & (Size - 1))
      i += 1
    }
    h
  }

  /** Build the table and compile the kernel on a thread of its own. */
  def start(): Unit = {
    val th = new Thread(() => for (_ <- 1 to 300) sink += kernel(), "perfbench-host-speed")
    th.setDaemon(true)
    th.start()
  }

  def sample(): Unit = {
    val c0 = threads.getCurrentThreadCpuTime
    sink += kernel()
    val ns = threads.getCurrentThreadCpuTime - c0
    samples += ns
    spentNs += ns
  }

  /** Median kernel CPU time in ns over the samples since the last call,
    * and their number. */
  def take(): (Double, Int) = {
    val v = samples.sorted
    samples.clear()
    (if (v.isEmpty) Double.NaN else v(v.length / 2).toDouble, v.length)
  }
}

/** Files under a lake root: data files (`<table>/data`, `<table>/dv`) and
  * metadata (manifests, checkpoints). Checksum sidecars are skipped. */
object Storage {
  def isData(p: String): Boolean = p.contains("/data/") || p.contains("/dv/")

  def scan(root: String): Map[String, Long] = {
    val out = mutable.Map[String, Long]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.endsWith(".crc")) out(f.getPath) = f.length()
    walk(new File(root))
    out.toMap
  }
}

/** The raw record of a run; `run.py` derives every metric from it. */
final class Record(sessionS: Double) {
  var setupMs = 0.0
  private var setupCpuMs = 0.0
  private var kernelSetup = (0.0, 0)
  private var kernelTimed = (0.0, 0)
  val ops = mutable.ArrayBuffer[Main.OpRec]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val state = mutable.LinkedHashMap[String, Seq[Long]]()
  private val spans = new StringBuilder
  private val prunes = mutable.ArrayBuffer[(Long, Long)]()
  private var timedS = 0.0
  private var cpuS = 0.0
  private var heapLiveMb = 0.0
  var warmupMs = 0.0
  private var spanId = 0
  private val t00 = System.nanoTime()

  /** The set-up ends: its CPU time (a reading of `OpCpu.now`) and the
    * host speed while it ran. */
  def setupDone(cpuNs: Long): Unit = {
    setupCpuMs = (cpuNs - HostSpeed.spentNs) / 1e6
    kernelSetup = HostSpeed.take()
  }

  def timed(f: => Unit): Unit = {
    val c0 = Record.cpuNs(); val t0 = System.nanoTime()
    f
    timedS = (System.nanoTime() - t0) / 1e9
    kernelTimed = HostSpeed.take()
    cpuS = (Record.cpuNs() - c0) / 1e9
    // what the process still holds once the work is done: the live heap
    System.gc()
    heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def prune(scanned: Long, live: Long): Unit = prunes += ((scanned, live))

  /** Whether to trace this occurrence of `name`: occurrences of one name
    * alternate, starting traced for half the names and untraced for the
    * others, so traced and untraced runs of the same operation pair up
    * without favouring the colder first one. */
  def traceNext(name: String): Boolean = {
    val k = seen.getOrElse(name, 0)
    seen(name) = k + 1
    (k + (name.hashCode & 1)) % 2 == 0
  }
  private val seen = mutable.Map[String, Int]()

  /** An op span with, for queries, its builder child span. */
  def span(name: String, t0: Long, tBuilt: Long, ms: Double): Unit = {
    def us(t: Long) = (t - t00) / 1000
    spanId += 1
    val id = spanId
    spans ++= s"""{"id":$id,"parent":0,"name":${Record.q(name)},"start_us":${us(t0)},"end_us":${us(t0) + (ms * 1000).toLong}},"""
    if (tBuilt > t0) {
      spanId += 1
      spans ++= s"""{"id":$spanId,"parent":$id,"name":"build","start_us":${us(t0)},"end_us":${us(tBuilt)}},"""
    }
  }

  private def rssKb(): Long = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def write(path: String): Unit = {
    import Record.{num, q}
    val opsJson = ops.map { o =>
      val extra = o.extra.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")
      s"""{"kind":${q(o.kind)},"name":${q(o.name)},"ms":${num(o.ms)},"ok":${o.ok},"traced":${o.traced},"extra":{$extra},"err":${q(o.err)}}"""
    }.mkString("[", ",\n", "]")
    val json =
      s"""{"session_s":${num(sessionS)},"setup_ms":${num(setupMs)},"setup_cpu_ms":${num(setupCpuMs)},""" +
      s""""kernel_setup_ns":${num(kernelSetup._1)},"kernel_setup_n":${kernelSetup._2},""" +
      s""""kernel_timed_ns":${num(kernelTimed._1)},"kernel_timed_n":${kernelTimed._2},""" +
      s""""warmup_ms":${num(warmupMs)},"timed_s":${num(timedS)},"cpu_s":${num(cpuS)},"peak_rss_kb":${rssKb()},"heap_live_mb":${num(heapLiveMb)},""" +
      s""""layers":{${layers.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},""" +
      s""""state":{${state.map { case (k, v) => s"${q(k)}:${v.mkString("[", ",", "]")}" }.mkString(",")}},""" +
      s""""prunes":${prunes.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")},""" +
      s""""spans":[${spans.toString.stripSuffix(",")}],"ops":$opsJson}"""
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(json) finally w.close()
  }
}

object Record {
  /** CPU time of the whole process (driver and local executor threads). */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
