package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one traced operation.
  *
  * The listeners are attached only around a traced operation and removed
  * after it, so an untraced operation in the same run pays nothing; the
  * run alternates traced and untraced operations, and the difference of
  * their latencies is the tracing overhead. Listener events post
  * asynchronously, so [[stop]] drains the bus before reading. */
final class Trace(spark: SparkSession) {
  private val c = mutable.LinkedHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.synchronized(c.getOrElseUpdate(k, new AtomicLong())).addAndGet(v)

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_ms", m.executorRunTime)
        add("spark.gc_ms", m.jvmGCTime)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeL = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        p.get(k).foreach(s => add(s"catalyst.${k}_us", (s.durationMs * 1000).toLong))
      }
    }
  }

  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream.batches", 1)
      add("stream.input_rows", p.numInputRows)
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("stream.query_planning_ms", d("queryPlanning"))
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.wal_commit_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("stream.state_commit_ms", s.commitTimeMs)
        add("stream.state_rows", s.numRowsTotal)
        add("stream.state_bytes", s.memoryUsedBytes)
      }
    }
  }

  def start(): Unit = {
    c.synchronized(c.clear())
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(qeL)
    spark.streams.addListener(streamL)
  }

  /** Detach the listeners and return the counters of the operation. */
  def stop(): Map[String, Long] = {
    org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
    spark.streams.removeListener(streamL)
    spark.listenerManager.unregister(qeL)
    spark.sparkContext.removeSparkListener(sparkL)
    c.synchronized(c.map { case (k, v) => k -> v.get }.toMap)
  }
}
