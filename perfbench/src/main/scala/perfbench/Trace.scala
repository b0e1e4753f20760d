package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: the
  * monotonic clock anchored once to the epoch, so harness spans line up
  * with the epoch-millisecond stamps Spark puts on planning phases and
  * streaming progress. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans recorded in memory around the harness's calls into the library.
  * A span has a name, start, end, parent and the operation it belongs to;
  * nesting follows the calling thread. Disabled, `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def span[T](op: Long, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack.set(stack.get.tail)
        spans.add(Map("id" -> id, "op" -> op, "name" -> name, "parent" -> parent,
          "start" -> t0, "end" -> t1))
      }
    }
}

/** Global codegen counters: classes compiled, and nanoseconds spent
  * compiling them, since the JVM started. */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
}

/** Listeners that attribute Spark's own counters to the harness's
  * operations. The operation id and phase travel as local properties, which
  * Spark copies onto every job the calling thread (or a thread it starts)
  * submits; stages and tasks inherit them through their job. */
final class Probes(spark: SparkSession) extends SparkListener {
  import Probes._

  private val stageOp = mutable.Map.empty[Int, Long]
  private val counters = mutable.Map.empty[Long, mutable.Map[String, Double]]
  val queryPhases = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def add(op: Long, key: String, v: Double): Unit =
    counters.getOrElseUpdate(op, mutable.Map.empty.withDefaultValue(0.0))(key) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { o =>
      val op = o.toLong
      e.stageIds.foreach(stageOp(_) = op)
      add(op, "jobs", 1)
      add(op, "stages", e.stageIds.size)
      props.flatMap(p => Option(p.getProperty(PhaseKey))).foreach(ph => add(op, s"${ph}_jobs", 1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val info = e.taskInfo
      val m = e.taskMetrics
      add(op, "tasks", 1)
      if (m != null) {
        val run = m.executorRunTime.toDouble
        val deser = m.executorDeserializeTime.toDouble
        add(op, "task_run_ms", run)
        add(op, "task_cpu_ms", m.executorCpuTime / 1e6)
        add(op, "task_deser_ms", deser)
        add(op, "delay_ms", math.max(0.0, info.duration - run - deser -
          m.resultSerializationTime - info.gettingResultTime))
        add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      }
    }
  }

  /** Catalyst phases of every query the benchmark's own session ran (the
    * streaming engine plans on a clone of the session, so its micro-batch
    * plans are not counted here), plus the files each scan read. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.sparkSession eq spark) {
        val phases = qe.tracker.phases.map { case (k, p) =>
          k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs) }
        val files = ScanFiles.count(qe)
        queryPhases.add(Map("phases" -> phases, "files" -> files))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def perOp: Map[Long, Map[String, Double]] = synchronized {
    counters.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object Probes {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Tag the jobs this thread submits from now on. */
  def tag(sc: SparkContext, op: Long, phase: String): Unit = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, phase)
  }

  def untag(sc: SparkContext): Unit = {
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(PhaseKey, null)
  }
}

/** Files read by the parquet scans of one executed query, final adaptive
  * plan included. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Long =
    collect(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
