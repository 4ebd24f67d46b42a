package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the id of the enclosing span (-1 for an operation's root). Times are
  * System.nanoTime() values. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    t0: Long, t1: Long)

/** Finished-task record, attributed to an operation by its job group
  * (`op-<id>`) or, for jobs outside any group (streaming batches), by
  * time in the analysis. */
final case class TaskRec(group: String, endNs: Long, runMs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long, bytesRead: Long, recordsRead: Long)

/** Records spans around the benchmark's calls into graft and collects
  * Spark's own listener events. Spans live in memory and are written out
  * once, after the measured phase. A traced run traces every other
  * operation of each kind, starting with the first, so traced and
  * untraced operations of the same mix interleave in one phase and their
  * difference is the cost of tracing. While `on` is false every method is
  * a pass-through, so an untraced operation costs one branch per call. */
final class Tracer(spark: SparkSession, cores: Int) {
  @volatile var on = false
  private var enabled = false
  private val seen = scala.collection.mutable.Map.empty[String, Int]

  /** Whether the next operation of `kind` is traced; sets `on`. */
  def pick(kind: String): Boolean = {
    val k = seen.getOrElse(kind, 0)
    if (enabled) seen(kind) = k + 1
    on = enabled && k % 2 == 0
    on
  }

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  /** Epoch milliseconds (listener timestamps) on the nanoTime axis. */
  def msToNs(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var curOp = -1
  private var nextId = 0

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(String, Long)]()
  /** (phase, startNs, endNs) from each QueryExecution's planning tracker. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def record[A](name: String, layer: String, op: Int)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      open = open.tail
      spans += Span(id, parent, op, name, layer, t0, t1)
    }
  }

  /** Root span of operation `id`; also its Spark job group. Jobs of
    * untraced operations run in no group. */
  def op[A](id: Int, kind: String)(body: => A): A =
    if (!on) body
    else {
      curOp = id
      spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
      try record(kind, "client", id)(body)
      finally { spark.sparkContext.clearJobGroup(); curOp = -1 }
    }

  /** A span around one call into layer `layer` inside the current op. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!on || curOp < 0) body else record(name, layer, curOp)(body)

  /** A span measured elsewhere (streaming progress phases). */
  def add(op: Int, parent: Int, name: String, layer: String, t0: Long, t1: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, op, name, layer, t0, t1)
    id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(stageGroup.put(_, g))
      jobs.add(g -> msToNs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        stageGroup.getOrDefault(e.stageId, ""), msToNs(e.taskInfo.finishTime),
        m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, s) =>
        phases.add((name, msToNs(s.startTimeMs), msToNs(s.endTimeMs)))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  }

  /** Starts recording: listeners registered, operations picked. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  /** Stops recording once the listener bus has delivered every event. */
  def stop(): Unit = {
    enabled = false
    on = false
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def json: String = {
    val sp = spans.map(s => Json.arr(s.id, s.parent, s.op, s.name, s.layer, s.t0, s.t1))
    val tk = tasks.asScala.map(t => Json.arr(t.group, t.endNs, t.runMs, t.gcMs,
      t.shuffleBytes, t.spillBytes, t.bytesRead, t.recordsRead))
    val jb = jobs.asScala.map { case (g, t) => Json.arr(g, t) }
    val ph = phases.asScala.map { case (n, a, b) => Json.arr(n, a, b) }
    Json.obj("cores" -> cores,
      "spans" -> Json.Raw(sp.mkString("[", ",", "]")),
      "tasks" -> Json.Raw(tk.mkString("[", ",", "]")),
      "jobs" -> Json.Raw(jb.mkString("[", ",", "]")),
      "phases" -> Json.Raw(ph.mkString("[", ",", "]")))
  }
}
