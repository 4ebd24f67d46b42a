package graft.bench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.ManifestTable
import graft.streaming.StreamSync

/** The streaming part of commit_mix: one long-lived
  * `StreamSync.startMergeToTable` query (merge-on-read, in-stream
  * compaction every `CompactEvery` batches) into its own sink table,
  * over pre-staged keyed event slices. A `stream` operation drops the
  * next slice into the watched directory and waits for the micro-batch
  * that consumes it; the operation's latency is the batch's duration as
  * the StreamingQueryListener reports it. */
final class StreamSink(h: Harness) {
  import StreamSink._

  private var root = ""
  private var slices = ""
  private var query: StreamingQuery = _
  private var fed = 0
  private val done = new LinkedBlockingQueue[QueryProgressEvent]()

  h.spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) done.put(e)
  })

  def table: String = s"$root/sink"

  /** Seeds the sink from `seed` and starts the stream over `slicesDir`. */
  def start(work: String, slicesDir: String, seed: String): Unit = {
    root = work
    slices = slicesDir
    fed = 0
    done.clear()
    ManifestTable.overwrite(h.spark.read.parquet(seed)
      .repartitionByRange(16, col("o_orderkey")), table)
    Files.createDirectories(Paths.get(s"$root/watch"))
    val schema = h.spark.read.parquet(s"$slices/s00000.parquet").schema
    val stream = h.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/watch")
    query = StreamSync.startMergeToTable(stream, table, Seq("o_orderkey"),
      s"$root/checkpoint", deleteWhen = Some(col("op") === "D"),
      trigger = Trigger.ProcessingTime(0L), mor = true,
      autoCompactEvery = CompactEvery, autoCompactTargetBytes = CommitMix.CompactTarget)
  }

  /** Feeds slice number `fed` as operation `id` and records it. */
  def feed(id: Int): OpRec = {
    val name = f"s$fed%05d.parquet"
    val traced = h.tracer.pick("stream")
    h.tracer.on = false
    val t0 = System.nanoTime()
    val tmp = Paths.get(s"$root/$name.tmp")
    Files.copy(Paths.get(slices, name), tmp)
    Files.move(tmp, Paths.get(s"$root/watch/$name"))
    val e = done.poll(120, TimeUnit.SECONDS)
    val t1 = System.nanoTime()
    val ok = e != null && query.exception.isEmpty
    val d = if (e == null) Map.empty[String, Long]
      else e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (ok && traced) traceBatch(id, t0, t1, e, d)
    val rec = OpRec(id, "stream", h.phase, t0, t1, ok,
      if (ok) "" else s"no progress for slice $fed: ${query.exception}",
      null, Files.size(Paths.get(slices, name)),
      Map("latency_ms" -> d.getOrElse("triggerExecution", 0L), "slice" -> fed,
        "rows" -> (if (e == null) 0L else e.progress.numInputRows), "durations" -> d),
      traced)
    fed += 1
    h.record(rec)
  }

  /** The batch as spans: the trigger under the operation, its phases
    * laid end to end in execution order under the trigger. */
  private def traceBatch(id: Int, t0: Long, t1: Long, e: QueryProgressEvent,
      d: Map[String, Long]): Unit = {
    val t = h.tracer
    val op = t.add(id, -1, "stream", "client", t0, t1)
    val start = t.msToNs(java.time.Instant.parse(e.progress.timestamp).toEpochMilli).max(t0)
    val end = (start + d.getOrElse("triggerExecution", 0L) * 1000000L).min(t1)
    val trig = t.add(id, op, "triggerExecution", "stream", start, end)
    var at = start
    Phases.foreach { case (name, layer) =>
      d.get(name).foreach { ms =>
        val until = (at + ms * 1000000L).min(end)
        t.add(id, trig, name, layer, at, until)
        at = until
      }
    }
  }

  def stop(): Unit = query.stop()

  /** Writes the sink's final rows and how many slices it consumed. */
  def dump(out: String): Unit = {
    stop()
    ManifestTable.read(h.spark, table).write.parquet(s"$out/final/sink")
    Files.writeString(Paths.get(out, "final", "slices_fed"), fed.toString)
  }
}

object StreamSink {
  val CompactEvery = 2
  /** Micro-batch phases in execution order, with the layer doing the
    * work: `addBatch` is StreamSync's foreachBatch sink, i.e. the MoR
    * merge commit and the in-stream compaction. */
  val Phases = Seq("latestOffset" -> "stream", "walCommit" -> "stream",
    "getBatch" -> "stream", "queryPlanning" -> "stream", "addBatch" -> "sink",
    "commitOffsets" -> "stream")
}
