package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One finished operation. `t0`/`t1` are nanoTime stamps; `result` is
  * the rendered result the correctness gate compares (null when the
  * operation returns none or a repeat need not be kept); `ingest` counts
  * user bytes handed to graft; `traced` marks the operations a traced run
  * recorded spans for. */
final case class OpRec(id: Int, kind: String, phase: String, t0: Long, t1: Long,
    ok: Boolean, err: String, result: String, ingest: Long, extra: Map[String, Any],
    traced: Boolean = false)

/** What one operation returns to the harness. Rendering the rows and
  * computing `extra` happen after the operation's clock has stopped. */
final case class Outcome(rows: Array[Row] = null, cols: Seq[String] = Nil,
    keep: Boolean = true, ingest: Long = 0L,
    extra: () => Map[String, Any] = () => Map.empty)

/** One closed-loop workload: a single client thread issuing the next
  * operation only after the previous one completed. */
abstract class Workload(val h: Harness) {
  def spark: SparkSession = h.spark
  /** Loads the workload's tables under `work`; `role` is "warm" (the
    * warm-up runs on these) or "run" (the measured tables). */
  def load(work: String, role: String): Unit
  /** Runs the warm-up mix, untimed, on the tables of the last load. */
  def warmUp(): Unit
  /** A read-only workload warms up on its measured tables, which it
    * never changes; the others on a throwaway copy. */
  def readOnly: Boolean = false
  /** Stops whatever the last load left running. */
  def release(): Unit = ()
  /** Runs one operation of the plan. */
  def step(o: Map[String, Any]): OpRec
  /** Directories whose bytes count as table storage. */
  def tableDirs: Seq[String]
  /** Bytes of the live snapshots, given the files under `tableDirs`. */
  def liveBytes(files: Map[String, Long]): Long
  /** Bytes of user data the measured load ingested (read-only workloads
    * report write and space amplification of this load). */
  def loadIngest: Long
  /** Traced runs only: whole cycles of a cyclic mix, after the phase. */
  def cycles(): Unit = ()
  /** Writes what the correctness gate needs under `out`. */
  def finish(out: String): Unit

  /** Runs the plan's operations in whole blocks of `block` until
    * `deadline` has passed, so every run measures whole blocks of the
    * same mix. */
  def run(deadline: Long, block: Int): Unit = {
    val all = h.plan("ops").asInstanceOf[List[Map[String, Any]]].toIndexedSeq
    var n = 0
    while (n < all.size && (n == 0 || n % block != 0 || System.nanoTime() < deadline)) {
      step(all(n)); n += 1
    }
  }
}

final class Harness(val spark: SparkSession, val tracer: Tracer, val in: String,
    val out: String, val plan: Map[String, Any]) {
  val ops = ArrayBuffer.empty[OpRec]
  var phase = "w"

  /** Times one operation and records its outcome; failures are recorded,
    * never thrown, so the loop goes on and `fail_share` counts them. */
  def timed(id: Int, kind: String)(body: => Outcome): OpRec = {
    val traced = tracer.pick(kind)
    val t0 = System.nanoTime()
    val r = try Right(tracer.op(id, kind)(body)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    // `extra` reads tracer.on to decide whether to gather scan facts
    val rec = r match {
      case Right(o) =>
        val res = if (o.rows != null && o.keep) Harness.render(o.cols, o.rows) else null
        val dig = if (o.rows != null) Map("digest" -> Harness.digest(o.rows),
          "rows_out" -> o.rows.length) else Map.empty
        OpRec(id, kind, phase, t0, t1, ok = true, "", res, o.ingest, o.extra() ++ dig, traced)
      case Left(e) =>
        System.err.println(s"[bench] op $id $kind failed: $e")
        OpRec(id, kind, phase, t0, t1, ok = false, e.toString, null, 0L, Map.empty, traced)
    }
    tracer.on = false
    record(rec)
  }

  def record(rec: OpRec): OpRec = {
    ops += rec
    System.err.println(f"[bench] ${rec.phase} op ${rec.id}%d ${rec.kind} " +
      f"${(rec.t1 - rec.t0) / 1e6}%.1f ms")
    rec
  }

  /** Collects `df` inside an execution span. */
  def collect(df: DataFrame, keep: Boolean = true, ingest: Long = 0L,
      extra: () => Map[String, Any] = () => Map.empty): Outcome =
    Outcome(tracer.span("collect", "exec")(df.collect()), df.columns.toSeq, keep,
      ingest, extra)

  /** Per-operation scan facts, read from the executed plan after the
    * operation (traced operations only): files read, live files of the tables
    * scanned, and the table roots. */
  def scanFacts(df: DataFrame): Map[String, Any] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case o => o.children ++ o.subqueries
    }).flatMap(walk)
    val scans = walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    val read = scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))
    val tables = roots.flatMap(Harness.tableOf).distinct
    Map("files_read" -> read, "files_live" -> tables.map(liveFiles).sum,
      "roots" -> tables)
  }

  def liveFiles(table: String): Int = graft.sources.ManifestTable.dataFiles(table).size
}

object Harness {
  def render(cols: Seq[String], rows: Array[Row]): String =
    Json.obj("cols" -> cols, "rows" -> Json.Raw(rows.map(Json.value).mkString("[", ",", "]")))

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(Json.value).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The table directory (the one holding `_manifests`) at or above `p`. */
  def tableOf(p: String): Option[String] = {
    var cur = Paths.get(p)
    while (cur != null && !Files.isDirectory(cur.resolve("_manifests"))) cur = cur.getParent
    Option(cur).map(_.toString)
  }

  /** Every regular file under `dirs`: relative path → size. */
  def listing(dirs: Seq[String]): Map[String, Long] =
    dirs.filter(d => Files.isDirectory(Paths.get(d))).flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap

  /** Bytes of the latest snapshot's data and delete files of `table`. */
  def liveBytes(table: String, files: Map[String, Long]): Long = {
    import graft.sources.ManifestTable
    val names = (ManifestTable.dataFiles(table) ++ ManifestTable.deleteFiles(table))
      .map(f => Paths.get(f).getFileName.toString).toSet
    files.collect { case (p, n) if p.startsWith(table + "/") &&
      names(Paths.get(p).getFileName.toString) => n }.sum
  }
}

object Main {
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def heapLiveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A fixed Spark job and a fixed JVM loop: the same work in every run,
    * so a contended run shows as a slow canary. */
  private def canary(spark: SparkSession): Map[String, Double] = {
    def med(f: => Unit): Double = {
      val xs = (1 to 3).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
      xs.sorted.apply(1)
    }
    Map(
      "spark_ms" -> med(spark.range(0L, 4000000L, 1L, 2)
        .selectExpr("sum(id * 7 % 13)").collect()),
      "cpu_ms" -> med {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val buf = new Array[Byte](1 << 16)
        (1 to 400).foreach(_ => md.update(buf))
        md.digest()
      })
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/wh")
      .config("spark.sql.streaming.noDataProgressEventInterval", "600000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val in = a("in")
    val out = a("out")
    val cores = a("cores").toInt
    val block = a("block").toInt
    val work = s"$out/work"
    val loadBefore = loadAvg()
    val plan = Json.parse(new String(Files.readAllBytes(Paths.get(in, "plan.json")), "UTF-8"))
      .asInstanceOf[Map[String, Any]]

    val tSession = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    graft.SparkEntry.clearSharedCaches()
    val tracer = new Tracer(spark, cores)
    val h = new Harness(spark, tracer, in, out, plan)
    val w: Workload = workload match {
      case "commit_mix" => new CommitMix(h)
      case "lake_reads" => new LakeReads(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: a writing workload loads a throwaway copy of its tables and
    // warms up on it, then loads the measured tables; a read-only one
    // loads once and warms up on the measured tables
    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    h.phase = "w"
    val loads = ArrayBuffer.empty[Double]
    var warmS = 0.0
    if (!w.readOnly) {
      loads += secs(w.load(s"$work/warm", "warm"))
      warmS = secs(w.warmUp())
      w.release()
    }
    val before0 = Harness.listing(w.tableDirs)
    loads += secs(w.load(s"$work/run", "run"))
    val afterLoad = Harness.listing(w.tableDirs)
    if (w.readOnly) warmS = secs(w.warmUp())
    h.ops.clear()
    val canaryBefore = canary(spark)

    h.phase = "m"
    if (trace) tracer.start()
    val files0 = Harness.listing(w.tableDirs)
    val prof0 = graft.sources.ManifestTable.CommitProfile.snapshot
    val t0 = System.nanoTime()
    w.run(t0 + (seconds * 1e9).toLong, block)
    val t1 = System.nanoTime()
    if (trace) tracer.stop()
    val heapMb = heapLiveMb()
    val endFiles = Harness.listing(w.tableDirs)
    val prof1 = graft.sources.ManifestTable.CommitProfile.snapshot
    if (trace) {
      h.phase = "c"
      w.cycles()
    }
    val canaryAfter = canary(spark)
    w.finish(out)

    val liveBytes = w.liveBytes(endFiles)
    def profJson(p: Map[String, (Long, Double)]) =
      p.map { case (k, (n, s)) => k -> Json.Raw(Json.arr(n, s)) }
    val added = endFiles.filter { case (p, n) => !files0.get(p).contains(n) }
    val phaseJson = Json.obj("t0" -> t0, "t1" -> t1,
      "files_written" -> added.size, "bytes_written" -> added.values.sum,
      "manifest_bytes" -> added.collect { case (p, n) if p.contains("/_manifests/") => n }.sum,
      "prof0" -> profJson(prof0), "prof1" -> profJson(prof1))
    val loadAdded = afterLoad.filter { case (p, n) => !before0.get(p).contains(n) }
    val opsJson = h.ops.map(o => Json.obj("id" -> o.id, "kind" -> o.kind, "phase" -> o.phase,
      "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "err" -> o.err,
      "result" -> Json.Raw(Option(o.result).getOrElse("null")), "ingest" -> o.ingest,
      "traced" -> o.traced, "extra" -> o.extra))
    val result = Json.obj(
      "workload" -> workload, "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "load_s" -> loads.toList, "warm_s" -> warmS),
      "load_before" -> loadBefore, "load_after" -> loadAvg(),
      "canary_before" -> canaryBefore, "canary_after" -> canaryAfter,
      "heap_live_mb" -> heapMb,
      "load_bytes_written" -> loadAdded.values.sum, "load_ingest" -> w.loadIngest,
      "disk_bytes" -> endFiles.values.sum, "live_bytes" -> liveBytes,
      "phase" -> Json.Raw(phaseJson),
      "ops" -> Json.Raw(opsJson.mkString("[\n", ",\n", "]")),
      "trace" -> Json.Raw(if (trace) tracer.json else "null"))
    Files.writeString(Paths.get(out, "result.json"), result)
    spark.stop()
  }
}
