package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
object Bench {

  /** 1-minute load average — recorded in the output so a contention-
    * inflated run is distinguishable from a real regression (three rounds
    * of driver records were inflated by co-tenant load; the artifact now
    * carries its own context). */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus("4")
    def build(): SparkSession = GraftSession.build(cpus, GraftSession.envOverrides)
    var spark = build()
    // the suite must survive a fatal error mid-run: a contended full-suite
    // run once lost the DAGScheduler event loop (Spark then stops the
    // SparkContext, and EVERY later submission fails in milliseconds with
    // "SparkContext was shut down" — five queries were recorded failed by
    // one upstream casualty). When a failure leaves the context stopped,
    // rebuild the session and re-run that query once; the restart count
    // lands in the artifact so a masked crash stays visible.
    var contextRestarts = 0
    // JVM/codegen warm-up on the tiny SF so the first timed query doesn't
    // absorb one-time compilation cost. The suite runs alphabetically, so
    // without this the first dedup query pays the whole SQL/parquet JIT,
    // the first q1xx streaming query pays the state-store/checkpoint
    // stack's, and the first transactional query the manifest commit
    // path's — one-time costs the rest of the suite never sees (guide
    // §1: measure the computation, not the compiler). The smallest SF
    // keeps the warm-up itself to a few seconds; it is untimed either way.
    // warm-up data: the smallest `sf<scale>` sibling of the bench dir (the
    // bench dir itself when it is the smallest or has none) — hardcoding
    // one path silently fell back to the full-scale dir on a machine
    // without it
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir).toAbsolutePath
      val siblings = Option(p.getParent).toSeq.flatMap(d =>
        scala.util.Using.resource(java.nio.file.Files.list(d))(
          _.iterator().asScala.toSeq))
      (p +: siblings).filter(java.nio.file.Files.isDirectory(_))
        .flatMap(d => d.getFileName.toString match {
          case n if n.startsWith("sf") =>
            n.stripPrefix("sf").toDoubleOption.map(_ -> d)
          case _ => None
        })
        .minByOption(_._1).map(_._2.toString).getOrElse(sfDir)
    }
    Seq(
      (s: SparkSession) => SparkEntry.entry(s),
      (s: SparkSession) => SparkEntry.queries("q44_stream_agg")(s, warmDir),
      (s: SparkSession) => SparkEntry.queries("q60_merge")(s, warmDir)
    ).foreach(f => try f(spark).count() catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up lambda failed (untimed): $e") })
    // optional args = query-name filter (ad-hoc timing); driver runs bare.
    // Unknown names are an ERROR: silently ignoring a typo would print a
    // perfect-looking total=0 run.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val loadBefore = loadAvg()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => args.isEmpty || args.contains(name) }
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame):
        (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            e.getStackTrace.take(6).foreach(f => System.err.println(s"[bench]     at $f"))
            false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame):
        (Double, Boolean) = {
      val r = timeOnce(name, fn)
      if (!r._2 && spark.sparkContext.isStopped) {
        System.err.println(s"[bench] SparkContext stopped during $name - rebuilding session and re-running")
        contextRestarts += 1
        spark = build()
        timeOnce(name, fn)
      } else r
    }
    // classes compiled per query: the codegen cache misses of its first
    // pass (a structural counter — a plan shape compiles once, so a
    // query that recompiles per run shows up here, not in wall time)
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val firstPass = selected.map { case (name, fn) =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (dt, ok) = time(name, fn)
      compiles(name) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      System.err.println(f"[bench] $name%-20s $dt%8.2f s")
      (name, fn, dt, ok)
    }
    // outlier self-defense: a query far above the pack is usually transient
    // machine contention, not plan cost — re-time it once and keep the
    // BEST of the two as the headline (the minimum is the less-contended
    // measurement; real regressions reproduce, noise doesn't). BOTH
    // timings land in the artifact (`retimings`) so a bimodal regression
    // is visible, not masked by the min.
    val okTimes = firstPass.filter(_._4).map(_._3).sorted
    val median = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.length / 2)
    val results = firstPass.map { case (name, fn, dt, ok) =>
      if (ok && dt > math.max(5.0, 6 * median)) {
        // a re-timed query must RECOMPUTE, not read a shared-artifact
        // cache its first pass populated: clear the caches so min-of-pair
        // compares two honest measurements (a cache-backed second pass
        // would otherwise erase the build cost from every headline)
        SparkEntry.clearSharedCaches()
        val (dt2, ok2) = time(name, fn)
        System.err.println(f"[bench] $name%-20s $dt2%8.2f s (re-timed; first pass $dt%.2f)")
        // a FAILED re-run of a query that just succeeded is a
        // reproducibility problem — record the query as failed rather
        // than quietly keeping the first-pass success
        if (ok2) (name, math.min(dt, dt2), true, Some(dt -> dt2))
        else (name, dt, false, Some(dt -> dt2))
      } else (name, dt, ok, None)
    }
    val qs = results.map { case (k, v, ok, _) =>
      // failed queries are marked with a negative duration so a consumer
      // can't mistake a fast failure for a fast success
      s"\"" + k + "\":" + (if (ok) v else -v)
    }.mkString("{", ",", "}")
    val failed = results.filter(!_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val retimings = results.collect { case (k, _, _, Some((a, b))) =>
      s"\"" + k + "\":[" + a + "," + b + "]"
    }.mkString("{", ",", "}")
    val total = results.filter(_._3).map(_._2).sum
    val codegen = compiles.map { case (k, n) => s"\"$k\":$n" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,""" +
      s""""retimings":$retimings,"codegen_compiles":$codegen,""" +
      s""""context_restarts":$contextRestarts,""" +
      s""""load_before":$loadBefore,"load_after":${loadAvg()},"sf":"$sfDir"}"""
    // FULL record → bench_last.json: the driver's artifact keeps only the
    // last ~2000 chars of stdout, so a 258-query map (~8 KB) can never
    // survive there — the file is the durable per-query measurement.
    // bench_last_c<cpus>.json keeps one record per core count, so an
    // 8-core cross-check never overwrites the 32-core run of record.
    Seq("bench_last.json", s"bench_last_c$cpus.json").foreach { f =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $f: $e") }
    }
    // stdout gets a COMPACT final line sized to fit INSIDE that 2000-char
    // tail even with sbt's trailing "[success] ..." line: headline totals
    // + as many per-query timings as fit (slowest first — the informative
    // end of the distribution), pointing at bench_last.json for the rest.
    // 16 consecutive round artifacts have parsed=null because the full
    // line's head was truncated away; this line is the one that parses.
    val header =
      s"""{"metric":"total","value":${math.round(total * 100) / 100.0},""" +
      s""""unit":"sec","n_queries":${results.size},"failed":$failed,""" +
      s""""context_restarts":$contextRestarts,"load_before":$loadBefore,""" +
      s""""load_after":${loadAvg()},"sf":"$sfDir",""" +
      s""""full_map":"bench_last.json","queries":"""
    val budget = 1800 - header.length - 60 // room for the closing fields
    val bySlow = results.sortBy { case (_, v, ok, _) => if (ok) -v else 1.0 }
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    bySlow.foreach { case (k, v, ok, _) =>
      val e = "\"" + k + "\":" + (if (ok) math.round(v * 100) / 100.0
                                  else -(math.round(v * 100) / 100.0))
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
    }
    val compact = header + entries.mkString("{", ",", "}") +
      s""","queries_omitted":${results.size - entries.size}}"""
    // commit-path phase accounting for the whole run (stderr, like the
    // per-query lines): how much of the suite's wall went to the
    // transactional write floor — the number §5b's commit-floor work is
    // judged against round over round
    val prof = graft.sources.ManifestTable.CommitProfile.snapshot
    if (prof.nonEmpty) System.err.println("[bench] commit-profile " +
      prof.toSeq.sortBy(-_._2._2).map { case (k, (n, s)) =>
        f"$k=x$n/$s%.1fs" }.mkString(" "))
    // stop BEFORE printing: Spark's shutdown chatter (if any) must land
    // ahead of the JSON so the compact line is the genuinely last line of
    // the run — build.sbt unwraps forked output (StdoutOutput) and drops
    // sbt's "[success]" banner (showSuccess := false) for the same reason.
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
