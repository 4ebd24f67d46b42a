package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round evidence dump: `.explain("formatted")` of named
  * queries → `plans/<tag>/<name>_<suffix>.txt`. The judge reads these
  * files against OPTIMIZATION_r*.md's plan claims; the bench itself never
  * calls this (explain re-plans but does not execute, so gate queries'
  * eager side effects still run when the query function is built).
  *
  * usage: runMain graft.PlanDump <tag> <suffix> <query>...
  *   e.g. runMain graft.PlanDump r19 before q13_star_join q190_join_mv
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus("32"),
      GraftSession.envOverrides)
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df =
        try SparkEntry.queries(name)(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed to build: $e")
          throw e
        }
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      System.err.println(f"[plandump] $name%-24s built in ${(System.nanoTime() - t0) / 1e9}%.2f s -> ${outDir.resolve(s"${name}_$suffix.txt")}")
    }
    spark.stop()
  }
}
