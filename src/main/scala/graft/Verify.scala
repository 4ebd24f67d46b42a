package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args = query-name subset for ad-hoc runs; unknown
    // names are an error (same contract as Bench)
    val names = args.drop(2)
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // the session Bench times, SPARK_GRAFT_CONF overrides included
    def build(): SparkSession =
      GraftSession.build(GraftSession.cpus("4"), GraftSession.envOverrides)
    var spark = build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => names.isEmpty || names.contains(name) }
      .foreach { case (name, fn) =>
      // same self-healing as Bench: a fatal error that killed the
      // DAGScheduler event loop stops the SparkContext and would fail
      // every REMAINING query in milliseconds — one casualty must not
      // zero the rest of the round's correctness record
      def once(): Boolean =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      if (!once() && spark.sparkContext.isStopped) {
        System.err.println(s"[verify] SparkContext stopped during $name - rebuilding and retrying once")
        spark = build()
        once()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
