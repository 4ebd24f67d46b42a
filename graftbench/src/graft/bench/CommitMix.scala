package graft.bench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.conditions.{Condition, Op}
import graft.sources.ManifestTable

/** commit_mix: a seeded stream of small keyed writes against an orders
  * table, with read-after-write reads, a compaction per block, and
  * micro-batches of a merge-on-read stream into a second table
  * ([[StreamSink]]). Every delta is a pure function of its operation's
  * parameters; `oracle.py` replays the same stream in DuckDB from the
  * same formulas. */
final class CommitMix(h: Harness) extends Workload(h) {
  import CommitMix._

  private var root = ""
  private def orders = s"$root/orders"
  private def log = s"$root/order_log"
  private var bytesPerRow = 0.0
  private var ingest = 0L
  private val sink = new StreamSink(h)

  def tableDirs: Seq[String] = Seq("orders", "order_log", "sink").map(t => s"${h.out}/work/run/$t")
  def loadIngest: Long = ingest
  def liveBytes(files: Map[String, Long]): Long =
    Seq(orders, log, sink.table).map(Harness.liveBytes(_, files)).sum

  def load(work: String, role: String): Unit = {
    root = work
    val src = s"${h.in}/${if (role == "warm") "warm_orders" else "orders"}.parquet"
    ingest = java.nio.file.Files.size(java.nio.file.Paths.get(src))
    val seed = spark.read.parquet(src)
    bytesPerRow = ingest.toDouble / seed.count()
    // sixteen key-ranged files, so a keyed rewrite touches a slice of
    // the table rather than all of it
    ManifestTable.overwrite(seed.repartitionByRange(16, col("o_orderkey")), orders)
    ManifestTable.overwrite(spark.range(0).select(col("id").as("k"), col("id").as("op_id")), log)
    sink.start(work, s"${h.in}/${if (role == "warm") "warm_slices" else "slices"}", src)
  }

  def warmUp(): Unit = h.plan("warm_ops").asInstanceOf[List[Map[String, Any]]].foreach(step)

  override def release(): Unit = sink.stop()

  def step(o: Map[String, Any]): OpRec = {
    def p(k: String): Long = o(k).asInstanceOf[BigInt].toLong
    val id = p("id").toInt
    val kind = o("op").toString
    val t = h.tracer
    def commit[A](name: String)(f: => A): A = t.span(name, "commit")(f)
    if (kind == "stream") return sink.feed(id)
    h.timed(id, kind) {
      kind match {
        case "append" =>
          commit("append")(ManifestTable.append(rows(p("lo"), p("n"), 1, 0), orders))
          Outcome(ingest = (p("n") * bytesPerRow).toLong)
        case "commitTxn" =>
          commit("commitTxn")(ManifestTable.commitTxn(Seq(
            ManifestTable.TxnWrite(rows(p("lo"), p("n"), 1, 0), orders),
            ManifestTable.TxnWrite(spark.range(p("lo"), p("lo") + p("n"))
              .select(col("id").as("k"), lit(id.toLong).as("op_id")), log))))
          Outcome(ingest = (p("n") * bytesPerRow).toLong + 16 * p("n"))
        case "mergeMoR" | "branch" =>
          val src = upserts(p("lo"), p("n"), p("stride"), p("del_mod"), p("salt"))
          val del = Some(col("op") === "D")
          kind match {
            case "mergeMoR" => commit("mergeMoR")(
              ManifestTable.mergeMoR(spark, orders, src, Key, deleteWhen = del))
            case _ =>
              val b = s"b$id"
              commit("createBranch")(ManifestTable.createBranch(orders, b))
              commit("mergeMoRBranch")(
                ManifestTable.mergeMoRBranch(spark, orders, b, src, Key, deleteWhen = del))
              commit("fastForward")(ManifestTable.fastForward(orders, b))
          }
          Outcome(ingest = (p("n") * bytesPerRow).toLong)
        case "deleteWhere" =>
          // the key window also as Conditions, so stats prune the scan
          commit("deleteWhere")(ManifestTable.deleteWhere(spark, orders,
            inRange(p("lo"), p("n")), scopeConds = window(p("lo"), p("n"))))
          Outcome()
        case "compact" =>
          commit("compactDeletes")(ManifestTable.compactDeletes(spark, orders))
          commit("compactIncremental")(
            ManifestTable.compactIncremental(spark, orders, CompactTarget))
          Outcome()
        case "read" =>
          val df = t.span("readWhere", "snapshot")(
            ManifestTable.readWhere(spark, orders, window(p("lo"), p("n"))))
          h.collect(df, extra = () => if (t.on) h.scanFacts(df) else Map.empty)
      }
    }
  }

  private def window(lo: Long, n: Long) = Seq(
    Condition("o_orderkey", Op.Gte, lo), Condition("o_orderkey", Op.Lt, lo + n))

  private def inRange(lo: Long, n: Long): Column =
    col("o_orderkey") >= lo && col("o_orderkey") < lo + n

  /** Orders rows for keys lo, lo+stride, … (n of them); `salt` varies
    * the price so repeated upserts of one key change it. */
  private def rows(lo: Long, n: Long, stride: Long, salt: Long): DataFrame =
    spark.range(n).select(orderCols(lit(lo) + col("id") * stride, salt): _*)

  /** Upserts of the keys lo, lo+stride, … (n of them), every
    * `delMod`-th a tombstone. Only existing keys, so a merge's files
    * stay inside the key range of one seed file. */
  private def upserts(lo: Long, n: Long, stride: Long, delMod: Long, salt: Long): DataFrame =
    spark.range(n).select((lit(lo) + col("id") * stride).as("k"),
      when(col("id") % delMod === delMod - 1, "D").otherwise("U").as("op"))
      .select(orderCols(col("k"), salt) :+ col("op"): _*)

  def finish(out: String): Unit = {
    ManifestTable.read(spark, orders).write.parquet(s"$out/final/orders")
    ManifestTable.read(spark, log).write.parquet(s"$out/final/order_log")
    sink.dump(out)
  }
}

object CommitMix {
  val Key = Seq("o_orderkey")
  /** Below the seed files' size: compaction packs the small delta files
    * and leaves the sixteen seed files alone. */
  val CompactTarget: Long = 128L * 1024
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The row formulas `oracle.py` mirrors in SQL. */
  def orderCols(k: Column, salt: Long): Seq[Column] = Seq(
    k.as("o_orderkey"),
    ((k * 7919) % 15000).as("o_custkey"),
    when(k % 3 === 0, "F").when(k % 3 === 1, "O").otherwise("P").as("o_orderstatus"),
    (((k * 104729 + salt * 31) % 49900000 + 100000).cast("double") / 100.0)
      .as("o_totalprice"),
    date_add(lit(java.sql.Date.valueOf("1994-01-01")), (k % 2400).cast("int"))
      .as("o_orderdate"),
    element_at(array(Priorities.map(lit): _*), (k % 5 + 1).cast("int"))
      .as("o_orderpriority"))
}
