package graft.bench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.conditions.{Condition, Op}
import graft.sources.{BloomIndex, ManifestTable}

/** lake_reads: read-only SQL over the star schema, loaded at set-up as
  * graft catalog tables with a declared join materialized view, a
  * Bloom-indexed customer table and three historical versions of orders.
  * The SQL text comes from the plan with `{table}` placeholders, so
  * `oracle.py` runs the very same statements in DuckDB. Traced runs also
  * time the curation queries of [[Curation]] after the measured phase. */
final class LakeReads(h: Harness) extends Workload(h) {
  private var ns = ""
  private var ingest = 0L
  private val warehouse = s"${h.out}/work/wh"
  private val curation = new Curation(h)

  def tableDirs: Seq[String] = Seq(s"$warehouse/run", s"${h.out}/work/run/corpus")
  def loadIngest: Long = ingest
  /** Live snapshot bytes of the catalog tables, plus the corpus files
    * (plain parquet, all live). */
  def liveBytes(files: Map[String, Long]): Long =
    Seq("region", "nation", "customer", "orders", "lineitem", "ofact", "cdim", "jv")
      .map(t => Harness.liveBytes(s"$warehouse/run/$t", files)).sum +
      files.collect { case (p, n) if p.startsWith(curation.dataDir + "/") => n }.sum

  override def readOnly: Boolean = true

  /** One cold and one warm curation cycle, timed as wholes. */
  override def cycles(): Unit = {
    SparkEntry.clearSharedCaches()
    (0 until 2 * curation.cycleSize).foreach(i => curation.step(100000 + i))
  }

  private var inputs = ""

  private def src(name: String): String = {
    val p = s"$inputs/$name.parquet"
    ingest += Files.size(Paths.get(p))
    s"parquet.`$p`"
  }

  def load(work: String, role: String): Unit = {
    ns = role
    inputs = s"${h.in}/data"
    ingest = 0L
    val t = s"graft.$ns"
    def sql(s: String): Unit = spark.sql(s).collect()
    sql(s"CREATE NAMESPACE $t")
    sql(s"CREATE TABLE $t.region AS SELECT * FROM ${src("region")}")
    sql(s"CREATE TABLE $t.nation AS SELECT * FROM ${src("nation")}")
    // customers hash-scattered by name, so min/max stats cannot prune a
    // key lookup and the Bloom sidecars do the work
    sql(s"CREATE TABLE $t.customer AS SELECT /*+ REPARTITION(8, c_name) */ * " +
      s"FROM ${src("customer")}")
    BloomIndex.build(spark, s"$warehouse/$ns/customer", Seq("c_custkey"))
    sql(s"CREATE TABLE $t.lineitem AS SELECT /*+ REPARTITION_BY_RANGE(8, l_orderkey) */ * " +
      s"FROM ${src("lineitem")}")
    // three versions: each adds one residue class of the order keys
    val orders = src("orders")
    sql(s"CREATE TABLE $t.orders AS SELECT /*+ REPARTITION_BY_RANGE(4, o_orderkey) */ * " +
      s"FROM $orders WHERE o_orderkey % 3 = 0")
    Seq(1, 2).foreach(r => sql(s"INSERT INTO $t.orders SELECT " +
      s"/*+ REPARTITION_BY_RANGE(4, o_orderkey) */ * FROM $orders WHERE o_orderkey % 3 = $r"))
    sql(s"CREATE TABLE $t.ofact (k BIGINT, ck BIGINT, price DOUBLE) " +
      "TBLPROPERTIES ('merge.keys'='k')")
    sql(s"CREATE TABLE $t.cdim (ck BIGINT, seg STRING) TBLPROPERTIES ('merge.keys'='ck')")
    sql(s"INSERT INTO $t.ofact SELECT o_orderkey, o_custkey, o_totalprice " +
      s"FROM ${src("orders")}")
    sql(s"INSERT INTO $t.cdim SELECT c_custkey, c_mktsegment FROM ${src("customer")}")
    sql(s"CREATE MATERIALIZED VIEW $t.jv AS SELECT ck, k, price, seg " +
      s"FROM $t.ofact JOIN $t.cdim USING (ck)")
    ingest += curation.load(work, s"${h.in}/data_corpus")
  }

  def warmUp(): Unit = h.plan("warm_ops").asInstanceOf[List[Map[String, Any]]].foreach(step)

  def step(o: Map[String, Any]): OpRec = {
    val id = o("id").asInstanceOf[BigInt].toInt
    val kind = o("op").toString
    val t = h.tracer
    h.timed(id, kind) {
      if (kind == "bloom") {
        val keys = o("keys").asInstanceOf[List[BigInt]].map(_.toLong)
        val df = t.span("readWhereBloom", "snapshot")(ManifestTable.readWhereBloom(
          spark, s"$warehouse/$ns/customer", Seq(Condition("c_custkey", Op.In, keys))))
          .select("c_custkey", "c_name", "c_acctbal")
        h.collect(df, extra = () => if (t.on) h.scanFacts(df) else Map.empty)
      } else {
        val text = LakeReads.bind(o("sql").toString, ns, o.get("version"))
        val df = t.span("sql", "plan")(spark.sql(text))
        h.collect(df, extra = () => if (!t.on) Map.empty else {
          val f = h.scanFacts(df)
          f + ("mv_hit" -> f("roots").asInstanceOf[Seq[String]].exists(_.endsWith("/jv")))
        })
      }
    }
  }

  def finish(out: String): Unit = curation.dumpOracles(out)
}

object LakeReads {
  /** `{name}` → the catalog table; `{orders_v}` → orders at the op's version. */
  def bind(sql: String, ns: String, version: Option[Any]): String = {
    val v = version.map(_.toString).getOrElse("")
    "\\{(\\w+)\\}".r.replaceAllIn(sql, m =>
      if (m.group(1) == "orders_v") s"graft.$ns.orders VERSION AS OF $v"
      else s"graft.$ns.${m.group(1)}")
  }
}
