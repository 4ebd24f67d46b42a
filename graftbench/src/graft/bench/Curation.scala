package graft.bench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** The curation part of lake_reads: declared `SparkEntry.queries` of the
  * dedup, textual, similarity and graph families over a document and
  * embedding corpus. A `curation` operation runs the next query of the
  * seeded cycles; traced runs time two cycles right after SparkEntry's
  * shared caches are cleared, so the first is cold and the second warm. */
final class Curation(h: Harness) {
  private var dir = ""
  private var next = 0
  private val seen = scala.collection.mutable.Set.empty[String]
  private val families: Map[String, String] =
    h.plan("families").asInstanceOf[Map[String, List[String]]]
      .toSeq.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
  private val cycles = h.plan("cycles").asInstanceOf[List[List[String]]].toIndexedSeq
  private val size = cycles.head.size

  /** Loads the corpus from `src` as parquet datasets under `work`;
    * returns the bytes ingested. */
  def load(work: String, src: String): Long = {
    dir = s"$work/corpus"
    next = 0
    seen.clear()
    Seq("documents", "embeddings").map { t =>
      h.spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$dir/$t.parquet")
      Files.size(Paths.get(s"$src/$t.parquet"))
    }.sum
  }

  def dataDir: String = dir
  def cycleSize: Int = size

  def step(id: Int): OpRec = {
    val cycle = next / size
    val name = cycles(cycle % cycles.size)(next % size)
    next += 1
    val first = h.phase != "w" && seen.add(name)
    h.timed(id, "curation") {
      val df = SparkEntry.queries(name)(h.spark, dir)
      h.collect(df, keep = first, extra = () =>
        Map("query" -> name, "family" -> families(name), "cycle" -> cycle))
    }
  }

  def dumpOracles(out: String): Unit =
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.value(SparkEntry.oracleSql.filter { case (k, _) => families.contains(k) }))
}
