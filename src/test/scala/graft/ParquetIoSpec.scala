package org.apache.spark.sql.graft {

  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.mapreduce.TaskAttemptID
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.types.StructType

  /** The reference staged-file writer: Spark's own `ParquetOutputWriter`
    * over a full Hadoop conf and the raw local filesystem, configured
    * with the same pinned keys as [[ParquetRowWriter]]. */
  object ReferenceParquetWriter {
    def write(file: String, schema: StructType, codec: String,
        rows: Seq[InternalRow]): Unit = {
      val conf = new Configuration()
      conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
      ParquetWriteSupport.setSchema(schema, conf)
      Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
        SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
        SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
        SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)
        .foreach(e => conf.set(e.key, e.defaultValueString))
      conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      conf.set("parquet.compression",
        if (codec == "none") "uncompressed" else codec)
      conf.set("fs.file.impl",
        classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      val w = new ParquetOutputWriter(file,
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      rows.foreach(w.write)
      w.close()
    }
  }
}

package graft {

  import java.nio.file.{Files, Path, Paths}

  import scala.collection.mutable.ArrayBuffer
  import scala.jdk.CollectionConverters._

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.graft.{ParquetRowWriter, ReferenceParquetWriter}

  import graft.sources.ManifestTable

  /** The staged-file I/O invariants: graft's java.nio parquet writer
    * produces the bytes Spark's Hadoop-based `ParquetOutputWriter` does,
    * footers read through java.nio harvest the stats the Hadoop reader
    * gives, every staging job ships a non-lambda task function (Spark's
    * ClosureCleaner skips it without parsing any class), and staging
    * writes nothing through a Hadoop `FileSystem`. */
  class ParquetIoSpec extends SparkSpecBase {

    private def tmp(): Path = Files.createTempDirectory("graft-pio-")

    /** Every type the manifest harvests stats for, nulls included. */
    private def typed(n: Int): DataFrame = spark.range(n).select(
      col("id").cast("int").as("i"),
      (col("id") * 7919L - 1000L).as("l"),
      (col("id").cast("float") / 3f).as("f"),
      (col("id").cast("double") * 1.5 - 7.25).as("d"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(concat(lit("s"), (col("id") % 97).cast("string"))).as("s"),
      expr("date_add(DATE'2020-01-01', CAST(id % 400 AS INT))").as("dt"),
      expr("timestamp_micros(1600000000000000 + id * 1000003)").as("ts"),
      (col("id") / 100).cast("decimal(12,2)").as("dec_small"),
      (col("id") * 1000003L / 7).cast("decimal(30,5)").as("dec_big"),
      lit(null).cast("int").as("all_null"))

    private def rowsOf(df: DataFrame): Seq[InternalRow] =
      df.queryExecution.toRdd.map(_.copy()).collect().toSeq

    test("the java.nio writer's files are byte-identical to ParquetOutputWriter's") {
      val dir = tmp()
      for (n <- Seq(0, 40, 3000); codec <- Seq("snappy", "zstd", "gzip", "none")) {
        val df = typed(n).coalesce(1)
        val rows = rowsOf(df)
        val ref = dir.resolve(s"ref-$n-$codec.parquet")
        val nio = dir.resolve(s"nio-$n-$codec.parquet")
        ReferenceParquetWriter.write(ref.toString, df.schema, codec, rows)
        val w = ParquetRowWriter.open(nio.toString, df.schema, Some(codec))
        rows.foreach(w.write)
        w.close()
        assert(w.rowCount == n)
        assert(java.util.Arrays.equals(Files.readAllBytes(ref),
          Files.readAllBytes(nio)), s"$n rows, codec $codec: bytes differ")
      }
    }

    test("footers read through java.nio harvest exactly what the Hadoop reader gives") {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val path = tmp().resolve("t").toString
      ManifestTable.append(typed(2500).repartition(3), path)
      val files = ManifestTable.dataFiles(path)
      assert(files.size == 3)
      val harvested = files.map { f =>
        val p = Paths.get(path, "data", f)
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri),
          new org.apache.hadoop.conf.Configuration()))
        val viaHadoop = try ManifestTable.harvestFooter(r.getFooter)
          finally r.close()
        val viaNio = ManifestTable.harvestFooter(ManifestTable.footerOf(p))
        assert(viaNio == viaHadoop, s"harvest of $f differs")
        viaNio
      }
      assert(harvested.map(_._2).sum == 2500L)
      // every harvestable column carries stats (all_null as its tag)
      assert(harvested.forall(_._1.keySet ==
        Set("i", "l", "f", "d", "s", "dt", "ts", "dec_small", "dec_big", "all_null")))
    }

    /** The four staging jobs: plain, PARTITIONED BY, bucketed, delete files. */
    private def stageAll(): Unit = {
      val wh = tmp().toString
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE NAMESPACE graft.p")
      s2.sql("CREATE TABLE graft.p.part (k BIGINT, g STRING) PARTITIONED BY (g)")
      s2.sql("CREATE TABLE graft.p.buck (k BIGINT, g STRING) PARTITIONED BY (bucket(4, k))")
      val rows = s2.range(60).select(col("id").as("k"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("g"))
      ManifestTable.append(rows, s"$wh/p/part")
      // the roll writer: one partition value per file
      assert(ManifestTable.read(s2, s"$wh/p/part")
        .groupBy(input_file_name()).agg(countDistinct(col("g")).as("n"))
        .where(col("n") =!= 1).isEmpty)
      ManifestTable.append(rows, s"$wh/p/buck")
      val bucketFiles = ManifestTable.dataFiles(s"$wh/p/buck")
      assert(bucketFiles.nonEmpty && bucketFiles.forall(_.matches("b[0-3]-.*")))
      // every row sits in the file named by its own bucket id
      val byFile = ManifestTable.read(s2, s"$wh/p/buck")
        .select(col("k"), input_file_name().as("f"),
          pmod(xxhash64(col("k")), lit(4L)).as("b")).collect()
      assert(byFile.length == 60)
      byFile.foreach(r => assert(r.getString(1).split('/').last
        .startsWith(s"b${r.getLong(2)}-"), r))
      val plain = s"$wh/plain"
      ManifestTable.append(rows, plain)
      ManifestTable.mergeMoR(s2, plain, rows.where(col("k") < 5), Seq("k"))
      assert(ManifestTable.read(s2, plain).count() == 60)
    }

    test("every staging job ships a named function, so ClosureCleaner parses no class") {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.{LogEvent, Logger}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.{Configurator, Property}
      val name = "org.apache.spark.util.ClosureCleaner"
      val seen = ArrayBuffer.empty[String]
      val app = new AbstractAppender("pio-cc", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = seen.synchronized {
          seen += e.getMessage.getFormattedMessage }
      }
      app.start()
      val logger = LogManager.getLogger(name).asInstanceOf[Logger]
      val level = logger.getLevel
      logger.addAppender(app)
      Configurator.setLevel(name, Level.DEBUG)
      def during(body: => Unit): Seq[String] = {
        seen.synchronized(seen.clear())
        body
        seen.synchronized(seen.toList)
      }
      try {
        // control: a lambda job IS cleaned and logged, naming its class
        val control = during {
          spark.sparkContext.parallelize(1 to 4, 2).mapPartitions(_.map(_ + 1))
            .collect()
        }
        assert(control.exists(_.contains("$anonfun$new$")), control)
        // five staging jobs: PARTITIONED BY, bucketed, plain, and the
        // merge's upserts + delete file; each is skipped as a non-closure
        val staging = during(stageAll())
        assert(staging.count(_ == "Expected a closure; got graft.sources.StageTask")
          == 5, staging.mkString("\n"))
        // and no lambda declared in a staging function is cleaned
        val parsed = staging.filter(_.matches("(?s).*\\$anonfun\\$stage.*"))
        assert(parsed.isEmpty, parsed.mkString("\n"))
      } finally {
        Configurator.setLevel(name, level)
        logger.removeAppender(app)
        app.stop()
      }
    }

    test("a PARTITIONED BY table stages one file per value per task") {
      val wh = tmp().toString
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.part (k BIGINT, g STRING) PARTITIONED BY (g)")
      // 60 rows over 3 values from a 4-partition frame: one staging task
      // (the data-sized count), so one file per value
      val rows = s2.range(0, 60, 1, 4).select(col("id").as("k"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("g"))
      ManifestTable.append(rows, s"$wh/part")
      val files = ManifestTable.dataFiles(s"$wh/part")
      assert(files.size == 3, files)
      val perFile = ManifestTable.read(s2, s"$wh/part")
        .groupBy(input_file_name()).agg(countDistinct(col("g")).as("n"),
          count(lit(1)).as("rows")).collect()
      assert(perFile.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L) &&
        perFile.map(_.getLong(2)).sum == 60L, perFile.toSeq)
    }

    test("a version's schema is Spark's mergeSchema of its footers, " +
        "folded on the driver without a Spark job") {
      val path = tmp().toString + "/t"
      // Spark's inference merges footers in file-path order, and data
      // files are named by random UUIDs, so only the fields (name, type,
      // nullability) are compared with it; the order is checked on its
      // own below: first-seen in manifest order, the same every run
      def merged(p: String) = spark.read.option("mergeSchema", "true")
        .parquet(ManifestTable.dataFiles(p).map(f => s"$p/data/$f"): _*)
        .schema.fields.sortBy(_.name).toSeq
      def folded(p: String) =
        ManifestTable.schemaAt(spark, p).fields.sortBy(_.name).toSeq
      ManifestTable.append(spark.range(0, 10).select(col("id").as("k"),
        lit(1.0).as("v")), path)
      ManifestTable.read(spark, path)
      // an evolved append: the next read opens only the new footer
      ManifestTable.append(spark.range(10, 20).select(col("id").as("k"),
        lit("x").as("note"), lit(2.0).as("v")), path)
      val jobs = JobProbe.jobsOf(spark)(ManifestTable.read(spark, path))
      assert(jobs.isEmpty, s"read after an append started ${jobs.size} jobs")
      assert(folded(path) == merged(path))
      assert(ManifestTable.schemaAt(spark, path).fieldNames.toSeq ==
        Seq("k", "v", "note"), "field order is first-seen")
      // an overwrite that drops a column drops it from the schema
      ManifestTable.overwrite(spark.range(0, 5).select(col("id").as("k")), path)
      assert(folded(path) == merged(path))
      assert(ManifestTable.schemaAt(spark, path).fieldNames.toSeq == Seq("k"))
      // incompatible types still fail loudly
      val bad = tmp().toString + "/b"
      ManifestTable.append(spark.range(0, 3).select(col("id").as("k"),
        lit(1.0).as("v")), bad)
      ManifestTable.append(spark.range(3, 6).select(col("id").as("k"),
        lit("one").as("v")), bad)
      val e = intercept[Exception](ManifestTable.read(spark, bad))
      assert(e.getMessage.toLowerCase.contains("merg"), e.getMessage)
    }

    test("a staged write goes through no Hadoop FileSystem") {
      import org.apache.hadoop.fs.FileSystem
      def written(): (Long, Long) = {
        val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
        (st.map(_.getBytesWritten).sum, st.map(_.getWriteOps.toLong).sum)
      }
      val before = written()
      stageAll()
      assert(written() == before)
    }
  }
}
