package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side metadata parquet path (round-6 optimization) must be
  * byte-compatible with the Spark-written layout it replaced, in BOTH
  * directions: Spark reads MetaParquet files as the same table, and
  * MetaParquet reads Spark-written files from pre-existing stores. */
class MetaParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("metaparquet-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("checkpoint: driver-written commits round-trip through Spark and MetaParquet") {
    val dir = tmp("meta_ckpt")
    val p = s"$dir/_checkpoint"
    MetaParquet.appendCommit(p, conf, 0L, 300L, "fp0", "2026-01-01T00:00:00Z")
    MetaParquet.appendCommit(p, conf, 1L, 200L, "compaction:0", "2026-01-02T00:00:00Z")

    // Spark sees the same table (schema names + values) the old writer produced
    val viaSpark = spark.read.parquet(p)
      .selectExpr("run_id", "doc_count", "source_fingerprint", "committed_at")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(viaSpark.toSeq == Seq(
      (0L, 300L, "fp0", "2026-01-01T00:00:00Z"),
      (1L, 200L, "compaction:0", "2026-01-02T00:00:00Z")))

    // the driver-side reader agrees
    assert(MetaParquet.readCheckpoint(p, conf).sortBy(_._1).toSeq ==
      Seq((0L, "fp0"), (1L, "compaction:0")))
  }

  test("checkpoint: MetaParquet reads Spark-written files (pre-existing stores)") {
    val dir = tmp("meta_ckpt_spark")
    val p = s"$dir/_checkpoint"
    val s = spark; import s.implicits._
    Seq((7L, 42L, "sparkfp", "2026-01-03T00:00:00Z"))
      .toDF("run_id", "doc_count", "source_fingerprint", "committed_at")
      .write.mode("append").parquet(p)
    MetaParquet.appendCommit(p, conf, 8L, 1L, "mixed", "2026-01-04T00:00:00Z")
    assert(MetaParquet.readCheckpoint(p, conf).sortBy(_._1).toSeq ==
      Seq((7L, "sparkfp"), (8L, "mixed")))
    // missing dir reads as empty, not an error
    assert(MetaParquet.readCheckpoint(s"$dir/absent", conf).isEmpty)
  }

  test("a crash mid-write leaves only an invisible temp orphan, never a truncated table") {
    val dir = tmp("meta_crash")
    val p = s"$dir/_checkpoint"
    MetaParquet.appendCommit(p, conf, 0L, 10L, "fp", "2026-01-01T00:00:00Z")
    // simulate the crash window: a dot-prefixed .tmp with a truncated
    // (footer-less) body, exactly what a killed writer leaves behind
    java.nio.file.Files.write(
      java.nio.file.Paths.get(p, ".part-dead.parquet.tmp"), Array[Byte](80, 65, 82))
    // both readers skip it; the committed record is intact
    assert(MetaParquet.readCheckpoint(p, conf).toSeq == Seq((0L, "fp")))
    assert(spark.read.parquet(p).count() == 1)
    // and a successful write leaves no temp files at all
    val names = new java.io.File(p).listFiles().map(_.getName).toSeq
    assert(names.count(_.endsWith(".tmp")) == 1) // only the planted orphan
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 1)
  }

  test("retired: append accumulates and interops with Spark-written rows") {
    val dir = tmp("meta_retired")
    val p = s"$dir/_retired"
    val s = spark; import s.implicits._
    Seq(0L).toDF("run_id").write.mode("append").parquet(p)
    MetaParquet.appendRetired(p, conf, Seq(1L, 2L))
    assert(MetaParquet.readRetired(p, conf) == Set(0L, 1L, 2L))
    assert(spark.read.parquet(p).collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
  }

  test("hot_hosts: nullable est_fraction and the empty-table schema survive") {
    val dir = tmp("meta_hosts")
    val p0 = s"$dir/hot_hosts/run_id=0"
    MetaParquet.writeHotHosts(p0, conf, Seq(
      ExtractJob.HotHostRow(0L, "a.example.com", 0.25, salted = true),
      ExtractJob.HotHostRow(0L, "b.example.com", null, salted = false)))
    // overwrite semantics: a second write replaces, never appends
    MetaParquet.writeHotHosts(p0, conf, Seq(
      ExtractJob.HotHostRow(0L, "a.example.com", 0.25, salted = true),
      ExtractJob.HotHostRow(0L, "b.example.com", null, salted = false)))
    val rows = spark.read.parquet(p0)
      .selectExpr("run_id", "host", "est_fraction", "salted")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)),
        r.getBoolean(3)))
      .sortBy(_._2)
    assert(rows.toSeq == Seq(
      (0L, "a.example.com", java.lang.Double.valueOf(0.25), true),
      (0L, "b.example.com", null, false)))

    // empty audit table keeps a readable schema (static-list-free runs)
    val p1 = s"$dir/hot_hosts/run_id=1"
    MetaParquet.writeHotHosts(p1, conf, Seq.empty)
    val empty = spark.read.parquet(p1)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("run_id", "host", "est_fraction", "salted"))
    // and the multi-run union read (readHotHosts' shape) still resolves
    assert(spark.read.parquet(p0, p1).count() == 2)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val all = java.nio.file.Files.walk(from)
    try all.forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally all.close()
  }

  private def fileSchema(dir: String) = {
    val f = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), conf))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  test("lineage: MetaParquet-written, Spark-written and mixed stores read back identically") {
    val meta = tmp("meta_lineage")
    ExtractJob.run(spark, Corpus.pages(spark, 200), meta)
    ExtractJob.run(spark, Corpus.pages(spark, 300), meta)
    // the same runs with lineage written the way Spark wrote it before:
    // all runs (an old store), and only run 1 (a store that spans the change)
    def sparkWritten(runs: Seq[Int]): String = {
      val d = tmp("spark_lineage")
      copyTree(java.nio.file.Paths.get(meta), java.nio.file.Paths.get(d))
      runs.foreach { id =>
        ExtractJob.lineageAgg(spark.read.parquet(s"$d/extracted/run_id=$id"))
          .write.mode("overwrite").parquet(s"$d/lineage/run_id=$id")
      }
      d
    }
    val old = sparkWritten(Seq(0, 1))
    val mixed = sparkWritten(Seq(1))
    assert(new java.io.File(s"$old/lineage/run_id=0/_SUCCESS").exists) // really Spark's
    assert(fileSchema(s"$meta/lineage/run_id=0").getFields ==
      fileSchema(s"$old/lineage/run_id=0").getFields)
    def read(d: String) = {
      val df = ExtractJob.readLineage(spark, d)
      (df.schema, df.collect().map(_.toSeq).sortBy(r => (r(1).toString, r(0).toString)).toSeq)
    }
    val want = read(meta)
    assert(want._2.map(_(1).asInstanceOf[Long]).sum == 300)
    assert(read(old) == want)
    assert(read(mixed) == want)
    assert(spark.read.parquet(s"$meta/lineage/run_id=1").schema ==
      spark.read.parquet(s"$old/lineage/run_id=1").schema)
  }

  test("lineage: a zero-row run still has a schema") {
    val p = s"${tmp("meta_lineage_empty")}/lineage/run_id=0"
    MetaParquet.writeLineage(p, conf, Seq.empty)
    val df = spark.read.parquet(p)
    assert(df.count() == 0)
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      ExtractJob.LineageSchema.map(f => (f.name, f.dataType)))
  }

  test("lineage: a crash mid-write leaves only a hidden temp file") {
    val p = s"${tmp("meta_lineage_crash")}/lineage/run_id=0"
    val schema = ExtractJob.LineageSchema
    val good = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](0, 5L, 100L, 80L, 4L, 1L, 0L, 0L, 0L), schema)
    // a row without the taxonomy columns fails after the first row is written
    val broken = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](1, 5L), org.apache.spark.sql.types.StructType(schema.take(2)))
    intercept[IllegalArgumentException](MetaParquet.writeLineage(p, conf, Seq(good, broken)))
    val names = new java.io.File(p).listFiles().map(_.getName).toSeq
    // the temp file (and its checksum) only: nothing a reader lists
    assert(names.forall(_.startsWith(".")) && names.count(_.endsWith(".parquet.tmp")) == 1, names)
    assert(spark.read.schema(schema).parquet(p).count() == 0)
  }

  test("a metadata dir with a visible subdirectory fails loudly; hidden ones are skipped") {
    val dir = tmp("meta_nested")
    val p = s"$dir/_checkpoint"
    MetaParquet.appendCommit(p, conf, 0L, 10L, "fp", "2026-01-01T00:00:00Z")
    MetaParquet.appendCommit(s"$p/_temporary", conf, 9L, 1L, "fp", "2026-01-01T00:00:00Z")
    assert(MetaParquet.readCheckpoint(p, conf).toSeq == Seq((0L, "fp")))
    // e.g. a commit record written with partitionBy: reading on as if the
    // dir were flat would hide run 1, and nextRunId would hand it out again
    MetaParquet.appendCommit(s"$p/run_id=1", conf, 1L, 10L, "fp", "2026-01-01T00:00:00Z")
    val e = intercept[java.io.IOException](MetaParquet.readCheckpoint(p, conf))
    assert(e.getMessage.contains("run_id=1"))
    intercept[java.io.IOException](new ParquetCheckpointStore(spark, dir).nextRunId())
  }

  test("commit requires a source fingerprint") {
    val dir = tmp("meta_nullfp")
    val store = new ParquetCheckpointStore(spark, dir)
    intercept[IllegalArgumentException](store.commit(0L, 1L, null))
    assert(!new java.io.File(s"$dir/_checkpoint").exists)
    store.commit(0L, 1L, "fp")
    assert(new ParquetCheckpointStore(spark, dir).committedRunIds() == Seq(0L))
  }
}
