package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("Spark job output byte-identical to answer key (t2 gate, distributed)") {
    val n = 800L
    val extracted = ExtractPipeline.extract(spark, Corpus.pages(spark, n))
    val expected = Corpus.pagesWithExpected(spark, n)
      .select(col("url"), col("expected_text"), col("expected_failure"))
    val bad = extracted.toDF().join(expected, Seq("url"), "full_outer")
      .filter(col("text").isNull || col("expected_text").isNull ||
        col("text") =!= col("expected_text") || col("failure") =!= col("expected_failure"))
      .count()
    assert(bad == 0)
    assert(extracted.count() == n)
  }

  test("physical plan: single exchange, pruned columns, salted keys") {
    val plan = ExtractPipeline.extract(spark, Corpus.pages(spark, 100))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, s"expected 1 exchange:\n$plan")
    assert(plan.contains("hashpartitioning(host"))
    // the plan is UDF-free up to the kernel boundary: host derivation is
    // native parse_url (VERDICT r2 #5), so the only non-codegen operator is
    // the MapPartitions kernel itself
    assert(!plan.contains("UDF"), s"ScalaUDF leaked into the extraction plan:\n$plan")
    assert(plan.contains("ParseUrlEvaluator") || plan.contains("parse_url"),
      s"expected native parse_url host key:\n$plan")
  }

  test("diagnostics side-output reconciles with extracted block counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_diag").toString
    ExtractJob.run(spark, Corpus.pages(spark, 200), dir, withDiagnostics = true)
    val diag = spark.read.parquet(s"$dir/diagnostics/run_id=0")
    assert(diag.count() > 0)
    // per url: kept diagnostic rows == the extracted row's n_blocks
    // (HTML branch only — PDFs have no classifier, hence no diag rows)
    val kept = diag.filter(org.apache.spark.sql.functions.col("kept"))
      .groupBy("url").count()
    val ex = spark.read.parquet(s"$dir/extracted/run_id=0")
      .select("url", "n_blocks")
    val bad = kept.join(ex, Seq("url"))
      .filter(org.apache.spark.sql.functions.col("count") =!=
        org.apache.spark.sql.functions.col("n_blocks")).count()
    assert(bad == 0)
  }

  test("run + resume: second run over a superset processes only new urls") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job").toString
    val r1 = ExtractJob.run(spark, Corpus.pages(spark, 300), dir)
    assert(r1.runId == 0 && r1.newDocs == 300)
    // superset: same 300 plus 200 more (same seed → same first 300 urls)
    val r2 = ExtractJob.run(spark, Corpus.pages(spark, 500), dir)
    assert(r2.runId == 1 && r2.newDocs == 200, s"got ${r2.newDocs}")
    val all = ExtractJob.readExtracted(spark, dir)
    assert(all.count() == 500)
    // rerun with no new input: zero new docs, still 500 total (idempotence)
    val r3 = ExtractJob.run(spark, Corpus.pages(spark, 500), dir)
    assert(r3.newDocs == 0)
    assert(ExtractJob.readExtracted(spark, dir).count() == 500)
  }

  test("crash recovery: an orphan UNCOMMITTED run is ignored and its urls redone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    // simulate a job that died after writing data but before the checkpoint
    // commit: data exists under run_id=0, no _checkpoint record
    ExtractPipeline.extract(spark, Corpus.pages(spark, 100)).toDF()
      .withColumn("partition_id", spark_partition_id())
      .write.parquet(s"$dir/extracted/run_id=0")
    assert(ExtractJob.readExtracted(spark, dir).count() == 0) // invisible
    val r = ExtractJob.run(spark, Corpus.pages(spark, 100), dir)
    assert(r.newDocs == 100) // all redone — nothing was committed
    assert(ExtractJob.readExtracted(spark, dir).count() == 100)
  }

  test("lineage rows cover all docs with taxonomy counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    ExtractJob.run(spark, Corpus.pages(spark, 400), dir)
    val lin = ExtractJob.readLineage(spark, dir)
    val agg = lin.agg(
      sum("doc_count").as("docs"),
      sum("n_ok").as("ok"),
      sum("n_empty").as("empty"),
      sum("n_unsupported").as("uns")).collect()(0)
    assert(agg.getLong(0) == 400)
    assert(agg.getLong(1) > 300) // ~86% ok
    assert(agg.getLong(0) == agg.getLong(1) + agg.getLong(2) + agg.getLong(3))
  }

  test("hotHosts: per-partition sampling finds a hot host clustered in LATE partitions (round-4)") {
    val s = spark; import s.implicits._
    // host-clustered layout (what a host-bucketed table looks like): 100
    // small hosts in the FIRST partitions, the giant host in the LAST.
    // The old global limit(maxSampleRows) consumed partitions in index
    // order and never saw the giant; the per-partition cap must.
    val small = (0 until 100).flatMap(h => (0 until 10).map(i =>
      s"https://small-$h.example.com/p$i")).toDF("url").repartition(4)
    val hot = (0 until 3000).map(i => s"https://giant.example.com/p$i")
      .toDF("url").repartition(2)
    val pages = small.union(hot) // union preserves child partition order
    val cfg = ExtractPipeline.PipelineConfig(
      sampleFraction = 1.0, maxSampleRows = 200, hotHostFraction = 0.3)
    val found = ExtractPipeline.hotHosts(spark, pages, cfg)
    assert(found.contains("giant.example.com"),
      s"late-partition hot host missed: $found")
    assert(!found.exists(_.startsWith("small-")), s"small host flagged hot: $found")
  }

  test("saltBuckets <= 1 disables salting instead of ANSI divide-by-zero (round-4)") {
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 4, saltBuckets = 0,
      staticHotHosts = Some(Set("hot.example.com")))
    // old code: pmod(xxhash64(url), 0) -> SparkArithmeticException under ANSI
    val n = ExtractPipeline.extract(spark, Corpus.pages(spark, 300), cfg).count()
    assert(n == 300)
  }

  test("run writes a salting audit: estimated hot hosts with fraction, static list with null") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hh").toString
    try {
      // run 0: estimation path at sampleFraction 1.0 (exact census) —
      // hot.example.com carries ~30% of fixtures by construction
      ExtractJob.run(spark, Corpus.pages(spark, 300), dir,
        ExtractPipeline.PipelineConfig(sampleFraction = 1.0))
      // run 1: static operator list, salting disabled
      ExtractJob.run(spark, Corpus.pages(spark, 400), dir,
        ExtractPipeline.PipelineConfig(saltBuckets = 1,
          staticHotHosts = Some(Set("hot.example.com"))))
      val rows = ExtractJob.readHotHosts(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(rows.map(x => (x._1, x._2)) == Seq((0L, "hot.example.com"), (1L, "hot.example.com")),
        s"rows=$rows")
      val est = rows.head._3
      assert(est.exists(f => f > 0.2 && f < 0.4), s"estimated fraction off: $est")
      assert(rows.head._4, "estimation run with saltBuckets > 1 must report salted=true")
      assert(rows(1)._3.isEmpty, "static hosts carry no estimate")
      assert(!rows(1)._4, "saltBuckets <= 1 must report salted=false")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("hot-host salting spreads the skewed host over multiple partitions") {
    val pages = Corpus.pages(spark, 2000)
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 8, saltBuckets = 8,
      sampleFraction = 1.0)
    val parts = ExtractPipeline.extract(spark, pages, cfg)
      .filter(col("url").contains("hot.example.com"))
      .select(spark_partition_id().as("pid")).distinct().count()
    assert(parts >= 4, s"hot host landed on only $parts partitions")
  }

  test("ExtractJob.run's extracted write: one hash exchange on (host, salt), kernel map-side below it") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft_salted").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a full-sample estimate finds the ~30% host, so its keys are salted
      ExtractJob.run(spark, Corpus.pages(spark, 400), dir,
        ExtractPipeline.PipelineConfig(sampleFraction = 1.0))
      def extractedWrite = plans.toArray(Array.empty[QueryExecution]).toSeq.filter(_.analyzed match {
        case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString.endsWith("/extracted/run_id=0")
        case _ => false
      })
      val deadline = System.nanoTime() + 30000000000L // listener events arrive asynchronously
      while (extractedWrite.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(extractedWrite.length == 1, s"expected one extracted write, got ${extractedWrite.length}")
      val plan = extractedWrite.head.executedPlan
      val exchanges = Plans.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1, s"expected exactly one exchange:\n$plan")
      val keys = exchanges.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map { case a: Attribute => a.name; case e => e.sql }
        case other => fail(s"exchange is not hash-partitioned: $other\n$plan")
      }
      assert(keys == Seq("host", "salt"), s"exchange keys $keys:\n$plan")
      val kernels = Plans.collect(plan) { case m: MapPartitionsExec => m }
      assert(kernels.length == 1, s"expected one kernel MapPartitions:\n$plan")
      assert(Plans.find(exchanges.head.child)(_ eq kernels.head).isDefined,
        s"the kernel must run map-side, below the exchange:\n$plan")
    } finally {
      spark.listenerManager.unregister(listener)
      graft.FsUtil.deleteRecursively(new java.io.File(dir))
    }
  }
}
