package graft.spark

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** What one committed `ExtractJob.run` costs the scheduler, pinned by
  * counts that host noise cannot move: the Spark jobs it submits, and the
  * pieces that keep that number low (no schema-inference jobs, a one-pass
  * hot-host estimate, a committed-url scan sized as a url column). */
class ExtractJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("extract-jobs-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The long call site (top line: the outermost Spark method the caller
    * invoked) of every job `f` submits. */
  private def jobsOf[A](f: => A): (A, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      ListenerBusDrain(spark.sparkContext)
      (r, sites.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def inference(sites: Seq[String]): Seq[String] =
    sites.filter(_.linesIterator.take(1).exists(_.contains("DataFrameReader")))

  test("one ExtractJob.run submits 6 Spark jobs cold and 8 resuming, none for schema inference") {
    val in = tmp("graft_jobs_in")
    val out = tmp("graft_jobs_out")
    try {
      // a parquet input like production's (an in-memory source plans differently)
      Corpus.pages(spark, 400).write.mode("overwrite").parquet(s"$in/all")
      Corpus.pages(spark, 300).write.mode("overwrite").parquet(s"$in/first")
      val first = spark.read.parquet(s"$in/first")
      val all = spark.read.parquet(s"$in/all")
      // cold: hot-host sample (aggregate, top-k collect), extract+write
      // (exchange, write), lineage (aggregate, collect)
      val (cold, coldJobs) = jobsOf(ExtractJob.run(spark, first, out))
      assert(cold.newDocs == 300)
      assert(inference(coldJobs).isEmpty, inference(coldJobs).mkString("\n---\n"))
      assert(coldJobs.length == 6, coldJobs.map(_.linesIterator.take(2).mkString(" | ")).mkString("\n"))
      // resuming: the committed-url broadcast of the anti-join runs once
      // under the hot-host sample and once under the write
      val (resumed, resumeJobs) = jobsOf(ExtractJob.run(spark, all, out))
      assert(resumed.newDocs == 100)
      assert(inference(resumeJobs).isEmpty, inference(resumeJobs).mkString("\n---\n"))
      assert(resumeJobs.length == 8, resumeJobs.map(_.linesIterator.take(2).mkString(" | ")).mkString("\n"))
    } finally {
      graft.FsUtil.deleteRecursively(new java.io.File(in))
      graft.FsUtil.deleteRecursively(new java.io.File(out))
    }
  }

  test("reading a store back submits no schema-inference job") {
    val out = tmp("graft_jobs_read")
    try {
      ExtractJob.run(spark, Corpus.pages(spark, 200), out)
      ExtractJob.run(spark, Corpus.pages(spark, 300), out)
      val (_, jobs) = jobsOf {
        ExtractJob.readExtracted(spark, out)
        ExtractJob.readLineage(spark, out)
        new ParquetCheckpointStore(spark, out).committedUrls()
      }
      assert(jobs.isEmpty, jobs.mkString("\n---\n"))
      // and the schemas graft passes are the ones the files carry
      assert(ExtractJob.readExtracted(spark, out).schema ==
        spark.read.parquet(s"$out/extracted/run_id=0").schema)
      assert(ExtractJob.readLineage(spark, out).schema ==
        spark.read.parquet(s"$out/lineage/run_id=0").schema)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(out))
  }

  test("committed urls are sized as one column of the extracted files, not all of them") {
    val out = tmp("graft_jobs_size")
    try {
      ExtractJob.run(spark, Corpus.pages(spark, 300), out)
      val fileBytes = new java.io.File(s"$out/extracted/run_id=0").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val sized = new ParquetCheckpointStore(spark, out).committedUrls().get
        .queryExecution.optimizedPlan.stats.sizeInBytes
      // a url-only read schema sizes the scan at exactly fileBytes, which
      // at scale turns the resume anti-join into a shuffle of every page
      assert(sized < BigInt(fileBytes), s"committed urls sized $sized of $fileBytes file bytes")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(out))
  }

  /** `hotHostEstimates` as it was computed before the one-pass rewrite: a
    * broadcast cross join of the host counts against their own total. */
  private def crossJoinEstimates(
      pages: DataFrame, cfg: ExtractPipeline.PipelineConfig): Seq[(String, Double)] = {
    val s = spark; import s.implicits._
    if (cfg.hotHostFraction >= 1.0) return Seq.empty
    val maxRows = cfg.maxSampleRows
    val counts = pages.select("url")
      .sample(withReplacement = false, cfg.sampleFraction, seed = 42)
      .as[String]
      .mapPartitions { it =>
        it.take(math.max(1,
          maxRows / math.max(1, org.apache.spark.TaskContext.get().numPartitions())))
      }
      .toDF("url")
      .select(ExtractPipeline.hostCol(col("url")).as("host"))
      .groupBy("host").count()
    val total = broadcast(counts.agg(sum("count").as("_total")))
    counts.crossJoin(total)
      .filter(col("count") > col("_total") * cfg.hotHostFraction)
      .select(col("host"), (col("count") / col("_total")).as("est_fraction"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
  }

  test("hotHostEstimates returns exactly the rows of the cross-join formula") {
    val s = spark; import s.implicits._
    def urls(host: String, n: Int) = (0 until n).map(i => s"https://$host/p$i")
    // a long tail under a few heavy hosts
    val skewed = ((0 until 40).flatMap(h => urls(s"tail-$h.example.org", 1 + h % 7)) ++
      urls("heavy.example.com", 900) ++ urls("mid.example.com", 240) ++
      urls("third.example.net", 170) ++ Seq("not a url", "")).toDF("url").repartition(4)
    // three hosts at exactly 1/3 each, and 30 hosts tied just outside the
    // top ⌈1/0.05⌉ = 20 behind one hot host
    val tiedThirds = (urls("a.example", 50) ++ urls("b.example", 50) ++ urls("c.example", 50))
      .toDF("url").repartition(3)
    val tiedTail = (urls("hot.example", 1000) ++
      (0 until 30).flatMap(h => urls(s"t$h.example", 20))).toDF("url").repartition(4)
    // a giant host only in the last partitions, under a tight sample cap
    val late = (0 until 100).flatMap(h => urls(s"small-$h.example.com", 10)).toDF("url")
      .repartition(4).union(urls("giant.example.com", 3000).toDF("url").repartition(2))
    val empty = Seq.empty[String].toDF("url")
    val inputs = Seq("skewed" -> skewed, "tiedThirds" -> tiedThirds, "tiedTail" -> tiedTail,
      "late" -> late, "empty" -> empty)
    val fractions = Seq(0.0, 0.001, 0.05, 1.0 / 3, 0.5, 0.999, 1.0)
    for ((name, pages) <- inputs; f <- fractions; sampleFraction <- Seq(1.0, 0.3)) {
      val cfg = ExtractPipeline.PipelineConfig(hotHostFraction = f, sampleFraction = sampleFraction,
        maxSampleRows = if (name == "late") 200 else 100000)
      val want = crossJoinEstimates(pages, cfg)
      val got = ExtractPipeline.hotHostEstimates(spark, pages, cfg)
      assert(got == want, s"$name f=$f sample=$sampleFraction")
    }
    // the cases are not vacuous
    val cfg = ExtractPipeline.PipelineConfig(sampleFraction = 1.0, hotHostFraction = 0.05)
    assert(ExtractPipeline.hotHostEstimates(spark, tiedTail, cfg).map(_._1) == Seq("hot.example"))
    assert(ExtractPipeline.hotHostEstimates(spark, skewed, cfg).map(_._1) ==
      Seq("heavy.example.com", "mid.example.com", "third.example.net"))
  }

  test("hotHostEstimates runs one aggregation: two jobs where the cross join took four") {
    val pages = Corpus.pages(spark, 400)
    val cfg = ExtractPipeline.PipelineConfig(sampleFraction = 1.0)
    val (_, oldJobs) = jobsOf(crossJoinEstimates(pages, cfg))
    val (hot, newJobs) = jobsOf(ExtractPipeline.hotHostEstimates(spark, pages, cfg))
    assert(hot.map(_._1) == Seq("hot.example.com"))
    assert(oldJobs.length == 4 && newJobs.length == 2,
      s"cross join ${oldJobs.length} jobs, one pass ${newJobs.length}")
  }
}
