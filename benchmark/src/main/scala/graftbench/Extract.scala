package graftbench

import graft.spark.{Corpus, ExtractJob, ExtractPipeline, ParquetCheckpointStore}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The committed-extraction workloads: `ExtractJob.run` with the
  * production-default `PipelineConfig` over a generated web-pages table.
  *
  * Cold: every run starts from an empty output directory, so the kernel,
  * the host-salt exchange and the write do the work. Resume: every run
  * starts from a copy of a committed output that already covers all urls
  * but the ~5% whose hash is 0 mod 20, so the work is reading committed
  * output (the resume anti-join), the hot-host sampling pass over the
  * pending frame, a small write and the driver-side commit. */
final class ExtractWorkload(spark: SparkSession, work: Path, seed: Long, resume: Boolean) {
  import ExtractWorkload._

  private val pagesPath = work.resolve("pages").toString
  private val keyPath = work.resolve("key").toString
  private val templatePath = work.resolve("template")
  private var templateDocs = 0L
  private var units = 0

  def pages: DataFrame = spark.read.parquet(pagesPath)
  def pendingDocs: Long = Docs - templateDocs

  /** Writes the pages table and its answer key (url, expected text,
    * expected failure) from one `FixtureGen` pass; the engine only ever
    * reads the pages table back. Returns the seconds it took. */
  def generate(): Double = Timed {
    val parts = spark.sparkContext.defaultParallelism * 2
    val all = Corpus.pagesWithExpected(spark, Docs, seed, parts).persist()
    all.select("url", "warc_ts", "html", "text", "lang").write.mode("overwrite").parquet(pagesPath)
    all.select("url", "expected_text", "expected_failure").write.mode("overwrite").parquet(keyPath)
    all.unpersist()
  }.wallS

  /** Commits the ~95% of urls a resuming run skips; runs once per process. */
  def buildTemplate(): Double = Timed {
    if (resume) {
      val r = ExtractJob.run(spark, pages.filter(pmod(xxhash64(col("url")), lit(20)) =!= 0),
        templatePath.toString)
      templateDocs = r.docs
    }
  }.wallS

  /** JIT and code-generation warm-up: untimed units, each run and checked
    * like a timed one, until at least `WarmUpRuns` of them and
    * `WarmUpSeconds` have passed. Their checks count like those of timed
    * units. */
  def warmUp(): Seq[UnitResult] = {
    val t0 = System.nanoTime()
    val warm = ArrayBuffer[UnitResult]()
    while (warm.length < WarmUpRuns || (System.nanoTime() - t0) / 1e9 < WarmUpSeconds) {
      val out = prepare()
      try warm += unit(out, None) finally release(out)
    }
    warm.toVector
  }

  /** A fresh output directory for the next timed run: empty, or a copy of
    * the committed template (untimed). */
  def prepare(): Path = {
    units += 1
    val out = work.resolve(s"out-$units")
    Fs.delete(out)
    if (resume) Fs.copyTree(templatePath, out)
    out
  }

  /** One timed `ExtractJob.run`, then (untimed) its answer-key check. */
  def unit(out: Path, tracer: Option[Tracer]): UnitResult = {
    val timed = Timed {
      tracer match {
        case Some(t) => t.span("extract_job.run", units)(ExtractJob.run(spark, pages, out.toString))
        case None => ExtractJob.run(spark, pages, out.toString)
      }
    }
    val problems = verify(out, timed.value.docs)
    problems.foreach(p => System.err.println(s"[bench] correctness: $p"))
    UnitResult(timed.value.runId, timed.wallS, timed.cpuS, timed.gcS, timed.load1, timed.stealS,
      timed.value.docs, problems.isEmpty)
  }

  /** The answer key, read once (after the last generation) and held in
    * memory partitioned by url as the check's join is, so a check shuffles
    * only the committed output. */
  private lazy val key: DataFrame = {
    val k = spark.read.parquet(keyPath)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("url"))
      .persist(StorageLevel.MEMORY_ONLY)
    k.count()
    k
  }

  /** Every url exactly once, text and failure class byte-equal to the
    * answer key, and the committed doc count equal to the pending count. */
  def verify(out: Path, committed: Long): Seq[String] = {
    val got = ExtractJob.readExtracted(spark, out.toString).select(
      col("url").as("got_url"), col("text"), col("failure"))
    val r = key.join(got, key("url") === got("got_url"), "full_outer").agg(
      sum(when(col("got_url").isNull, 1L).otherwise(0L)),
      sum(when(col("url").isNull, 1L).otherwise(0L)),
      sum(when(col("url").isNotNull && col("got_url").isNotNull &&
        (col("text") =!= col("expected_text") || col("failure") =!= col("expected_failure")), 1L)
        .otherwise(0L))).first()
    val written = ExtractJob.readLineage(spark, out.toString)
      .agg(coalesce(sum("doc_count"), lit(0L))).first().getLong(0)
    Seq(
      (r.getLong(0) != 0L) -> s"${r.getLong(0)} urls missing from the committed output",
      (r.getLong(1) != 0L) -> s"${r.getLong(1)} committed urls not in the input",
      (r.getLong(2) != 0L) -> s"${r.getLong(2)} urls whose text or failure differs from the answer key",
      (written != Docs) -> s"$written rows committed across runs for $Docs urls",
      (committed != pendingDocs) -> s"run committed $committed docs, $pendingDocs were pending"
    ).collect { case (true, msg) => msg }
  }

  def release(out: Path): Unit = Fs.delete(out)

  /** The frame the kernel sees in a timed run: all pages when cold, the
    * pending ones when resuming from `out`. */
  def kernelInput(out: Path): DataFrame =
    new ParquetCheckpointStore(spark, out.toString).committedUrls() match {
      case Some(done) => pages.join(done, Seq("url"), "left_anti")
      case None => pages
    }
}

object ExtractWorkload {
  /** Pages per generated table. */
  val Docs = 60000L
  /** Untimed units before the first timed one: with fewer, the JIT is
    * still compiling the run and its check during the timed units, which
    * then drift down unit by unit. A resume unit is short, so it takes
    * more of them (about five) to fill `WarmUpSeconds`. */
  val WarmUpRuns = 3
  val WarmUpSeconds = 10.0
}

/** Per-layer numbers of the extraction path, measured from outside: calls
  * into `ExtractPipeline`'s public functions, the listener's view of the
  * jobs a traced `ExtractJob.run` submitted (attributed by call site), the
  * files it wrote, and `ParquetCheckpointStore`'s public methods timed on a
  * copy of a committed output. */
object ExtractLayers {

  /** `pipeline.*` over the frame the kernel sees, and `core.*` over a
    * sample of its documents (the encoder residual subtracts the kernel). */
  def pipeline(spark: SparkSession, tracer: Tracer, input: DataFrame): Map[String, Metric] = {
    val cfg = ExtractPipeline.PipelineConfig()
    val docs = input.count().toDouble
    val hot = Timed(tracer.span("pipeline.hot_hosts", 0)(ExtractPipeline.hotHostEstimates(spark, input, cfg)))
    val resolved = cfg.copy(staticHotHosts = Some(hot.value.map(_._1).toSet))
    val scan = Timed(tracer.span("pipeline.scan", 0)(
      input.select(sum(length(col("html")))).collect()))
    val noExchange = Timed(tracer.span("pipeline.noexchange", 0)(
      ExtractPipeline.extract(spark, input, resolved.copy(repartitionByHost = false))
        .toDF().agg(sum("n_chars")).collect()))
    val exSpan = tracer.span("pipeline.exchange", 0)(Timed(
      ExtractPipeline.extract(spark, input, resolved).toDF().agg(sum("n_chars")).collect()))
    val exchangeSpan = tracer.named("pipeline.exchange").last
    val reduceTasks = tracer.stagesIn(exchangeSpan).filter(_.shuffleRead > 0).flatMap(_.taskMs)
    val sample = CoreChain.profile(sampleDocs(input))
    val kernelUs = sample("core.extract.us_per_doc").value
    sample ++ Map(
      "pipeline.scan.s" -> Metric(scan.wallS, "s"),
      "pipeline.scan.cpu_s" -> Metric(scan.cpuS, "s"),
      "pipeline.noexchange.s" -> Metric(noExchange.wallS, "s"),
      "pipeline.exchange.s" -> Metric(exSpan.wallS, "s"),
      "pipeline.exchange.shuffle_bytes" -> Metric(tracer.totals(exchangeSpan).shuffleWrite.toDouble, "bytes"),
      "pipeline.exchange.max_task_s" -> Metric(if (reduceTasks.isEmpty) 0.0 else reduceTasks.max / 1e3, "s"),
      "pipeline.exchange.median_task_s" ->
        Metric(if (reduceTasks.isEmpty) 0.0 else Stats.median(reduceTasks.map(_.toDouble)) / 1e3, "s"),
      // what the typed boundary costs beyond scanning and the kernel itself
      "pipeline.encoder.cpu_us_per_doc" ->
        Metric((noExchange.cpuS - scan.cpuS) * 1e6 / docs - kernelUs, "us"),
      "pipeline.hot_hosts.s" -> Metric(hot.wallS, "s"),
      "pipeline.hot_hosts.found" -> Metric(hot.value.length.toDouble, "count"))
  }

  private val SampleDocs = 4000

  private def sampleDocs(input: DataFrame): Seq[CoreChain.Doc] =
    input.select(col("url"), col("html"), coalesce(col("lang"), lit("")))
      .orderBy("url").limit(SampleDocs).collect().toSeq
      .map(r => CoreChain.Doc(r.getString(0), r.getAs[Array[Byte]](1), r.getString(2)))

  /** `extract_job.*` from the traced `ExtractJob.run` spans. Jobs whose
    * call stack passes through `hotHostEstimates` are the sampling pass;
    * jobs submitted by a `DataFrameWriter` from `ExtractJob.run` are
    * grouped by the source line that submitted them: the first line is the
    * extracted write, the next the lineage write (which reads the former). */
  def job(tracer: Tracer, runs: Seq[Span], written: Seq[(Long, Long, Long)]): Map[String, Metric] = {
    val perRun = runs.map { run =>
      val jobs = tracer.jobsIn(run)
      val hot = jobs.filter(_.callSite.contains("hotHostEstimates"))
      val writes = jobs.filter(_.callSite.linesIterator.take(1).exists(_.contains("DataFrameWriter")))
      val lines = writes.map(j => runLine(j.callSite)).filter(_ > 0).distinct.sorted
      def at(line: Option[Int]): Seq[JobRec] = writes.filter(j => line.contains(runLine(j.callSite)))
      def secs(js: Seq[JobRec]): Double = intervalUnion(js) / 1e3
      val write = at(lines.headOption)
      val lineage = at(lines.drop(1).headOption)
      val c = tracer.totals(run)
      Map(
        "extract_job.write.s" -> secs(write),
        "extract_job.lineage.s" -> secs(lineage),
        "extract_job.hot_hosts.s" -> secs(hot),
        "extract_job.driver_gap_s" -> (run.seconds - secs(jobs)),
        "extract_job.spark_jobs" -> c.jobs.toDouble,
        "extract_job.spark_stages" -> c.stages.toDouble,
        "extract_job.spark_tasks" -> c.tasks.toDouble)
    }
    val units = Map("extract_job.spark_jobs" -> "count", "extract_job.spark_stages" -> "count",
      "extract_job.spark_tasks" -> "count").withDefaultValue("s")
    perRun.head.keys.map(k => k -> Metric(Stats.median(perRun.map(_(k))), units(k))).toMap ++ Map(
      "extract_job.write.files" -> Metric(Stats.median(written.map(_._1.toDouble)), "count"),
      "extract_job.write.bytes" -> Metric(Stats.median(written.map(_._2.toDouble)), "bytes"),
      "extract_job.write.max_file_bytes" -> Metric(Stats.median(written.map(_._3.toDouble)), "bytes"))
  }

  private val RunFrame = """graft\.spark\.ExtractJob\$\.run\(ExtractJob\.scala:(\d+)\)""".r

  private def runLine(callSite: String): Int =
    RunFrame.findFirstMatchIn(callSite).map(_.group(1).toInt).getOrElse(-1)

  /** Milliseconds covered by at least one of the jobs' wall intervals. */
  private def intervalUnion(jobs: Seq[JobRec]): Long = {
    var covered = 0L
    var end = Long.MinValue
    jobs.filter(_.end >= 0).sortBy(_.start).foreach { j =>
      if (j.start > end) { covered += j.end - j.start; end = j.end }
      else if (j.end > end) { covered += j.end - end; end = j.end }
    }
    covered
  }

  /** `checkpoint.*`: the store's public methods, each timed on a fresh
    * store over a copy of a committed output (median of `reps`). */
  def checkpoint(spark: SparkSession, committed: Path, scratch: Path, reps: Int = 5): Map[String, Metric] = {
    val samples = (1 to reps).map { i =>
      val copy = scratch.resolve(s"checkpoint-$i")
      Fs.copyTree(committed, copy)
      val store = new ParquetCheckpointStore(spark, copy.toString)
      val next = Timed(store.nextRunId())
      val urls = Timed(store.committedUrls())
      val commit = Timed(store.commit(next.value, 0L, "benchmark"))
      Fs.delete(copy)
      (next.wallS, urls.wallS, commit.wallS)
    }
    Map(
      "checkpoint.next_run_id.s" -> Metric(Stats.median(samples.map(_._1)), "s"),
      "checkpoint.committed_urls.s" -> Metric(Stats.median(samples.map(_._2)), "s"),
      "checkpoint.commit.s" -> Metric(Stats.median(samples.map(_._3)), "s"))
  }

  def writtenFiles(out: Path, runId: Long): (Long, Long, Long) =
    Fs.dataFiles(out.resolve(s"extracted/run_id=$runId"))
}

final case class UnitResult(
    runId: Long, wallS: Double, cpuS: Double, gcS: Double, load1: Double, stealS: Double, docs: Long,
    ok: Boolean) {
  def effectiveCores: Double = cpuS / wallS
}
