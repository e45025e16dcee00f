package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM: one Spark session at local[<cores>], one workload,
  * a closed loop of timed units on the driver thread.
  *
  * Arguments: --workload extract_cold|extract_resume --seed N --seconds S
  * --trace 0|1 --work DIR --trace-dir DIR, and with --trace 1 also
  * --query-sf DIR: the small query tables the query layer is timed on.
  *
  * Prints one `RESULT` line: the JSON object the harness reports. */
object Main {
  private val MaxUnits = 40

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = Paths.get(o("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchmark-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - start) / 1e9
    val result =
      try workload match {
        case "extract_cold" => extract(spark, work, seed, seconds, traced, resume = false, sessionS, o)
        case "extract_resume" => extract(spark, work, seed, seconds, traced, resume = true, sessionS, o)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    println("RESULT\t" + result)
  }

  private def phase(msg: String): Unit = System.err.println(s"[bench] set-up: $msg")

  private def log(kind: String, i: Int, u: UnitResult, otherS: Double, jitMs: Long): Unit =
    System.err.println(
      f"""[bench] {"unit":"$kind","i":$i,"run_s":${u.wallS}%.4f,"cpu_s":${u.cpuS}%.3f,"gc_s":${u.gcS}%.3f,""" +
        f""""load1":${u.load1}%.2f,"steal_s":${u.stealS}%.2f,"effective_cores":${u.effectiveCores}%.3f,""" +
        f""""ok":${u.ok},"untimed_s":$otherS%.3f,"jit_ms":$jitMs}""")

  /** Timed units until `seconds` of timed work (at least `min` units). */
  private def loop(kind: String, seconds: Double, min: Int)(unit: => UnitResult): Seq[UnitResult] = {
    val units = ArrayBuffer[UnitResult]()
    while (units.length < MaxUnits && (units.length < min || units.map(_.wallS).sum < seconds)) {
      val t0 = System.nanoTime()
      val j0 = Proc.jitMs
      val u = unit
      log(kind, units.length, u, (System.nanoTime() - t0) / 1e9 - u.wallS, Proc.jitMs - j0)
      units += u
    }
    units.toVector
  }

  private def endToEnd(units: Seq[UnitResult], inputDocs: Long, setupS: Double): Map[String, Metric] = Map(
    "setup_s" -> Metric(setupS, "s"),
    "run_s" -> Metric(Stats.median(units.map(_.wallS)), "s"),
    "docs_per_s" -> Metric(Stats.median(units.map(u => u.docs / u.wallS)), "1/s"),
    "cpu_s" -> Metric(Stats.median(units.map(_.cpuS)), "s"),
    "cpu_us_per_doc" -> Metric(Stats.median(units.map(_.cpuS * 1e6 / inputDocs)), "us"),
    "peak_rss_mb" -> Metric(Proc.peakRssMb, "MB"))

  /** Whole-workload scheduler counters, per traced run (median), and the
    * JVM's collector seconds per traced run (mean: in local mode executors
    * share the driver's JVM, and a short run often sees no collection at
    * all, which task metrics then report as 0). */
  private def scheduler(tracer: Tracer, runs: Seq[Span], traced: Seq[UnitResult]): Map[String, Metric] = {
    val per = runs.map { span =>
      val c = tracer.totals(span)
      Seq(
        "spark.jobs" -> (c.jobs.toDouble, "count"),
        "spark.stages" -> (c.stages.toDouble, "count"),
        "spark.tasks" -> (c.tasks.toDouble, "count"),
        "spark.task_failures" -> (c.taskFailures.toDouble, "count"),
        "spark.executor_cpu_s" -> (c.executorCpuNs / 1e9, "s"),
        "spark.executor_run_s" -> (c.executorRunMs / 1e3, "s"),
        "spark.scheduler_wait_s" -> (c.schedulerWaitMs / 1e3, "s"),
        "spark.shuffle_read_bytes" -> (c.shuffleRead.toDouble, "bytes"),
        "spark.shuffle_write_bytes" -> (c.shuffleWrite.toDouble, "bytes"),
        "spark.spill_bytes" -> (c.spill.toDouble, "bytes"),
        "spark.input_bytes" -> (c.inputBytes.toDouble, "bytes"),
        "spark.output_bytes" -> (c.outputBytes.toDouble, "bytes"),
        "spark.effective_cores" -> (c.executorCpuNs / 1e9 / span.seconds, "cores"))
    }
    per.head.map { case (k, (_, unit)) =>
      k -> Metric(Stats.median(per.map(_.find(_._1 == k).get._2._1)), unit)
    }.toMap + ("spark.gc_s" -> Metric(traced.map(_.gcS).sum / traced.length, "s"))
  }

  private def result(correct: Boolean, attempted: Long, failed: Long, metrics: Map[String, Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        s"""${Json.str(k)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}"""
      }.mkString("{", ", ", "}}")

  private def extract(spark: SparkSession, work: Path, seed: Long, seconds: Double, traced: Boolean,
      resume: Boolean, sessionS: Double, o: Map[String, String]): String = {
    val w = new ExtractWorkload(spark, work, seed, resume)
    val gens = (1 to 3).map(_ => w.generate())
    val templateS = w.buildTemplate()
    val warm = Timed(w.warmUp())
    phase(f"session $sessionS%.2f s, inputs ${gens.mkString(" ")} s, template $templateS%.2f s, " +
      f"warm-up ${warm.wallS}%.2f s (${warm.value.length} units)")
    val setupS = sessionS + Stats.median(gens) + templateS + warm.wallS
    // a traced run's untraced units only give trace.overhead_ratio its base,
    // so they take the same share of the run as the traced ones
    val units = loop("run", if (traced) seconds / 2 else seconds, 3) {
      val out = w.prepare()
      try w.unit(out, None) finally w.release(out)
    }
    val attempted = (warm.value ++ units).length.toLong
    val failed = (warm.value ++ units).count(!_.ok).toLong
    if (!traced)
      return result(failed == 0, attempted, failed, endToEnd(units, ExtractWorkload.Docs, setupS))

    val tracer = new Tracer(spark.sparkContext)
    val written = ArrayBuffer[(Long, Long, Long)]()
    var out: Path = null
    val tracedUnits = loop("traced_run", seconds / 2, 2) {
      if (out != null) w.release(out)
      out = w.prepare()
      val u = w.unit(out, Some(tracer))
      written += ExtractLayers.writtenFiles(out, u.runId)
      u
    }
    val runs = tracer.named("extract_job.run")
    val checkpoint = ExtractLayers.checkpoint(spark, out, work)
    w.release(out)
    val input = w.prepare()
    val pipeline = try ExtractLayers.pipeline(spark, tracer, w.kernelInput(input)) finally w.release(input)
    val layers = checkpoint ++ pipeline ++ ExtractLayers.job(tracer, runs, written.toSeq) ++
      scheduler(tracer, runs, tracedUnits) ++ overhead(units, tracedUnits)
    val (queries, qAttempted, qFailed) = QueryLayer.measure(spark, tracer, o("query-sf"))
    finishTrace(tracer, o)
    val allFailed = failed + tracedUnits.count(!_.ok) + qFailed
    result(allFailed == 0, attempted + tracedUnits.length + qAttempted, allFailed, layers ++ queries)
  }

  private def overhead(untraced: Seq[UnitResult], traced: Seq[UnitResult]): Map[String, Metric] =
    Map("trace.overhead_ratio" ->
      Metric(Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS)), "ratio"))

  private def finishTrace(tracer: Tracer, o: Map[String, String]): Unit = {
    val dir = Paths.get(o("trace-dir"))
    Files.createDirectories(dir)
    tracer.writeTo(dir.resolve(s"spans-${o("workload")}-seed${o("seed")}.jsonl"))
  }
}
