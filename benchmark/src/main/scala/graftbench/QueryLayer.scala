package graftbench

import graft.SparkEntry
import graft.spark.{Corpus, ProductionPipeline}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The `SparkEntry` / `ProductionPipeline` query layer, measured on small
  * generated query tables: one traced lap of every `SparkEntry.queries`
  * entry, `.count()`-ed in name order (a query fails when it throws), and
  * one `ProductionPipeline.run` whose `onStage` hook reports the x33 stage
  * seconds, called the way the x33 query calls it. */
object QueryLayer {
  val Names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  private val JobCounted =
    Seq("x24_staged_funnel", "x33_production_pipeline", "x34_hot_hosts", "x35_streaming_neardup")

  /** (metrics, queries attempted, queries failed). */
  def measure(spark: SparkSession, tracer: Tracer, sfDir: String): (Map[String, Metric], Int, Int) = {
    val seconds = Names.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { tracer.span(s"query.$name", 0)(fn(spark, sfDir).count()); true }
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] query $name threw: $e")
            false
        }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    val stages = ArrayBuffer[(String, Double)]()
    tracer.span("x33.stages", 0)(
      ProductionPipeline.run(spark, math.min(Corpus.docsForSf(sfDir), 2000L),
        onStage = (label, secs) => stages += label -> secs).count())
    val jobs = JobCounted.map { name =>
      s"query.$name.jobs" -> Metric(tracer.totals(tracer.named(s"query.$name").last).jobs.toDouble, "count")
    }
    val x33 = stages.groupBy(_._1).map { case (label, xs) =>
      s"x33.stage.${label.replace('+', '_')}.s" -> Metric(xs.map(_._2).sum, "s")
    }
    val metrics = seconds.map { case (name, s, _) => s"query.$name.s" -> Metric(s, "s") }.toMap ++ jobs ++ x33
    (metrics, seconds.length, seconds.count(!_._3))
  }
}
