package graft.streaming

import graft.spark.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental extraction as a Structured Streaming job (SURVEY §2.6
  * streaming row): `readStream` over the pages table directory →
  * per-row stateless kernel → exactly-once parquet sink.
  *
  * Extraction needs no event-time state (each page is independent), so the
  * natural trigger is `AvailableNow` — drain whatever has landed since the
  * last checkpoint and stop; the file-source + checkpoint pair gives the
  * same resume semantics as the batch job's snapshot anti-join, with
  * exactly-once output via the file-sink commit log.
  *
  * [[metricsStream]] adds the event-time path for completeness: watermarked
  * sliding-window doc counts per host over `warc_ts` — the streaming
  * equivalent of the batch lineage rows.
  */
/** Accumulated per-host crawl counters (stateful streaming). */
final case class HostState(host: String, docs: Long, bytes: Long)

object StreamingExtract {

  /** input_hint schema (url, warc_ts, html, text, lang). */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Hot-host parity with the batch path (VERDICT r2 #9): a stream cannot
    * run the sampling pre-pass per micro-batch, but an AvailableNow drain
    * CAN derive the hot list ONCE per drain from a bounded BATCH sample of
    * the same input directory (url column only — pruned, sampled, capped
    * exactly like the batch job). A static list still wins when provided;
    * with repartitioning explicitly off, nothing is derived. */
  private def withDerivedHotHosts(
      spark: SparkSession, inDir: String,
      cfg: ExtractPipeline.PipelineConfig): ExtractPipeline.PipelineConfig =
    if (cfg.staticHotHosts.isDefined || !cfg.repartitionByHost) cfg
    else {
      val batch = spark.read.schema(pageSchema).parquet(inDir)
      cfg.copy(staticHotHosts =
        Some(ExtractPipeline.hotHosts(spark, batch, cfg)))
    }

  /** Drain all currently-available input files through the kernel into an
    * exactly-once parquet sink; returns the started query (AvailableNow —
    * it self-terminates). */
  def run(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): StreamingQuery = {
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    val streamCfg = withDerivedHotHosts(spark, inDir, cfg)
    val extracted = ExtractPipeline.extract(spark, pages, streamCfg)
    extracted.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental drain with the BATCH job's full audit surface: every
    * micro-batch writes extracted rows AND per-partition lineage rows in
    * the same layout as [[graft.spark.ExtractJob]] (`extracted/run_id=N`,
    * `lineage/run_id=N`, run_id = streaming batchId), so a streaming
    * deployment answers the same resume/audit queries as the batch path
    * (VERDICT r1 #10 — lineage was previously batch-only).
    *
    * Exactly-once: the checkpoint WAL replays an interrupted batch under
    * the SAME batchId, and the writes are idempotent (overwrite of that
    * run_id directory) — the foreachBatch equivalent of the file-sink
    * commit log. Each batch is also COMMITTED to the `_checkpoint` store
    * (round-4 review: without the commit, the documented reader views
    * `ExtractJob.readExtracted`/`readLineage` found no committed runs and
    * silently returned EMPTY over a fully populated streaming outDir).
    * The commit is replay-safe: an already-committed batchId is skipped,
    * not re-committed (the store's duplicate-commit check throws by
    * design for racing writers — a WAL replay is not a race). A streaming
    * outDir is its own store: do not point batch `ExtractJob.run` at it
    * (batch run ids and stream batch ids share the same numbering). */
  def runWithLineage(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): StreamingQuery = {
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    val streamCfg = withDerivedHotHosts(spark, inDir, cfg)
    val extracted = ExtractPipeline.extract(spark, pages, streamCfg)
    // ONE store instance per drain (the StreamingNearDup pattern): commit()
    // folds each batch's record into the instance cache, so later batches'
    // isCommitted checks don't re-read the checkpoint table they just
    // extended (review finding: a fresh per-batch store re-read it B times)
    val store = new graft.spark.ParquetCheckpointStore(spark, outDir)
    extracted.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.core.ExtractedRow], batchId: Long) =>
        val df = batch.toDF().withColumn("partition_id", spark_partition_id())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the commit's doc count rides the extracted write via observe
          // (round-6: the separate df.count() was one more job per batch)
          val obs = org.apache.spark.sql.Observation(s"extract_batch_$batchId")
          df.observe(obs, count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(s"$outDir/extracted/run_id=$batchId")
          graft.spark.ExtractJob.writeLineage(df, s"$outDir/lineage/run_id=$batchId")
          if (!store.isCommitted(batchId))
            store.commit(batchId, obs.get("n").asInstanceOf[Long], s"stream:batch=$batchId")
        } finally { df.unpersist(false); () }
      }
      .start()
  }

  /** Per-host CUMULATIVE crawl state across incremental drains — the
    * custom-state streaming operator (KeyValueGroupedDataset
    * .mapGroupsWithState): state persists in the checkpointed state store,
    * so a host's totals keep accumulating across AvailableNow runs.
    * (Extraction itself needs no state; this is the lineage-counter flavor
    * a long-running crawl monitor would keep.) */
  def hostStateStream(spark: SparkSession, inDir: String): org.apache.spark.sql.Dataset[HostState] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    pages
      .withColumn("host", ExtractPipeline.hostCol(col("url")))
      // coalesce: a null html row (pageSchema allows it) would NPE the
      // primitive-Long deserializer and permanently brick the checkpointed
      // stream on replay (round-3 review)
      .select(col("host").as[String],
        coalesce(length(col("html")).cast("long"), lit(0L)).as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState[HostState, HostState](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (host: String, rows: Iterator[(String, Long)], state: GroupState[HostState]) =>
          val prev = state.getOption.getOrElse(HostState(host, 0L, 0L))
          var docs = prev.docs
          var bytes = prev.bytes
          rows.foreach { r => docs += 1; bytes += r._2 }
          val next = HostState(host, docs, bytes)
          state.update(next)
          next
      }
  }

  /** Event-time lineage metrics: per-host doc counts in 1-minute windows,
    * 30s watermark for late pages. Returns the aggregated streaming frame
    * (caller picks the sink — tests use memory sink, production appends to
    * the lineage table). */
  def metricsStream(spark: SparkSession, inDir: String): DataFrame = {
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    pages
      .withColumn("host", ExtractPipeline.hostCol(col("url")))
      .withWatermark("warc_ts", "30 seconds")
      .groupBy(window(col("warc_ts"), "1 minute"), col("host"))
      .agg(count(lit(1)).as("docs"), sum(length(col("html"))).as("bytes"))
      .select(col("window.start").as("window_start"), col("host"), col("docs"), col("bytes"))
  }
}
