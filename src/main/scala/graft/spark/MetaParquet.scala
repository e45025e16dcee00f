package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.Row

/** Driver-side parquet I/O for the few-row METADATA tables of the commit
  * protocol (`_checkpoint`, `_retired`, the per-run `hot_hosts` audit and
  * `lineage` rows).
  *
  * Why not Spark (round-6 optimization, guide §5 "the driver should do
  * almost no data work" — and its dual: Spark should do no DRIVER work):
  * these tables are O(runs) rows of O(1) size — the parquet surrogate of
  * Iceberg CATALOG records. Reading one through `spark.read.parquet(...)
  * .collect()` or writing three rows through a LocalTableScan job costs a
  * full scheduler round-trip (~0.1-0.2 s each); one `ExtractJob.run`
  * performs five such metadata operations, so the fixed protocol overhead
  * was dominated by job scheduling, not I/O. On a real cluster each of
  * these is a catalog call, never a distributed job.
  *
  * File-format compatibility is the contract here, in BOTH directions:
  *  - files written by these helpers are plain parquet files inside the
  *    same directories, with the same column names/types Spark used to
  *    write, so `spark.read.parquet` (the x34 audit reader, the lineage
  *    tooling) sees an identical table;
  *  - the readers resolve columns BY NAME from each file's own schema, so
  *    directories containing Spark-written files (pre-existing stores,
  *    mixed histories) read identically.
  * Writes append a uniquely-named `part-<uuid>.parquet` (never clobbering
  * concurrent history); "overwrite" semantics delete the directory first,
  * exactly like the SaveMode.Overwrite they replace. The layout is flat:
  * a metadata dir holding a visible subdirectory fails every read, because
  * skipping it would read the table as partly empty (and a `_checkpoint`
  * read that way would let `nextRunId` hand out a committed id again). */
object MetaParquet {

  private val checkpointSchema: MessageType = MessageTypeParser.parseMessageType(
    """message checkpoint {
      |  required int64 run_id;
      |  required int64 doc_count;
      |  optional binary source_fingerprint (UTF8);
      |  optional binary committed_at (UTF8);
      |}""".stripMargin)

  private val retiredSchema: MessageType = MessageTypeParser.parseMessageType(
    "message retired { required int64 run_id; }")

  // mirrors the Dataset[HotHostRow] parquet schema (String/boxed-Double
  // nullable, primitives required) so multi-run audit reads merge cleanly
  private val hotHostSchema: MessageType = MessageTypeParser.parseMessageType(
    """message hot_hosts {
      |  required int64 run_id;
      |  optional binary host (UTF8);
      |  optional double est_fraction;
      |  required boolean salted;
      |}""".stripMargin)

  // the schema Spark gave the lineage rows (ExtractJob.LineageSchema): the
  // group key read back from parquet is nullable, count() is not, sums are
  private val lineageSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int32 partition_id;
      |  required int64 doc_count;
      |  optional int64 bytes_in;
      |  optional int64 chars_out;
      |  optional int64 n_ok;
      |  optional int64 n_empty;
      |  optional int64 n_unsupported;
      |  optional int64 n_parse_error;
      |  optional int64 n_oversize;
      |}""".stripMargin)

  private def fs(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf)

  /** Crash-atomic file append: the rows are written to a DOT-prefixed temp
    * name (hidden — skipped by [[dataFiles]] AND by Spark's own reader),
    * then renamed to its final `part-<uuid>.parquet` name only after the
    * footer is on disk. A crash mid-write therefore leaves an invisible
    * `.tmp` orphan, never a truncated visible file — the same guarantee
    * the Spark committer's `_temporary` + rename protocol provided for
    * these dirs before (review finding: a direct-at-final-path write
    * would have bricked every later read of the store on a mid-write
    * driver kill). Rename is atomic on HDFS and local fs. */
  private def writeFile(
      dir: String, schema: MessageType, conf: Configuration)(
      rows: SimpleGroupFactory => Iterator[Group]): Unit = {
    val uuid = java.util.UUID.randomUUID
    val tmp = new Path(dir, s".part-$uuid.parquet.tmp")
    val fin = new Path(dir, s"part-$uuid.parquet")
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write)
    finally w.close()
    if (!fs(dir, conf).rename(tmp, fin))
      throw new java.io.IOException(s"rename $tmp -> $fin failed")
  }

  /** Every data file of a metadata dir (skips _SUCCESS and hidden files
    * and dirs, such as a `_temporary` left by a Spark write); empty when
    * the dir does not exist. A visible subdirectory breaks the flat layout
    * and fails loudly. */
  private def dataFiles(dir: String, conf: Configuration): Seq[Path] = {
    val f = fs(dir, conf)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map { st =>
        if (!st.isFile)
          throw new java.io.IOException(
            s"${st.getPath} is a directory: metadata dir $dir must hold only files")
        st.getPath
      }
  }

  private def foreachRow(dir: String, conf: Configuration)(f: Group => Unit): Unit =
    dataFiles(dir, conf).foreach { file =>
      val r = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) { f(g); g = r.read() }
      } finally r.close()
    }

  /** (run_id, source_fingerprint) of every committed run; a missing
    * fingerprint reads as "" (writers never omit it: see
    * [[CheckpointStore.commit]]). */
  def readCheckpoint(dir: String, conf: Configuration): Array[(Long, String)] = {
    val out = Array.newBuilder[(Long, String)]
    foreachRow(dir, conf) { g =>
      val fp =
        if (g.getFieldRepetitionCount("source_fingerprint") > 0)
          g.getString("source_fingerprint", 0)
        else ""
      out += ((g.getLong("run_id", 0), fp))
    }
    out.result()
  }

  def readRetired(dir: String, conf: Configuration): Set[Long] = {
    val out = Set.newBuilder[Long]
    foreachRow(dir, conf)(g => out += g.getLong("run_id", 0))
    out.result()
  }

  /** Append ONE commit record (the store's SaveMode.Append equivalent). */
  def appendCommit(
      dir: String, conf: Configuration,
      runId: Long, docCount: Long, fingerprint: String, committedAt: String): Unit =
    writeFile(dir, checkpointSchema, conf) { f =>
      val g = f.newGroup()
      g.add("run_id", runId)
      g.add("doc_count", docCount)
      g.add("source_fingerprint", fingerprint)
      g.add("committed_at", committedAt)
      Iterator.single(g)
    }

  def appendRetired(dir: String, conf: Configuration, runIds: Seq[Long]): Unit = {
    if (runIds.isEmpty) return
    writeFile(dir, retiredSchema, conf) { f =>
      runIds.iterator.map { id => val g = f.newGroup(); g.add("run_id", id); g }
    }
  }

  /** Replaces `dir` with one file of `rows` — written even when empty, so
    * readers see a stable schema for every committed run (the
    * SaveMode.Overwrite + empty-Dataset contract it replaces). */
  private def overwriteFile(
      dir: String, schema: MessageType, conf: Configuration)(
      rows: SimpleGroupFactory => Iterator[Group]): Unit = {
    val f = fs(dir, conf)
    val p = new Path(dir)
    if (f.exists(p)) f.delete(p, true)
    writeFile(dir, schema, conf)(rows)
  }

  /** Overwrite the per-run salting-audit table. */
  def writeHotHosts(
      dir: String, conf: Configuration, rows: Seq[ExtractJob.HotHostRow]): Unit =
    overwriteFile(dir, hotHostSchema, conf) { gf =>
      rows.iterator.map { r =>
        val g = gf.newGroup()
        g.add("run_id", r.run_id)
        if (r.host != null) g.add("host", r.host)
        if (r.est_fraction != null) g.add("est_fraction", r.est_fraction.doubleValue)
        g.add("salted", r.salted)
        g
      }
    }

  /** Overwrite a run's lineage table with the collected rows of
    * [[ExtractJob.lineageAgg]], read by column name. */
  def writeLineage(dir: String, conf: Configuration, rows: Seq[Row]): Unit =
    overwriteFile(dir, lineageSchema, conf) { gf =>
      rows.iterator.map { r =>
        val g = gf.newGroup()
        if (!r.isNullAt(r.fieldIndex("partition_id")))
          g.add("partition_id", r.getAs[Int]("partition_id"))
        (1 until lineageSchema.getFieldCount).foreach { i =>
          val name = lineageSchema.getFieldName(i)
          if (!r.isNullAt(r.fieldIndex(name))) g.add(name, r.getAs[Long](name))
        }
        g
      }
    }
}
