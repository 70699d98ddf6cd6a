package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.fs.LocalFs
import graft.functions.Formatters

/** Sink surface (SURVEY.md §2.1 S6–S10): the reference's archive/email
  * fan-out re-expressed as Spark writes.
  *
  *  - S9 archive sink: the reference copies artifacts into
  *    `{client}/{address}/` directories (app.py:107-119) — that directory
  *    layout *is* a partitioned write: `partitionBy(client, address)` gives
  *    the same tree; a client's read-back lists and reads its own directory
  *    only. The write goes through the engine's fork-free local filesystem
  *    ([[graft.fs.LocalFs]]), so a `file:` archive starts no `chmod`
  *    process per file and directory.
  *  - S10 email sink: side-effecting per-record delivery with
  *    skip-if-unconfigured (app.py:131-133) — `foreachPartition` with one
  *    client per partition (the executor-resource pattern; never per row).
  *  - S6/S8 letter/artifact delivery: format-honest since round 17 — each
  *    valid letter renders into a REAL binary `.docx` container
  *    ([[graft.pipeline.Letter.renderedDocx]], built by the hand-written
  *    OOXML codec exactly like the reference's per-record docx emit,
  *    report_generator.py:88-89) riding the archive tree next to the
  *    `letter_text` plane; q163 oracle-checks the parse-back round-trip.
  *
  * These are exercised by `SinksSpec` (they produce files/effects, not rows —
  * not part of the oracle query surface, per SURVEY §7.4 risk 5).
  */
object Sinks {

  /** S9: archive the rendered letters partitioned by client — sanitized
    * partition values, idempotent overwrite-by-key (dynamic partition
    * overwrite), exactly the reference's re-generation semantics. Written
    * through [[graft.fs.LocalFs]]: on a `file:` archive the stock local
    * filesystem starts a `chmod` process for every file and directory it
    * creates, several per client directory.
    */
  def archiveLetters(letters: DataFrame, outDir: String): Unit =
    letters
      .withColumn("client_dir", Formatters.sanitizeName(col("client_name")))
      .write
      .options(LocalFs.conf)
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("client_dir")
      .parquet(outDir)

  /** Read-back of one client's archive: only `<outDir>/client_dir=<value>`
    * is listed and read (`basePath` keeps `client_dir` a column), so the
    * cost does not grow with the number of archived clients — a read of the
    * whole archive lists every sibling directory, through a job of its own
    * once there are more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` of them. A
    * client with no letters has no directory and falls back to the filtered
    * whole-archive read (an empty frame with the archive's schema), as does
    * a value whose partition type would not infer as a string on its own (a
    * numeric-looking name).
    */
  def readClientArchive(spark: SparkSession, outDir: String, client: String): DataFrame = {
    val clientDir = Formatters.sanitizeName(lit(client))
    def wholeArchive = spark.read.parquet(outDir).filter(col("client_dir") === clientDir)
    // the partition value, folded on the driver from the analyzed form of the
    // writer's own expression (one definition of the sanitizer)
    val value = Option(spark.range(1).select(clientDir).queryExecution.analyzed
      .expressions.head.eval()).map(_.toString).filter(_.nonEmpty)
    val partDir = value.map(v => new Path(outDir,
      ExternalCatalogUtils.getPartitionPathString("client_dir", v)))
    val exists = partDir.exists { p =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!exists) wholeArchive
    else {
      val one = spark.read.option("basePath", outDir).parquet(partDir.get.toString)
      if (one.schema("client_dir").dataType != StringType) wholeArchive
      else one.filter(col("client_dir") === clientDir)
    }
  }

  /** A pluggable per-record delivery transport (the SMTP boundary). */
  trait Transport extends Serializable {
    def send(recipient: String, subject: String, body: String): Unit
  }

  /** S7: the external-process render step run for real — the engine form of
    * the reference's `soffice --convert-to pdf` subprocess
    * (report_generator.py:92-103, one conversion process per document).
    *
    * Executor-side fork/exec: each row's `letter_text` is piped through
    * `command` stdin→stdout and the converted bytes come back as a binary
    * column next to the exit code (the reference's convert-failure channel,
    * report_generator.py:101-103 — a non-zero exit keeps the row, flagged,
    * rather than failing the job).
    *
    * Scale shape: the fork happens on the executor inside `mapPartitions`,
    * so conversion parallelism == partition parallelism and the driver never
    * sees a payload. One process per *record* mirrors the reference (soffice
    * cannot batch); a converter that can stream many documents per process
    * would hoist the `ProcessBuilder.start()` to once-per-partition, exactly
    * like the delivery transport above. A writer thread feeds stdin while the
    * task thread drains stdout — the standard guard against the pipe-buffer
    * deadlock when the child emits output before consuming all input. Stderr
    * is discarded at the OS level: a converter that logs per-document
    * warnings (soffice does) would otherwise fill the ~64 KB pipe buffer and
    * block, leaving the stdout drain waiting forever.
    */
  def renderExternal(letters: DataFrame, command: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BinaryType, IntegerType}
    // Pass-through shape: converted bytes stay ATTACHED to the document row
    // (all input columns + rendered + exit_code), so the downstream archive
    // write needs no join back to recover client/filename keys — the whole
    // render→convert→archive chain stays one narrow partition-local pass.
    val outSchema = letters.schema.add("rendered", BinaryType)
      .add("exit_code", IntegerType, nullable = false)
    val textIdx = letters.schema.fieldIndex("letter_text")
    letters.mapPartitions { rows =>
      rows.map { r =>
        val text = r.getString(textIdx)
        val proc = new ProcessBuilder(command: _*)
          .redirectError(ProcessBuilder.Redirect.DISCARD)
          .start()
        val stdin = proc.getOutputStream
        val writer = new Thread(() =>
          try { stdin.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }
          catch { case _: java.io.IOException => () } // child may exit without reading
          finally { try stdin.close() catch { case _: java.io.IOException => () } })
        writer.setDaemon(true)
        writer.start()
        val rendered = proc.getInputStream.readAllBytes()
        writer.join()
        val exit = proc.waitFor()
        Row.fromSeq(r.toSeq :+ rendered :+ exit)
      }
    }(Encoders.row(outSchema))
  }

  /** S10: side-effecting delivery sink. One transport per *partition*
    * (the reference's never-per-request session, crs_ui_bot.py:57-70);
    * config-gated no-op when unconfigured (app.py:131-133).
    */
  def deliverLetters(letters: DataFrame, transport: Option[Transport]): Long =
    transport match {
      case None => 0L // skip-if-unconfigured: archive-only partial success
      case Some(t) =>
        val count = letters.sparkSession.sparkContext.longAccumulator("letters_sent")
        letters.select(col("client_name"), col("pdf_filename"), col("letter_text"))
          .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
            // per-partition transport setup would go here (lazy connection)
            rows.foreach { r =>
              t.send(r.getString(0), r.getString(1), r.getString(2))
              count.add(1)
            }
          }
        count.value
    }
}
