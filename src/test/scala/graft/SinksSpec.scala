package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Letter, Sinks}

/** Sink surface (S6–S10): partitioned archive write with pruned read-back,
  * side-effecting delivery with the skip-if-unconfigured gate.
  */
class SinksSpec extends SparkSpec {

  test("archive sink partitions by sanitized client and prunes on read-back") {
    val out = java.nio.file.Files.createTempDirectory("graft_archive").toString
    val letters = Letter.letters(spark, sf001)
    Sinks.archiveLetters(letters, out)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("client_dir=")))
    assert(dirs.forall(!_.contains(" ")), "partition values are sanitized")

    val firstClient = letters.select(col("client_name")).limit(1).collect()(0).getString(0)
    val pruned = Sinks.readClientArchive(spark, out, firstClient)
    assert(pruned.count() > 0)
    assert(pruned.select(col("client_name")).distinct().count() == 1)

    // idempotent re-archive (the reference's overwrite-by-name semantics)
    Sinks.archiveLetters(letters, out)
    assert(spark.read.parquet(out).count() == letters.count())
  }

  test("one-client read-back takes the archive's recorded schema, with no inference job") {
    val out = java.nio.file.Files.createTempDirectory("graft_archive_schema")
    val letters = Letter.lettersPlane(spark, sf001)
    val client = letters.select(col("client_name")).orderBy(col("client_name")).limit(1)
      .collect()(0).getString(0)
    val mine = letters.filter(col("client_name") === client)
    Sinks.archiveLetters(mine, out.toString)
    val expected = mine.collect().map(_.toString).sorted.toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(mine.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
    /** The frame `f` resolves and the Spark jobs resolving it ran. */
    def jobsWhile(f: => org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = f
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        (df, jobs.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (known, knownJobs) = jobsWhile(Sinks.readClientArchive(spark, out.toString, client))
    assert(knownJobs == 0, "resolving the read must not infer the schema")
    assert(rows(known) == expected && expected.nonEmpty)
    // an archive without the schema file (written before it existed) infers
    java.nio.file.Files.delete(out.resolve(Sinks.SchemaFile))
    java.nio.file.Files.deleteIfExists(out.resolve(s".${Sinks.SchemaFile}.crc"))
    val (inferred, inferJobs) = jobsWhile(Sinks.readClientArchive(spark, out.toString, client))
    assert(inferJobs > 0)
    assert(rows(inferred) == expected)
    assert(inferred.schema == known.schema)
  }

  test("delivery sink sends once per record; unconfigured transport is a no-op") {
    val letters = Letter.letters(spark, sf001)
    assert(Sinks.deliverLetters(letters, None) == 0L)

    val counting = new Sinks.Transport {
      override def send(recipient: String, subject: String, body: String): Unit = {
        require(recipient != null && subject.endsWith(".pdf") && body.startsWith("Date: "))
      }
    }
    val sent = Sinks.deliverLetters(letters, Some(counting))
    assert(sent == letters.count())
  }

  test("external-process render pipes letter_text through a real subprocess") {
    // one row per filename: pdf_filename repeats across a customer's requests
    // and this test keys the round-trip comparison on it
    val letters = Letter.letters(spark, sf001)
      .dropDuplicates("pdf_filename").limit(40).cache()
    val expected = letters.select(col("pdf_filename"), col("letter_text"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    def triples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("pdf_filename"), r.getAs[Array[Byte]]("rendered"),
        r.getAs[Int]("exit_code")))

    // gzip as the stand-in converter (binary output, like soffice's pdf):
    // round-trip decompression must reproduce the letter byte-for-byte
    val gz = triples(Sinks.renderExternal(letters, Seq("gzip", "-c")))
    assert(gz.length == expected.size)
    assert(gz.forall(_._3 == 0), "gzip must exit 0 for every record")
    gz.foreach { case (name, bytes, _) =>
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      assert(new String(in.readAllBytes(), "UTF-8") == expected(name))
    }

    // text-transform converter: output is a deterministic function of input
    val up = triples(Sinks.renderExternal(letters, Seq("tr", "a-z", "A-Z")))
      .map { case (n, b, _) => n -> new String(b, "UTF-8") }.toMap
    assert(up == expected.map { case (k, v) => k -> v.toUpperCase })

    // convert-failure channel: non-zero exit is captured per row, job survives
    val failed = triples(Sinks.renderExternal(letters.limit(3), Seq("false")))
    assert(failed.forall { case (_, bytes, exit) => exit != 0 && bytes.isEmpty })

    // a converter that floods stderr past the OS pipe buffer (~64 KB) must
    // not deadlock the stdout drain — soffice-style per-document warnings
    val noisy = triples(Sinks.renderExternal(letters.limit(2),
      Seq("sh", "-c", "head -c 262144 /dev/zero 1>&2; cat")))
    assert(noisy.forall(_._3 == 0))
    noisy.foreach { case (name, bytes, _) =>
      assert(new String(bytes, "UTF-8") == expected(name))
    }
  }

  test("S6→S7→S9 chain: render → external convert → archive → pruned read-back") {
    // the full reference lifecycle (report_generator.py:88-103 render+convert,
    // app.py:107-119 per-client archive) composed as ONE pipeline: binary
    // converter output rides the document row into the partitioned write and
    // survives the parquet round-trip bit-for-bit
    val out = java.nio.file.Files.createTempDirectory("graft_chain").toString
    val letters = Letter.letters(spark, sf001).dropDuplicates("pdf_filename").cache()

    val converted = Sinks.renderExternal(letters, Seq("gzip", "-c"))
    Sinks.archiveLetters(converted, out)

    val client = letters.select(col("client_name")).limit(1).collect()(0).getString(0)
    val back = Sinks.readClientArchive(spark, out, client)
    // partition pruning: the scan must touch only this client's directory
    val scanned = back.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("FileScan")).getOrElse("")
    assert(scanned.contains("PartitionFilters") && scanned.contains("client_dir"),
      s"client filter must prune archive partitions:\n$scanned")

    val rows = back.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("exit_code") == 0)
      assert(r.getAs[String]("client_name") == client)
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("rendered")))
      // converted bytes round-trip the archive intact: gunzip reproduces the
      // letter text archived alongside them
      assert(new String(in.readAllBytes(), "UTF-8") == r.getAs[String]("letter_text"))
    }
  }

  test("S6 format-honest: real docx containers ride the archive tree and round-trip") {
    // the reference's sink emits one REAL .docx per record
    // (report_generator.py:88-89); the engine's archive column is now the
    // genuine OOXML package. Law: the bytes survive the partitioned write
    // bit-for-bit, re-parse through the hand-written container codec, and
    // the recovered paragraphs equal a fresh template render from the same
    // row's context (docxtpl absent-key "" semantics included).
    import graft.multimodal.DocxCodec
    val out = java.nio.file.Files.createTempDirectory("graft_docx_archive").toString
    val withDocx = Letter.renderedDocx(spark, sf001)
    Sinks.archiveLetters(withDocx, out)
    val client = withDocx.select(col("client_name")).limit(1).collect()(0).getString(0)
    val back = Sinks.readClientArchive(spark, out, client).collect()
    assert(back.nonEmpty, "vacuous: no letters archived for the sampled client")
    val templateParas = DocxCodec.paragraphTexts(
      DocxCodec.documentXml(
        DocxCodec.zipEntries(DocxCodec.buildDocx(Letter.TemplateParagraphRuns))))
    back.foreach { r =>
      val texts = DocxCodec.paragraphTexts(
        DocxCodec.documentXml(
          DocxCodec.zipEntries(r.getAs[Array[Byte]]("letter_docx"))))
      val ctx = Map(
        "date" -> r.getAs[String]("letter_date"),
        "name" -> r.getAs[String]("client_name"),
        "address" -> s"Segment ${r.getAs[String]("due_signing_pct")}",
        "fee" -> r.getAs[String]("fee_formatted"),
        "due_signing" -> r.getAs[String]("due_signing_pct"),
        "due_completion" -> r.getAs[String]("due_completion_pct"),
        "property_under_appraisal" -> r.getAs[String]("pdf_filename"),
        "parcel_id" -> r.getAs[Long]("request_id").toString)
      val want = templateParas.map(p => DocxCodec.render(Seq(p), ctx))
      assert(texts == want,
        s"archived container must round-trip to the rendered letter:\n$texts\nvs\n$want")
      // unsupplied keys rendered "" — the docxtpl behavior, visible in the container
      assert(texts(8) == "Initials:   " && texts(9) == "Signature: ")
    }
  }
}
