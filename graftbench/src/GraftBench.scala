package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.assets.AssetStore
import graft.functions.{DotProduct, Formatters, MinHashSig, PortableHash, ShingleHashes, SymDeleteHashes}
import graft.pipeline.Sinks

/** One benchmark run of a workload in a fresh JVM.
  *
  * Protocol on stdout: `READY` once the session is up and the workload's
  * tables are resolved (the caller times set-up up to that line), then one
  * JSON line with the pass times, the operation counts and, when traced,
  * the per-layer metrics. The frames of the last warm pass are written,
  * outside the pass windows, under `<run>/out`, and the oracle SQL of the
  * mix to `<run>/oracle.json`, for the caller's DuckDB comparison. (A first
  * pass's frames read the same asset files as the warm passes': an
  * `AssetStore` build writes the asset and returns a read of it.)
  *
  * Usage: `GraftBench <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> [traceFile]`
  */
object GraftBench {
  /** Warm passes a run always makes, however short `seconds` is. */
  val MinWarmPasses = 6
  /** Leading warm passes that still carry most of the JIT warm-up (20-45%
    * slower than the later ones on a 4-vCPU machine): warm_pass_s is the
    * median of the passes after them, five with the minimum above. */
  val SettlingPasses = 1

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, runDir) = args.take(6)
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("graft.stream.statePartitions", "4")
      .config("spark.ui.enabled", "false")
      .config(AssetStore.DirConf, s"$runDir/assets")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      // result files in a timestamp type DuckDB and pandas read directly
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Mixes.tables(workload).foreach { t =>
      if (t == "events") Tables.events(spark, dataDir).schema else Tables(spark, dataDir, t).schema
    }
    println("READY")
    System.out.flush()

    val bench = new GraftBench(spark, workload, seed, dataDir, runDir,
      if (traced) Some(new Tracer(spark)) else None)
    val result = bench.run(secondsArg.toDouble)
    if (traced) bench.tracer.foreach(_.write(Paths.get(args(6))))
    println(result)
    System.out.flush()
    spark.stop()
  }

  /** Peak resident set of this process in MB (`VmHWM`), 0 where /proc is absent. */
  def peakRssMb: Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  /** CPU seconds the hypervisor gave other guests (`steal` in /proc/stat). */
  def stealSeconds: Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toDouble / 100.0
    } catch { case _: Exception => 0.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JVM-wide counters read at pass boundaries: collector time and count, and
  * bytes allocated (young-generation occupancy plus what each collection
  * freed from it, so threads that ended mid-window still count). */
object JvmCounters {
  private val freedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val youngNames = Set("PS Eden Space", "Eden Space", "G1 Eden Space")

  private def eden = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => youngNames.contains(p.getName))

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
            youngNames.foreach { name =>
              for (b <- Option(info.getMemoryUsageBeforeGc.get(name));
                   a <- Option(info.getMemoryUsageAfterGc.get(name)))
                freedBytes.addAndGet(b.getUsed - a.getUsed)
            }
          }
        }, null, null)
      case _ => ()
    }

  def allocatedBytes: Long = freedBytes.get() + eden.map(_.getUsage.getUsed).getOrElse(0L)

  def gc: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }
}

final class GraftBench(spark: SparkSession, workload: String, seed: Long,
    dataDir: String, runDir: String, val tracer: Option[Tracer]) {
  import GraftBench._

  private val archiveDir = s"$runDir/archive"
  private val ops = Mixes.ops(workload, seed, archiveDir)
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val runSpan = tracer.map(_.begin(s"run $workload", 0L)).getOrElse(0L)
  /** Seconds of each successful call, per operation, in pass order. */
  private val opSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Seconds of the work outside the pass windows, by phase, for the log. */
  private val untimedSeconds = mutable.LinkedHashMap.empty[String, Double]
  private def untimed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedSeconds(phase) = (System.nanoTime() - t0) / 1e9
  }

  /** A pass's time, its per-layer measurements (traced runs only) and the
    * frames its successful query calls returned, by oracle key. */
  private final case class Pass(seconds: Double, layers: Map[String, Double],
      frames: Seq[(String, DataFrame)])

  private def counters(): Map[String, Double] = tracer match {
    case None => Map.empty
    case Some(t) =>
      val (gcN, gcMs) = JvmCounters.gc
      t.counts() ++ Map(
        "jvm.gc_count" -> gcN.toDouble, "jvm.gc_ms" -> gcMs.toDouble,
        "jvm.alloc_mb" -> JvmCounters.allocatedBytes / Tracer.MB,
        "assets.builds" -> AssetStore.buildCount.get().toDouble,
        "assets.build_s" -> AssetStore.buildNanos.get() / 1e9)
  }

  /** One pass of the mix. Only successful operations add to the pass time:
    * a failure must never look like a fast query. */
  private def pass(label: String): Pass = {
    val passSpan = tracer.map(_.begin(s"pass $label", runSpan)).getOrElse(0L)
    val before = counters()
    val moduleSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var pinnedRdds, pinnedMb = 0.0
    var total, analysisMs = 0.0
    val frames = mutable.ArrayBuffer.empty[(String, DataFrame)]
    ops.foreach { op =>
      spark.catalog.clearCache()
      attempted += 1
      val t0 = System.nanoTime()
      val result =
        try {
          val df = tracer match {
            case Some(t) => t.call(op.span, passSpan)(op(spark, dataDir))
            case None => op(spark, dataDir)
          }
          Some(df)
        } catch { case e: Throwable =>
          failures += s"$label ${op.span}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
        }
      val dt = (System.nanoTime() - t0) / 1e9
      result.foreach { df =>
        // the frame is analyzed when it is built, outside the write's own
        // query execution that the listener sees
        if (tracer.isDefined)
          analysisMs += df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs.toDouble).getOrElse(0.0)
        op.oracleKey.foreach(k => frames += k -> df)
        total += dt
        moduleSeconds(op.module) += dt
        opSeconds.getOrElseUpdate(op.span, mutable.ArrayBuffer.empty) += dt
      }
      if (tracer.isDefined) {
        spark.catalog.clearCache()
        val sc = spark.sparkContext
        pinnedRdds = math.max(pinnedRdds, sc.getPersistentRDDs.size.toDouble)
        pinnedMb = math.max(pinnedMb,
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Tracer.MB)
      }
    }
    tracer.foreach(_.end(passSpan))
    val layers =
      if (tracer.isEmpty) Map.empty[String, Double]
      else {
        val after = counters()
        val deltas = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          .updatedWith("plan.analysis_ms")(_.map(_ + analysisMs))
        val modules = (Modules.map(m => s"$m.s" -> moduleSeconds(m)) :+
          ("Sinks.write_s" -> moduleSeconds("Sinks"))).toMap
        deltas ++ modules ++ Map(
          "storage.persistent_rdds_after" -> pinnedRdds,
          "storage.pinned_mb_after" -> pinnedMb)
      }
    Pass(total, layers, frames.toSeq)
  }

  /** Write a pass's frames for the DuckDB check. A frame that cannot be
    * written leaves no output, which the check counts as a failed comparison. */
  private def saveOutputs(p: Pass, outDir: String): Unit = p.frames.foreach { case (key, df) =>
    spark.catalog.clearCache()
    try QueryOp.save(df, outDir, key)
    catch { case e: Throwable =>
      System.err.println(s"[graftbench] output of $key not written: $e")
      org.apache.commons.io.FileUtils.deleteQuietly(new File(s"$outDir/$key"))
    }
  }

  def run(seconds: Double): String = {
    if (tracer.isDefined) { JvmCounters.install(); tracer.foreach(_.install()) }
    val steal0 = stealSeconds
    val first = pass("first")
    val steal1 = stealSeconds
    val warm = mutable.ArrayBuffer.empty[Pass]
    val warmStart = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      // collections the benchmark forces stay outside every pass window
      System.gc()
      warm += pass(s"warm${warm.size + 1}")
    }
    tracer.foreach(_.end(runSpan))
    val steal2 = stealSeconds

    // --- everything below is outside the timed windows ---
    untimed("outputs")(saveOutputs(warm.last, s"$runDir/out"))
    val oracle = ops.flatMap(_.oracleKey).map(k => k -> Json.str(SparkEntry.oracleSql(k)))
    Files.writeString(Paths.get(s"$runDir/oracle.json"), Json.obj(oracle))
    val archiveChecks = untimed("archive_check")(ops.collect { case a: ArchiveOp => checkArchive(a) }.flatten)
    archiveChecks.foreach { case (client, problem) =>
      attempted += 1
      problem.foreach(p => failures += s"archive $client: $p")
    }
    val layers = untimed("per_layer")(tracer.map(_ => perLayer(first, warm.toSeq)).getOrElse(Map.empty))
    Json.obj(Seq(
      "first_pass_s" -> Json.num(first.seconds),
      "warm_pass_s" -> Json.num(median(warm.drop(SettlingPasses).map(_.seconds).toSeq)),
      "warm_passes_s" -> warm.map(p => Json.num(p.seconds)).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "steal_s" -> s"[${steal1 - steal0},${steal2 - steal1}]",
      "untimed_s" -> Json.obj(untimedSeconds.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "op_seconds" -> Json.obj(opSeconds.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }

  /** The archive read-back property, one check per client: reading the
    * client's partition back through `Sinks.readClientArchive` returns
    * exactly the rows written for it, and its partition directory is
    * `Formatters.sanitizeName` of the client (no directory when it has no
    * letters). Returns (client, problem if any). */
  private def checkArchive(a: ArchiveOp): Seq[(String, Option[String])] = {
    def rowKey(r: Row): String = r.toSeq.map(String.valueOf).mkString("\u0001")
    val written = a.letters(spark, dataDir)
      .withColumn("client_dir", Formatters.sanitizeName(col("client_name")))
      .collect()
    val cols = written.headOption.map(_.schema.fieldNames.toSeq)
      .getOrElse(a.letters(spark, dataDir).columns.toSeq :+ "client_dir")
    // one read per client, four at a time: each read lists the archive and
    // infers its schema with a small job of its own
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val back = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val reads = a.clients.map(c => Future(c ->
        Sinks.readClientArchive(spark, archiveDir, c).select(cols.map(col): _*).collect()))
      Await.result(Future.sequence(reads), Duration.Inf).toMap
    } finally pool.shutdown()
    val dirs = Option(new File(archiveDir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("client_dir="))
      .map(f => ExternalCatalogUtils.unescapePathName(f.getName.stripPrefix("client_dir=")))
      .toSet
    a.clients.map { c =>
      val mine = written.filter(_.getAs[String]("client_name") == c)
      val expectDirs = mine.map(_.getAs[String]("client_dir")).toSet
      val got = back(c)
      val problem =
        if (mine.map(rowKey).sorted.toSeq != got.map(rowKey).sorted.toSeq)
          Some(s"read back ${got.length} rows, wrote ${mine.length}")
        else if (expectDirs.size > 1) Some(s"several partition values $expectDirs")
        else if (expectDirs.exists(d => !dirs.contains(d)))
          Some(s"no partition directory for ${expectDirs.mkString}")
        else None
      c -> problem
    } :+ ("<all>" -> {
      val expected = written.map(_.getAs[String]("client_dir")).toSet
      if (dirs == expected) None else Some(s"partition directories ${dirs -- expected} not written")
    })
  }

  /** The modules the mixes call (see [[Mixes]]). */
  private val Modules = Seq("Relational", "TextOps", "SimilarityOps", "Letter", "EventsStream")

  /** Per-layer metrics of a traced run: the median over the warm passes of
    * each pass-window measurement, asset builds of the first pass, and the
    * scan and native-expression probes run after the passes. */
  private def perLayer(first: Pass, warm: Seq[Pass]): Map[String, Double] = {
    val later = warm.drop(SettlingPasses)
    val keys = later.flatMap(_.layers.keys).distinct
    val warmMedians = keys.map(k => k -> median(later.map(_.layers.getOrElse(k, 0.0)))).toMap
    val archived =
      if (!new File(archiveDir).exists) 0L
      else Files.walk(Paths.get(archiveDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
    warmMedians ++ Map(
      "assets.builds" -> first.layers.getOrElse("assets.builds", 0.0),
      "assets.build_s" -> first.layers.getOrElse("assets.build_s", 0.0),
      "Sinks.written_mb" -> archived / Tracer.MB,
      "trace.warm_pass_s" -> median(later.map(_.seconds)),
      "Tables.scan_s" -> tableScanSeconds()) ++ Probes.functions(spark, dataDir)
  }

  /** Wall time of a count over each of the workload's tables, read through
    * `Tables.<name>`, after one untimed warm-up count. */
  private def tableScanSeconds(): Double = Mixes.tables(workload).map { t =>
    def read: DataFrame = if (t == "events") Tables.events(spark, dataDir) else Tables(spark, dataDir, t)
    read.count()
    val t0 = System.nanoTime()
    read.count()
    (System.nanoTime() - t0) / 1e9
  }.sum
}

/** Throughput and allocation of the native expressions on their real sf0.1
  * columns, and of the value-identical built-in twins where they exist. */
object Probes {
  def functions(spark: SparkSession, dir: String): Map[String, Double] = {
    // copies of the column, so that one evaluation takes ~100 ms
    def input(df: DataFrame, copies: Int = 8): DataFrame = {
      val c = df.crossJoin(spark.range(copies).select(col("id").as("copy"))).drop("copy")
        .repartition(spark.sparkContext.defaultParallelism).cache()
      c.count(); c
    }
    val text = input(Tables.documents(spark, dir).select(col("text").as("x")))
    val names = input(Tables.customer(spark, dir).select(col("c_name").as("x")))
    val vecs = input(Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("x")))
    val fees = input(Tables.orders(spark, dir)
      .select(col("o_totalprice").cast("string").as("x")), copies = 1)
    val x = col("x")
    val probes: Seq[(String, DataFrame, Column, Option[Column])] = Seq(
      ("H48", text, PortableHash.h48(x), Some(PortableHash.h48Builtin(x))),
      ("PolyFp", text, PortableHash.polyFingerprint(x), Some(PortableHash.polyFingerprintBuiltin(x))),
      ("ShingleHashes", text, ShingleHashes(x, 3, PortableHash.M31), None),
      ("MinHashSig", text, MinHashSig(x, 3, PortableHash.M31, 64), None),
      ("SymDeleteHashes", names, SymDeleteHashes(x), None),
      ("DotProduct", vecs, DotProduct(x, x), None),
      ("Formatters", fees, Formatters.formatCurrency(x), None))
    val out = probes.flatMap { case (name, df, e, builtin) =>
      val rows = df.count().toDouble
      val (s, alloc) = time(df, e)
      Seq(s"functions.$name.rows_per_s" -> rows / s,
          s"functions.$name.alloc_b_per_row" -> alloc / rows) ++
        builtin.map(b => s"functions.$name.builtin_rows_per_s" -> rows / time(df, b)._1)
    }.toMap
    Seq(text, names, vecs, fees).foreach(_.unpersist(blocking = true))
    out
  }

  /** Median seconds and allocated bytes of three evaluations after a warm-up. */
  private def time(df: DataFrame, e: Column): (Double, Double) = {
    def once(): (Double, Double) = {
      val a0 = JvmCounters.allocatedBytes
      val t0 = System.nanoTime()
      df.select(e.as("y")).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, (JvmCounters.allocatedBytes - a0).toDouble)
    }
    once()
    val runs = Seq.fill(3)(once())
    (GraftBench.median(runs.map(_._1)), GraftBench.median(runs.map(_._2)))
  }
}
