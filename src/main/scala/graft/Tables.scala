package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Canonical parquet scans over the driver test tables (TESTDATA.md).
  *
  * All engine operators take `(SparkSession, sfDir)` and read through here so
  * that scans stay declarative: Catalyst pushes filters/column pruning into
  * the parquet reader (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`). At the 100 TB design point these would be partitioned /
  * bucketed tables behind a catalog; the API shape is unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Process-level schema catalog for the table scans.
    *
    * `spark.read.parquet(path)` without a schema runs a driver-side footer
    * INFERENCE JOB on every call — measured 60 ms per call on this harness
    * (100×5 reads: 31.9 s inferred vs 2.2 s explicit),
    * which the bench pays inside every timed query, twice per pass, for
    * every table it touches. A real deployment reads these tables through a
    * catalog whose schema is resolved once (exactly what the scaladoc above
    * promises), so the engine keeps the same seam: infer once per distinct
    * (path, mtime, length) and hand the reader an explicit schema — THE
    * SCAN ITSELF IS UNCHANGED (explicit schema only skips inference; pushdown,
    * pruning and row reading are identical), and no data or results are
    * memoized. The mtime+length key makes a rewritten fixture (tests
    * overwrite tmp tables in place) a memo MISS, never a stale schema; the
    * stat is one local filesystem call per read.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, String, org.apache.spark.sql.types.StructType)]()

  private[graft] def tableSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(hPath)
    // Schema-affecting session confs belong in the memo's validity check
    // (ADVICE r17): under nanosAsLong a NANOS ts column infers as LongType,
    // and serving that schema to a session with the conf OFF (or vice versa)
    // would silently change the scan type. The map is keyed by PATH alone so
    // a rewritten fixture or flipped conf REPLACES the entry instead of
    // accumulating one per (mtime, length) generation — bounded by the
    // number of distinct table paths the process ever reads.
    val nanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    schemaMemo.compute(path, (_, prev) =>
      if (prev != null && prev._1 == st.getModificationTime &&
          prev._2 == st.getLen && prev._3 == nanos) prev
      else (st.getModificationTime, st.getLen, nanos,
        spark.read.parquet(path).schema))._4
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(tableSchema(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  /** Normalize the events `ts` column to `timestamp_ntz` whatever the
    * on-disk parquet layout. Observed layouts of the driver's test tables:
    *
    *  - TIMESTAMP(NANOS): the vectorized reader rejects it unless the
    *    legacy nanos-as-long conf is set, in which case `ts` scans as
    *    `LongType` nanos → truncate to micros with *integer* division (a
    *    double division would lose precision above 2^53 ns, and DuckDB's
    *    own ns→us conversion truncates identically) and re-type.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans directly as
    *    `timestamp_ntz` → pass through.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): scans as `timestamp` →
    *    cast to ntz (sessions run UTC, so the wall clock is unchanged).
    *
    * Probing the SCANNED schema instead of assuming one historical layout is
    * the same defensive seam [[readStreamTable]] applies to the directory
    * question — a production table's physical encoding is the writer's
    * choice, not the engine's.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    case TimestampNTZType => df
    case TimestampType    => df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported physical type $other (expected int64 nanos or timestamp)")
  }

  /** Micros-since-epoch from a [[normalizeEventTs]]-normalized ntz `ts`
    * (sessions run UTC, so ntz wall time == the instant).
    */
  def tsMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  def events(spark: SparkSession, dir: String): DataFrame = {
    // harmless under the micros layouts (only NANOS columns are affected);
    // required before the scan under the nanos layout
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(apply(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Streaming file source over a test table, handling BOTH on-disk layouts:
    * the driver's single-file tables (`dir/name.parquet` is a file — the
    * file source needs a directory basePath, so stream `dir` filtered to
    * that name) and tiled/production tables (`dir/name.parquet` is a
    * directory of part files — stream it directly). The round-5 sf1 sweep
    * found every streaming query silently reading ZERO files under the
    * tiled layout because the single-file glob matched nothing.
    */
  def readStreamTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = tableSchema(spark, path)
    // layout probe through the Hadoop FS API — java.io.File would answer
    // false for every hdfs://, s3a:// path and silently re-open the
    // zero-row blind spot on object-store tables
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(hPath).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Streaming events source with the same layout-probed `ts` normalization
    * as the batch [[events]] reader — every streaming query reads through
    * here so batch and streaming can never disagree on the physical layout.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(readStreamTable(spark, dir, "events"))
  }

  /** Test-scale fan-out seam. Local runs scan ONE parquet file per table, so
    * CPU-bound downstream stages (shingle hashing, dot products, decode)
    * would otherwise execute as a single task; a round-robin exchange to
    * `defaultParallelism` fixes that here. On a real cluster the scan is
    * already hundreds of splits wide and the same exchange is a pointless
    * full shuffle — disable it there with `graft.fanout.enabled=false`.
    * Default true (the local-harness shape). Use as `.transform(Tables.fanout)`.
    */
  def fanout(df: DataFrame): DataFrame =
    if (GraftConf.bool(df.sparkSession, "graft.fanout.enabled", default = true))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}
