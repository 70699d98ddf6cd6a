package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PortableHash.pround

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Three tiers, mirroring a production ANN stack:
  *  - q40: brute-force cosine top-k for a *bounded query set* against the full
  *    corpus — the exact baseline. Scale shape: `broadcast(queries)` ⋈ corpus
  *    (no shuffle of the big side), per-partition partial top-k via the
  *    ranking window.
  *  - q41: sign-LSH (random hyperplane) near-dup pairs — banded 12-bit
  *    sketches → capped-bucket membership collection → exact cosine
  *    verification. Candidates come from equality on uniform band keys with
  *    a hot-bucket cap (see [[MaxBucket]]); never all-pairs.
  *  - q42: sketch-bucket ANN search — probe only the query's bucket (IVF-style
  *    cell restriction) then exact-rank inside it.
  *
  * Determinism: hyperplane weights are ±1 derived from md5 parity, computed
  * once in Scala and embedded as literals in both the Spark plan and the
  * DuckDB oracle; dot products are sequential left-folds in both engines, so
  * cosines agree bit-for-bit before the 6-decimal rounding.
  *
  * All arithmetic is double (`float→double` cast is exact); no UDFs.
  */
object SimilarityOps {

  val Dim = 64
  val Planes = 8
  val NearDupThreshold = 0.4   // corpus max off-diagonal cos ≈ 0.51

  /** Banded sign-LSH (q41/q39): [[BandPlanes]] hyperplanes split into
    * [[Bands]] OR-construction bands of [[BandBits]] bits. A pair is a
    * candidate iff ALL bits of at least ONE band agree, so random-pair
    * collision probability is Bands·2^-BandBits ≈ 0.2% — candidate volume
    * tracks similarity density (p_match = 1-(1-p^bits)^bands, p = 1-θ/π),
    * not a fixed n²/256 as the old single 8-bit bucket gave. 12-bit bands
    * mirror q37's simhash banding; 8 bands give ~74% recall at cos 0.9.
    * Widening to more/narrower bands (recall) or longer bands (volume) is a
    * two-constant change mirrored in the oracle.
    */
  val Bands = 8
  val BandBits = 12
  val BandPlanes = Bands * BandBits

  /** Hot-bucket cap for the banded candidate join (the q102/q107 df lever
    * applied to sign-LSH). Band-bucket occupancy grows LINEARLY with corpus
    * size at fixed band width (n/2^bits random collisions per bucket), so an
    * uncapped bucket join is quadratic in n — the ×10/×20 tile probe
    * measured slope 4.27 at 2× data, exactly the C(n,2)·2^-12 physics. The
    * cap bounds worst-case candidates at n·cap per band (linear), dropping
    * any bucket larger than the cap whole; a true near-dup pair collides in
    * MANY of the 8 OR-construction bands, so it survives losing its densest
    * bucket. The cap is part of the ORACLE-CHECKED semantics (the bands CTE
    * carries the same df filter); at the oracle SFs the largest bucket is 8,
    * so the default cap is provably inactive there. At real scale the cap is
    * the skew guard, not the growth guard — keep occupancy constant by
    * scaling band width as log2(n): `graft.lsh.bandBits` (default
    * [[BandBits]], pinned by the oracle) is that lever.
    */
  val MaxBucket = 32

  /** ±1 hyperplane weights from md5("plane:p:i") first-byte parity —
    * reproducible anywhere md5 exists. */
  lazy val planeWeights: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Planes, Dim) { (p, i) =>
      val h = md.digest(s"plane:$p:$i".getBytes("UTF-8"))
      (java.lang.Byte.toUnsignedInt(h(0)) % 2) * 2 - 1
    }
  }

  /** ±1 weights for banded-sketch plane `p`, md5("bplane:p:i") parity —
    * computed on demand (not from a fixed [[BandPlanes]]-sized table) so the
    * oracle builder can render planes for ANY `graft.lsh.bandBits` setting
    * with the same derivation [[graft.functions.SignSketch.weights]] uses.
    */
  def bandPlaneWeightsFor(p: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Dim) { i =>
      val h = md.digest(s"bplane:$p:$i".getBytes("UTF-8"))
      (java.lang.Byte.toUnsignedInt(h(0)) % 2) * 2 - 1
    }
  }

  /** The session-resolved band width — ONE resolution point shared by the
    * production candidate path ([[lshCandidates]]) and the oracle SQL
    * builder ([[bandsCteSql]]), so an oracle dump run with the conf set
    * compares against the SAME semantics the Spark plan executed
    * (previously the oracle hard-coded the default — a conf'd comparison
    * run would have silently diverged).
    */
  private def resolvedBandBits(spark: SparkSession): Int =
    graft.GraftConf.int(spark, "graft.lsh.bandBits", BandBits)

  /** Sequential left-fold dot product (same op order as the oracle) — the
    * native codegen'd [[graft.functions.DotProduct]], proven value-identical
    * to the built-in `aggregate(zip_with(...))` composition (PortableHashSpec).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  /** Collect a K-row codebook frame to driver arrays (ids ascending) for
    * [[graft.functions.NearestCentroid]]. This is the same driver-side
    * materialization `broadcast()` performed internally for the old
    * crossJoin formulation — K stays bounded by the broadcast budget; the
    * corpus side never moves. */
  private def collectCodebook(df: DataFrame, idCol: String, vecCol: String)
      : (Array[Long], Array[Array[Double]]) = {
    val rows = df.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Corpus with norm and sign-sketch bucket. */
  private def vectors(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .transform(Tables.fanout)   // single-file scan → fan out for CPU-bound dot products
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // ONE native sketch expression (weights as a reference object), not
    // 8 composed dot-products against 64-double literal arrays — see
    // SignSketch's scaladoc for the JIT-poisoning the literal form caused
    val sketch: Column =
      graft.functions.SignSketch(col("v"), "plane", 1, Planes, Dim).getItem(0)
    e.withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", sketch)
  }

  /** q40: exact cosine top-5 neighbors for query vectors vec_id < 10. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors(spark, dir)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
      .filter(col("query_id") < 10)
    val joined = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pround(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Banded candidate pairs for q41/q39, exposed so specs can bound the
    * candidate volume. One row per distinct (vec_a < vec_b) pair sharing at
    * least one of the [[Bands]] band values, with the shared-band count.
    *
    * Scale shape: the band sketch is computed map-side (no UDF, codegen'd
    * dot products); only (vec_id, band_idx, band_val) rows shuffle — the
    * vectors themselves stay behind and are re-fetched by id for the
    * verification join, so candidate generation never moves payloads.
    */
  def lshCandidates(spark: SparkSession, dir: String): DataFrame = {
    lshCandidatesOf(vectors(spark, dir), resolvedBandBits(spark), MaxBucket)
  }

  /** Core of the banded candidate generation over an arbitrary (vec_id, v)
    * relation — exposed so specs can bound the candidate volume under a
    * synthetic hot bucket independently of the test tables. Same
    * one-bounded-exchange shape as q107's blocking: a cap+1 `row_number`
    * per (band, value) bucket plans a PARTIAL WindowGroupLimit below the
    * shuffle (a degenerate all-zeros-embedding corpus ships ≤ cap+1 rows
    * per bucket per map partition), members collect on the
    * already-partitioned key, pairs expand in-block, and a truncated hot
    * bucket surfaces as df = cap+1 and is dropped whole.
    */
  def lshCandidatesOf(e: DataFrame, bandBits: Int, maxBucket: Int): DataFrame = {
    // 96 hyperplanes in ONE codegen'd expression (flattened weight table as
    // a reference object). The previous composed-Column form — 96 DotProduct
    // nodes over 96 × 64 literal doubles — generated a constant-stuffed
    // projection whose C2 compilation starved the JIT for the rest of the
    // session (unrelated queries ran 15× slow afterwards at sf1).
    val bandVals: Column =
      graft.functions.SignSketch(col("v"), "bplane", Bands, bandBits, Dim)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_val")).orderBy(col("vec_id"))
    e.select(col("vec_id"), posexplode(bandVals).as(Seq("band_idx", "band_val")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBucket + 1)
      .groupBy(col("band_idx"), col("band_val"))
      .agg(collect_list(col("vec_id")).as("ids"), count(lit(1)).as("df"))
      .filter(col("df").between(2, maxBucket))
      .withColumn("vec_a", explode(col("ids")))
      .withColumn("vec_b", explode(col("ids")))
      .filter(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** q41: sign-LSH near-dup pairs — banded OR-construction candidates,
    * exactly cosine-verified against the re-fetched vectors. */
  def lshNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir).select(col("vec_id"), col("v"), col("norm"))
    lshCandidates(spark, dir)
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")), "vec_b")
      .withColumn("cosine", pround(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= NearDupThreshold)
      .select(col("vec_a"), col("vec_b"), col("n_bands"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** q39: embedding-cosine near-dup dedup — the greedy keep-lowest corpus
    * sweep (q38's shape) driven by *embedding* similarity instead of lexical
    * shingles: any document whose vector matched a lower-id near-duplicate
    * (sign-LSH blocked, exact-cosine verified, q41) is dropped. `documents`
    * and `embeddings` are row-aligned (doc_id = vec_id). The victim set is a
    * distinct-id projection — broadcast-able at any corpus scale, so the
    * final anti-join never shuffles the big side.
    */
  def embeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val victims = lshNearDupPairs(spark, dir).select(col("vec_b").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val IvfK = 16       // centroid count (vec_id < IvfK serve as the codebook)
  val IvfProbes = 2   // cells probed per query (nprobe)

  /** q55: IVF-style ANN — the coarse-quantizer scale path. A fixed codebook
    * of [[IvfK]] centroids (deterministic: the first K corpus vectors, so the
    * oracle reproduces them exactly) partitions the corpus into cells by
    * max-cosine assignment; each query probes only its [[IvfProbes]] nearest
    * cells and exact-ranks inside them.
    *
    * Scale shape: assignment is the [[graft.functions.NearestCentroid]]
    * argmax-cosine projection — narrow, linear, zero shuffle and zero row
    * expansion of the big side; the probe join is
    * broadcast(queries) ⋈ cell — each query touches ~nprobe/K of the corpus.
    * At 100 TB the cell id doubles as the partition/bucket key so a probe
    * reads only its cells' files (partition pruning on `cell`).
    */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors(spark, dir)
    val cents = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("norm").as("cn"))
    val (cids, cvs) = collectCodebook(cents, "cent_id", "cv")
    // cell assignment = the NearestCentroid argmax-cosine projection (no
    // K-fold corpus expansion, no vec_id Exchange+Sort for the rn=1 pick)
    val nc = graft.functions.NearestCentroid(col("v"), col("norm"), cids, cvs,
      byCosine = true)
    val assigned = e.select(col("vec_id"), col("v"), col("norm"), nc.as("nc"))
      .select(col("vec_id"), col("v"), col("norm"), col("nc.cluster").as("cell"))
    // nprobe>1 needs the 2nd-best cell too — but only for the 10 query
    // vectors, so the old windowed ranking runs over a 10×K frame
    val scoredQ = e.filter(col("vec_id") < 10).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("norm"), col("cent_id"),
        (dot(col("v"), col("cv")) / (col("norm") * col("cn"))).as("ccos"))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val probes = scoredQ.withColumn("crn", row_number().over(byVec))
      .filter(col("crn") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"),
        col("cent_id").as("cell"))
    val joined = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
        pround(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6).as("cosine"))
    val byQuery = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q42: multi-probe bucket ANN — search the query's sketch cell plus every
    * cell at Hamming distance 1 (9 of 256 cells): the standard multi-probe
    * LSH trade — ~28× less work than brute force with usable recall even on
    * a near-orthogonal corpus.
    */
  def annBucketSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors(spark, dir)
    val probes = array((lit(0L) +: (0 until Planes).map(p => lit(1L << p))): _*)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"), explode(probes).as("flip"), col("bucket"))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("flip")))
      .drop("flip")
    val joined = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        pround(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val QuantScale = 127   // int8 quantization range
  val RecallK = 10

  /** q91: quantization-recall audit — int8-quantize the normalized vectors
    * (q_i = ⌊127·x_i/‖x‖ + 0.5⌋, the standard symmetric int8 scheme), rank
    * neighbors by INTEGER quantized dot product, and measure top-10 recall
    * against the exact float ranking. This is the accept/reject gate before
    * shipping a quantized index at scale: 4× less memory/bandwidth iff
    * recall holds.
    *
    * Determinism: quantized components derive from bit-identical doubles on
    * both engines, so the integer dots are exact; overlap counting is a join
    * on integer ids. Scale shape: both rankings are broadcast(queries) ⋈
    * corpus with per-partition partial top-k — the quantized pass would run
    * against the int8 index, the float pass against a sampled audit slice.
    */
  def quantizedRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors(spark, dir)
      .withColumn("qv", transform(col("v"),
        x => floor(x / col("norm") * QuantScale + 0.5).cast("long")))
      .cache()
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("fqv"),
        col("norm").as("qn"), col("qv").as("qqv"))
    val joined = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pround(dot(col("v"), col("fqv")) / (col("norm") * col("qn")), 6).as("cosine"),
        aggregate(zip_with(col("qv"), col("qqv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("qdot"))
    val wf = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("qdot").desc, col("neighbor_id"))
    val ranked = joined
      .withColumn("frank", row_number().over(wf))
      .withColumn("qrank", row_number().over(wq))
    val exact = ranked.filter(col("frank") <= RecallK).select(col("query_id"), col("neighbor_id"))
    val quant = ranked.filter(col("qrank") <= RecallK).select(col("query_id"), col("neighbor_id"))
    val overlap = exact.join(quant, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("cnt"))
    // left-join from the query list so a zero-overlap query still reports 0
    q.select(col("query_id")).join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("cnt"), lit(0L)).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        pround(col("n_overlap") * lit(1.0) / RecallK, 2).as("recall"))
      .orderBy(col("query_id"))
  }

  /** PQ geometry for [[pqRecall]]: [[Dim]] = 64 dims → [[PqM]] subspaces ×
    * [[PqL]] dims each, [[PqCodes]] centroids per subspace (so a corpus
    * vector stores [[PqM]] 6-bit codes — 6 bytes instead of 256), trained
    * on every [[PqTrainMod]]-th vector. */
  val PqM = 8
  val PqL = 8
  val PqCodes = 64
  val PqTrainMod = 7

  /** q125: product-quantization recall audit — q91's big sibling, and the
    * memory format 100 TB ANN actually ships: instead of one int8 PER
    * COMPONENT (q91, 64 B/vector), each vector stores one centroid id per
    * SUBSPACE ([[PqM]] 6-bit codes → 6 B packed/vector), and query–corpus similarity is
    * the ADC dot against the codebook-reconstructed vector. The audit
    * ranks neighbors by exact float cosine and by integer ADC dot and
    * reports top-[[RecallK]] overlap per query — the accept/reject gate
    * before swapping the float index for the PQ index.
    *
    * Determinism: codebook entries are int8-quantized subvectors of a
    * deterministic training slice (every [[PqTrainMod]]-th vector — the
    * audit's subject is distance-table ranking fidelity, which is
    * codebook-construction-agnostic; per-subspace k-means would swap only
    * the driver-side constant). Assignment distances and ADC dots are
    * exact int64, ties break on centroid id, so both engines rank
    * identically. Scale shape: the codebook is a few KB riding into
    * codegen as a reference object ([[graft.functions.PqEncode]]), the
    * corpus is encoded in one narrow projection (no shuffle), and both
    * rankings are broadcast(queries) ⋈ corpus with per-partition partial
    * top-k — the corpus never exchanges.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors(spark, dir)
      .withColumn("qv", transform(col("v"),
        x => floor(x / col("norm") * QuantScale + 0.5).cast("long")))
      .cache()
    val trainRows = e.filter(col("vec_id") % PqTrainMod === 0)
      .orderBy(col("vec_id")).limit(PqCodes)
      .select(col("qv")).collect()
    val codebook: Array[Array[Array[Long]]] = Array.tabulate(PqM) { m =>
      trainRows.map(_.getSeq[Long](0).slice(m * PqL, (m + 1) * PqL).toArray)
    }
    val enc = e.withColumn("codes", graft.functions.PqEncode(col("qv"), codebook))
    val q = enc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("fqv"),
        col("norm").as("qn"), col("qv").as("qqv"))
    val joined = enc.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pround(dot(col("v"), col("fqv")) / (col("norm") * col("qn")), 6).as("cosine"),
        graft.functions.PqAdcDot(col("qqv"), col("codes"), codebook).as("pqdot"))
    val wf = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("pqdot").desc, col("neighbor_id"))
    val overlap = joined
      .withColumn("frank", row_number().over(wf))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("frank") <= RecallK && col("qrank") <= RecallK)
      .groupBy(col("query_id")).agg(count(lit(1)).as("cnt"))
    q.select(col("query_id")).join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("cnt"), lit(0L)).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        pround(col("n_overlap") * lit(1.0) / RecallK, 2).as("recall"))
      .orderBy(col("query_id"))
  }

  /** q144 re-rank depth: ADC candidates kept per query before the exact
    * pass. 3× the final K — the standard IVF-PQ refinement ratio: wide
    * enough that ADC's quantization error cannot push a true top-10
    * neighbor out of the pool, narrow enough that the exact pass touches
    * a constant-sized candidate set per query. */
  val IvfPqReRank = 30

  /** q144: IVF-PQ ANN with exact re-rank — the composition a 100 TB vector
    * store actually serves (Jégou et al. 2011; the FAISS IVFPQ + refine
    * index): q55's coarse quantizer restricts each query to its
    * [[IvfProbes]] nearest cells, q125's product quantizer ranks the
    * in-cell candidates by integer ADC dot against 6-byte codes (no float
    * payloads touched), and only the top-[[IvfPqReRank]] ids come back for
    * an exact-cosine re-rank to the final top-[[RecallK]].
    *
    * Determinism: both codebooks are the deterministic constructions their
    * parent queries use (first-[[IvfK]] centroids; every-[[PqTrainMod]]-th
    * int8 training rows), ADC dots are exact int64 with id tie-breaks, and
    * the final cosine is 6-dp-rounded — both engines rank identically.
    *
    * Scale shape, stage by stage: the index build (cell + codes) is ONE
    * narrow codegen'd projection ([[graft.functions.NearestCentroid]]
    * argmax + [[graft.functions.PqEncode]]) — zero shuffle; the ADC stage
    * joins broadcast(query probes) into the probed cells and emits only
    * (query_id, neighbor_id, pqdot) integer rows, so per-query work is
    * ~nprobe/K of the corpus READ FROM 6-BYTE CODES — float vectors never
    * enter stage 1; the per-query top-C window plans a partial
    * WindowGroupLimit; the exact stage re-fetches AT MOST C·batch vectors
    * by broadcast id join (the corpus never exchanges at any stage). At
    * 100 TB the cell id is the partition key (partition-pruned probes) and
    * the codes column is the only thing the ADC scan reads.
    */
  def ivfPqAnn(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopKOf(spark, dir, _.filter(col("vec_id") < 10))

  /** The IVF-PQ machinery behind q144 AND q142's indexed dense arm, with
    * the query batch abstracted: `querySel` picks the query rows out of the
    * cached corpus frame (columns vec_id, v, norm, qv). Returns the ranked
    * (query_id, rank, neighbor_id, cell, pqdot, cosine) frame, rank ≤
    * [[RecallK]]. Everything scale-relevant in [[ivfPqAnn]]'s scaladoc —
    * zero-shuffle index build, codes-only ADC, broadcast-bounded exact
    * re-rank — holds for ANY query batch small enough to broadcast. */
  private[graft] def ivfPqTopKOf(spark: SparkSession, dir: String,
      querySel: DataFrame => DataFrame, nprobe: Int = IvfProbes,
      rerank: Int = IvfPqReRank, k: Int = RecallK): DataFrame = {
    // the returned list is only as deep as the re-rank pool feeding it
    require(k <= rerank, s"top-k depth $k exceeds re-rank pool $rerank")
    import org.apache.spark.sql.expressions.Window
    // drop the sign-sketch bucket BEFORE the cache: q144 never probes by
    // sketch, and column pruning then elides the 8-plane projection per
    // vector (q125 pays it too, but its cache is shared with q91's path)
    val e = vectors(spark, dir).drop("bucket", "label")
      .withColumn("qv", transform(col("v"),
        x => floor(x / col("norm") * QuantScale + 0.5).cast("long")))
      .cache()
    // PQ codebook: q125's deterministic training slice (64 int8 rows)
    val trainRows = e.filter(col("vec_id") % PqTrainMod === 0)
      .orderBy(col("vec_id")).limit(PqCodes)
      .select(col("qv")).collect()
    val codebook: Array[Array[Array[Long]]] = Array.tabulate(PqM) { m =>
      trainRows.map(_.getSeq[Long](0).slice(m * PqL, (m + 1) * PqL).toArray)
    }
    // IVF coarse codebook: q55's first-K centroids
    val cents = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("norm").as("cn"))
    val (cids, cvs) = collectCodebook(cents, "cent_id", "cv")
    val nc = graft.functions.NearestCentroid(col("v"), col("norm"), cids, cvs,
      byCosine = true)
    // the index: (cell, 6-byte codes) per vector — one narrow projection
    val indexed = e.select(col("vec_id"), col("qv"), nc.as("nc"))
      .select(col("vec_id"), col("qv"), col("nc.cluster").as("cell"))
      .withColumn("codes", graft.functions.PqEncode(col("qv"), codebook))
      .drop("qv")
    // query probes: nearest cells via the batch×K windowed frame (q55's form)
    val scoredQ = querySel(e).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("norm"), col("qv"), col("cent_id"),
        (dot(col("v"), col("cv")) / (col("norm") * col("cn"))).as("ccos"))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val probes = scoredQ.withColumn("crn", row_number().over(byVec))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("fqv"), col("norm").as("qn"),
        col("qv").as("qqv"), col("cent_id").as("cell"))
    // stage 1 — ADC inside probed cells: integer dots from codes only;
    // nothing wider than (query_id, neighbor_id, cell, pqdot) leaves it
    val adc = indexed
      .join(broadcast(probes.select(col("query_id"), col("qqv"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
        graft.functions.PqAdcDot(col("qqv"), col("codes"), codebook).as("pqdot"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("pqdot").desc, col("neighbor_id"))
    val candTop = adc.withColumn("crn2", row_number().over(wAdc))
      .filter(col("crn2") <= rerank)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("pqdot"))
    // stage 2 — exact re-rank: fetch ≤ C·batch float vectors by broadcast
    // id join and rank the refined pool by 6-dp cosine
    val fetched = e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("norm").as("nn"))
      .join(broadcast(candTop), Seq("neighbor_id"))
      .join(broadcast(probes.select(col("query_id"), col("fqv"), col("qn"))
        .dropDuplicates("query_id")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("pqdot"),
        pround(dot(col("nv"), col("fqv")) / (col("nn") * col("qn")), 6).as("cosine"))
    val wf = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    fetched.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cell"),
        col("pqdot"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The IVF-PQ oracle CTE chain (quantize → codebooks → index → probe →
    * ADC → exact re-rank), parameterized on an `iqsel(vec_id)` CTE that
    * must precede it, so q142's indexed-mode oracle splices the exact same
    * text q144 hash-checks. Expects `vecs` in scope; CTE names are
    * i-prefixed to avoid colliding with the lexical body's `q`. Ends with
    * `ir` = ranked (query_id, rank, neighbor_id, cell, pqdot, cosine). */
  private[graft] def ivfPqCteChainSql(nprobe: Int = IvfProbes,
      rerank: Int = IvfPqReRank): String = {
    s"""iqz AS (SELECT vec_id, v, norm,
       |         [CAST(floor(v[i] / norm * $QuantScale + 0.5) AS BIGINT)
       |          for i in generate_series(1, $Dim)] AS qv
       |       FROM vecs),
       |itr AS (SELECT qv, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
       |       FROM (SELECT vec_id, qv FROM iqz WHERE vec_id % $PqTrainMod = 0
       |             ORDER BY vec_id LIMIT $PqCodes)),
       |ims AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |icb AS (SELECT m, cid, qv[m*$PqL+1 : m*$PqL+$PqL] AS c
       |       FROM itr CROSS JOIN ims),
       |ienc AS (SELECT vec_id, m, cid FROM (
       |    SELECT z.vec_id, icb.m, icb.cid,
       |      row_number() OVER (PARTITION BY z.vec_id, icb.m ORDER BY
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          [(z.qv[icb.m*$PqL+i] - icb.c[i]) * (z.qv[icb.m*$PqL+i] - icb.c[i])
       |           for i in generate_series(1, $PqL)]), (a, b) -> a + b),
       |        icb.cid) AS rn
       |    FROM iqz z CROSS JOIN icb) WHERE rn = 1),
       |icents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM vecs WHERE vec_id < $IvfK),
       |icsc AS (SELECT vec_id, cent_id, ${dotSql("v", "cv")} / (norm * cn) AS ccos
       |        FROM vecs CROSS JOIN icents),
       |icrk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
       |        FROM icsc),
       |iassigned AS (SELECT vec_id, cent_id AS cell FROM icrk WHERE crn = 1),
       |iprobes AS (SELECT c.vec_id AS query_id, c.cent_id AS cell
       |           FROM icrk c JOIN iqsel s ON c.vec_id = s.vec_id WHERE c.crn <= $nprobe),
       |iq AS (SELECT z.vec_id AS query_id, z.v AS fqv, z.norm AS qn, z.qv AS qqv
       |       FROM iqz z JOIN iqsel s ON z.vec_id = s.vec_id),
       |ipool AS (SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
       |         FROM iassigned a JOIN iprobes p ON a.cell = p.cell
       |         WHERE a.vec_id <> p.query_id),
       |iad AS (SELECT pl.query_id, pl.neighbor_id, pl.cell,
       |         CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           [q.qqv[e.m*$PqL+i] * icb.c[i] for i in generate_series(1, $PqL)]),
       |           (a, b) -> a + b)) AS BIGINT) AS pqdot
       |       FROM ipool pl JOIN ienc e ON e.vec_id = pl.neighbor_id
       |       JOIN icb ON e.m = icb.m AND e.cid = icb.cid
       |       JOIN iq q ON q.query_id = pl.query_id
       |       GROUP BY 1, 2, 3),
       |ict AS (SELECT query_id, neighbor_id, cell, pqdot FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY pqdot DESC, neighbor_id) AS crn2 FROM iad)
       |       WHERE crn2 <= $rerank),
       |irr AS (SELECT ct.query_id, ct.neighbor_id, ct.cell, ct.pqdot,
       |         floor((${dotSql("z.v", "q.fqv")} / (z.norm * q.qn)) * 1e6 + 0.5) / 1e6 AS cosine
       |       FROM ict ct JOIN iqz z ON z.vec_id = ct.neighbor_id
       |       JOIN iq q ON q.query_id = ct.query_id),
       |ir AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank FROM irr)""".stripMargin
  }

  /** The q144 oracle: q55's cell CTEs + q125's codebook/encode CTEs + the
    * ADC-then-refine ranking, generated from the same constants. */
  def ivfPqAnnSql: String = {
    s"""$vectorsCteSql,
       |iqsel AS (SELECT vec_id FROM vecs WHERE vec_id < 10),
       |${ivfPqCteChainSql()}
       |SELECT query_id, rank, neighbor_id, cell, pqdot, cosine FROM ir
       |WHERE rank <= $RecallK ORDER BY query_id, rank""".stripMargin
  }

  /** q146 drift geometry: fixed-width bins over the embedding component
    * range, Laplace-smoothed PSI with the industry 0.1 moderate-shift
    * threshold. Fixed bins (not per-slice quantiles) keep the statistic a
    * pure counting aggregate — deterministic, mergeable, and identical in
    * the oracle. */
  val DriftBins = 8
  val DriftBinWidth = 0.25 // bins tile [-1, 1]; components clamp into [0, 7]
  val DriftPsiThreshold = 0.1

  /** q146: embedding drift detection — per-dimension population stability
    * index (PSI) plus exact total-variation distance between a REFERENCE
    * corpus slice and a CANDIDATE slice (here: even vs odd labels — two
    * different topical mixes, the shape of comparing last month's crawl
    * snapshot against this month's). This is the distribution-shift
    * monitor every production training pipeline runs before admitting a
    * new data batch: a dimension whose PSI crosses
    * [[DriftPsiThreshold]] means the new slice's embedding geometry moved
    * and downstream ANN/cluster assignments trained on the reference are
    * stale.
    *
    * Determinism: binning is exact double arithmetic (floor of a linear
    * map, clamped — identical FP ops both engines); counts are integers;
    * PSI folds its 8 Laplace-smoothed bin terms IN BIN ORDER through a
    * sequential left-fold (same add sequence both engines, the q140
    * discipline), and the TV numerator is EXACT integer arithmetic
    * (Σ|ca·n_cand − cb·n_ref|) divided once at the end.
    *
    * Scale shape: one narrow posexplode projection → ONE hash aggregate on
    * (dim, bin) — 512 groups with map-side partials, so the corpus
    * contributes counting only and nothing wider than (dim, bin) ever
    * shuffles; the grid join, per-dim folds and threshold verdicts touch
    * 512/64 rows. At 100 TB this is the cheapest possible full-corpus
    * statistic (a pure count cube), and the reference slice's histogram
    * would be a precomputed 512-row table.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDriftOf(spark,
      Tables.embeddings(spark, dir)
        .transform(Tables.fanout)
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
        .withColumn("slice", when(col("label") % 2 === 0, lit("ref")).otherwise(lit("cand"))))

  /** Core of q146 over any (slice, v) frame — split out so the spec can
    * drive the drifted=true verdict on a planted-shift fixture (the
    * harness corpus's even/odd-label mix tops out at PSI ≈ 0.067, below
    * the 0.1 threshold). */
  private[graft] def embeddingDriftOf(spark: SparkSession, e: DataFrame): DataFrame = {
    val binned = e.select(col("slice"), posexplode(col("v")))
      .select(col("slice"), col("pos").cast("long").as("dim_idx"),
        least(greatest(floor((col("col") + 1.0) / DriftBinWidth), lit(0.0)),
          lit((DriftBins - 1).toDouble)).cast("long").as("bin"))
    val counts = binned.groupBy(col("dim_idx"), col("bin"))
      .agg(sum(when(col("slice") === "ref", 1L).otherwise(0L)).as("ca"),
           sum(when(col("slice") =!= "ref", 1L).otherwise(0L)).as("cb"))
    // full (dim × bin) grid: unoccupied bins still carry a Laplace term
    // when the slice sizes differ, so they must exist as zero rows
    val grid = spark.range(Dim).select(col("id").as("dim_idx"))
      .crossJoin(spark.range(DriftBins).select(col("id").as("bin")))
      .join(counts, Seq("dim_idx", "bin"), "left")
      .select(col("dim_idx"), col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
    val perDim = grid.groupBy(col("dim_idx"))
      .agg(sort_array(collect_list(struct(col("bin"), col("ca"), col("cb")))).as("bins"),
           sum(col("ca")).as("n_ref"), sum(col("cb")).as("n_cand"))
    val pa = (x: Column) => (x.getField("ca") + 1.0) / (col("n_ref") + DriftBins)
    val pb = (x: Column) => (x.getField("cb") + 1.0) / (col("n_cand") + DriftBins)
    perDim
      .withColumn("psi", pround(aggregate(col("bins"), lit(0.0),
        (acc, x) => acc + (pa(x) - pb(x)) * log(pa(x) / pb(x))), 6))
      // the |ca*n_cand - cb*n_ref| cross-products are folded in
      // DECIMAL(38,0), not int64: at the ~1e10+ vectors-per-slice scale the
      // scaladoc targets, a long product wraps silently and corrupts tv —
      // decimal addition/multiplication is exact in both engines and the
      // single final cast to double happens in the tv division below
      .withColumn("tv_num", aggregate(col("bins"), lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"),
        (acc, x) => acc + abs(x.getField("ca").cast("decimal(38,0)") * col("n_cand")
          - x.getField("cb").cast("decimal(38,0)") * col("n_ref"))))
      .select(col("dim_idx"), col("n_ref"), col("n_cand"), col("psi"),
        pround(col("tv_num") * lit(1.0) / (col("n_ref") * col("n_cand") * 2.0), 6).as("tv"),
        (col("psi") >= DriftPsiThreshold).as("drifted"))
      .orderBy(col("dim_idx"))
  }

  /** The q146 oracle: the same count cube, grid, and in-order folds. */
  def embeddingDriftSql: String = {
    val ctes = embeddingDriftCtesOf(
      "CASE WHEN label % 2 = 0 THEN 'ref' ELSE 'cand' END")
    s"""WITH $ctes
       |SELECT dim_idx, n_ref, n_cand,
       |  ${graft.functions.PortableHash.proundSql("psi_raw", 6)} AS psi,
       |  ${graft.functions.PortableHash.proundSql("tv_num * 1.0 / (n_ref * n_cand * 2.0)", 6)} AS tv,
       |  ${graft.functions.PortableHash.proundSql("psi_raw", 6)} >= $DriftPsiThreshold AS drifted
       |FROM ps ORDER BY dim_idx""".stripMargin
  }

  /** The q146 CTE chain (`e` → … → `ps` with per-dim psi_raw/tv_num) with
    * the slice expression parameterized — factored so q152's retrain gate
    * and q146's report can never disagree on the PSI machinery. Returned
    * WITHOUT the leading WITH keyword. */
  def embeddingDriftCtesOf(sliceExpr: String, p: String = ""): String = {
    val bMax = DriftBins - 1
    s"""${p}e AS (SELECT $sliceExpr AS slice,
       |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${p}dims AS (SELECT unnest(generate_series(0, ${Dim - 1})) AS dim_idx),
       |${p}bs AS (SELECT unnest(generate_series(0, $bMax)) AS bin),
       |${p}bn AS (SELECT slice, d.dim_idx,
       |         LEAST(GREATEST(CAST(floor((v[CAST(d.dim_idx AS INT) + 1] + 1.0) / $DriftBinWidth) AS BIGINT), 0), $bMax) AS bin
       |       FROM ${p}e CROSS JOIN ${p}dims d),
       |${p}ct AS (SELECT dim_idx, bin,
       |         CAST(sum(CASE WHEN slice = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN slice = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |       FROM ${p}bn GROUP BY 1, 2),
       |${p}grid AS (SELECT d.dim_idx, b.bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |         FROM ${p}dims d CROSS JOIN ${p}bs b LEFT JOIN ${p}ct USING (dim_idx, bin)),
       |${p}pd AS (SELECT dim_idx,
       |         list([ca, cb] ORDER BY bin) AS bins,
       |         CAST(sum(ca) AS BIGINT) AS n_ref, CAST(sum(cb) AS BIGINT) AS n_cand
       |       FROM ${p}grid GROUP BY 1),
       |${p}ps AS (SELECT dim_idx, n_ref, n_cand,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           [((x[1] + 1.0) / (n_ref + $DriftBins) - (x[2] + 1.0) / (n_cand + $DriftBins))
       |              * ln(((x[1] + 1.0) / (n_ref + $DriftBins)) / ((x[2] + 1.0) / (n_cand + $DriftBins)))
       |            for x in bins]), (a, b) -> a + b) AS psi_raw,
       |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |           [abs(CAST(x[1] AS HUGEINT) * n_cand - CAST(x[2] AS HUGEINT) * n_ref) for x in bins]), (a, b) -> a + b) AS tv_num
       |       FROM ${p}pd)""".stripMargin
  }

  /** Fixed-point scale for q96's centroid arithmetic: components are
    * quantized to 2^-24 (≈6e-8, far below the 6dp/4dp output rounding) so
    * every aggregate — component sums, dot products, squared norms — is
    * EXACT arithmetic. Component sums are longs (overflow at ~6e10 vectors
    * per label); their pairwise products are summed as DECIMAL(38,0), which
    * both engines add exactly, then cast to double ONCE — so the whole
    * computation is order-independent across partitions and engines.
    */
  private val CentroidQ = (1L << 24).toDouble

  /** q96: inter-centroid similarity matrix — cosine + euclidean distance
    * between every pair of per-label centroid vectors: the cluster-separation
    * audit run after IVF training / embedding drift checks. The pair matrix
    * is k² (tiny — k labels), computed as a dim-equality self-join + hash
    * aggregate, so it never materializes vectors per group.
    *
    * Determinism: all sums run in exact fixed-point integer space
    * ([[CentroidQ]]), so results are order-independent across partitions
    * and engines — a float sum(ca·cb) flips its last rounded digit when the
    * fold order changes. Cosine needs no rescaling at all (scale factors
    * cancel); euclidean divides the integer sums back down once.
    */
  def centroidSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .transform(Tables.fanout)
    // per-(label, dim): exact integer component sum + the label's vector count
    val cents = e.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("col").cast("double") * CentroidQ + 0.5).cast("long")).as("sq"),
           count(lit(1)).as("cnt"))
      .cache()
    def dec(c: Column): Column = c.cast("decimal(18,0)")
    val norms = cents.groupBy(col("label"))
      .agg(sum(dec(col("sq")) * dec(col("sq"))).cast("double").as("n2i"),
           max(col("cnt")).as("cnt"))
    val pairs = cents.select(col("label").as("label_a"), col("pos"), col("sq").as("sa"))
      .join(cents.select(col("label").as("label_b"), col("pos"), col("sq").as("sb")), "pos")
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(dec(col("sa")) * dec(col("sb"))).cast("double").as("doti"))
    // real-valued centroid scale factors: centroid dim = sq / (cnt · Q)
    val da = col("cnt_a") * CentroidQ
    val db = col("cnt_b") * CentroidQ
    pairs
      .join(norms.select(col("label").as("label_a"), col("n2i").as("na2i"), col("cnt").as("cnt_a")), "label_a")
      .join(norms.select(col("label").as("label_b"), col("n2i").as("nb2i"), col("cnt").as("cnt_b")), "label_b")
      .select(col("label_a"), col("label_b"),
        // scale cancels between dot and the norm product
        pround(col("doti") / (sqrt(col("na2i")) * sqrt(col("nb2i"))), 6).as("cosine"),
        pround(sqrt(col("na2i") / (da * da) + col("nb2i") / (db * db)
                    - col("doti") * 2.0 / (da * db)), 4).as("euclid"))
      .orderBy(col("label_a"), col("label_b"))
  }

  // ---- DuckDB oracle fragments ----

  /** `[d1, d2, …]` literal for plane p. */
  def planeSqlList(p: Int): String =
    planeWeights(p).map(x => s"$x.0").mkString("[", ", ", "]")

  /** `[d1, d2, …]` literal for banded plane p. */
  def bandPlaneSqlList(p: Int): String =
    bandPlaneWeightsFor(p).map(x => s"$x.0").mkString("[", ", ", "]")

  /** The `bands` CTE (one row per vector × band) plus the `cand` CTE of
    * distinct pairs sharing ≥1 band — the oracle twin of [[lshCandidates]].
    * Append after [[vectorsCteSql]]. Renders with the SESSION-resolved
    * `graft.lsh.bandBits` (falling back to the
    * default when no session is active), so the oracle twin tracks the
    * production path under conf overrides instead of silently comparing
    * different semantics.
    */
  def bandsCteSql: String = {
    val bandBits = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(resolvedBandBits).getOrElse(BandBits)
    val perBand = (0 until Bands).map { b =>
      val v = (0 until bandBits).map { j =>
        s"(CASE WHEN ${dotSql("v", bandPlaneSqlList(b * bandBits + j))} >= 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band_idx, $v AS band_val FROM vecs"
    }.mkString(" UNION ALL ")
    s"""bands AS ($perBand),
       |bandsz AS (SELECT band_idx, band_val, count(*) AS bdf
       |  FROM bands GROUP BY 1, 2),
       |cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(count(*) AS BIGINT) AS n_bands
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id
       |  JOIN bandsz s
       |    ON s.band_idx = a.band_idx AND s.band_val = a.band_val
       |  WHERE s.bdf <= $MaxBucket
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Sequential-fold dot product in DuckDB (same op order as Spark). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
    s"[($a)[i] * ($b)[i] for i in generate_series(1, $Dim)]), (acc, x) -> acc + x)"

  /** The `vectors` CTE: v, norm, bucket. */
  def vectorsCteSql: String = {
    val bucket = (0 until Planes).map { p =>
      s"(CASE WHEN ${dotSql("v", planeSqlList(p))} >= 0 THEN (CAST(1 AS BIGINT) << $p) ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |vecs AS (SELECT vec_id, label, v,
       |  sqrt(${dotSql("v", "v")}) AS norm,
       |  $bucket AS bucket
       |FROM e)""".stripMargin
  }

  /** q116: one deterministic Lloyd (k-means) iteration over the embedding
    * corpus — the IVF *training* step that q55's ANN search assumes already
    * ran. Seeds are the first [[IvfK]] vectors (the same codebook q55
    * probes); every vector is assigned to its nearest centroid by squared
    * euclidean distance (‖v‖² − 2·v·c + ‖c‖², ties to the lower id), and
    * the step emits the per-cluster convergence diagnostics a training loop
    * watches: member count, inertia (sum of min-distances — the k-means
    * objective), and how far each centroid moved.
    *
    * Determinism across engines: distances are sequential left-fold dots
    * (bit-identical to the oracle); inertia is summed as 1e-6-scaled
    * integers and centroid shift as 1e-4-scaled integer component deltas,
    * so neither depends on partition/accumulation order. The new-centroid
    * mean reuses q63's exploded hash-agg shape.
    *
    * Scale shape: assignment is ONE narrow codegen'd projection — the
    * [[graft.functions.NearestCentroid]] argmin with the K centroids as a
    * reference object (the broadcast-equivalent driver materialization), so
    * the corpus never expands K-fold and never shuffles for assignment; the
    * re-estimation aggregates on (cluster, dim) — 1024 uniform keys with
    * map-side partial sums. Iterating = re-running with the emitted
    * centroids as the next codebook.
    */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).transform(Tables.fanout)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val (cids, cvs) = collectCodebook(cents, "cent_id", "cv")
    val nc = graft.functions.NearestCentroid(col("v"), lit(0.0), cids, cvs,
      byCosine = false)
    val assigned = e.select(col("vec_id"), col("v"), nc.as("nc"))
      .select(col("vec_id"), col("v"), col("nc.cluster").as("cluster"),
        floor(col("nc.dist2") * lit(1e6) + lit(0.5)).cast("long").as("d2i"))
    // mean via 1e-9-scaled integer sums (the q115 normalizer trick): a
    // double `avg` is accumulation-order dependent at 4-dp rounding
    // boundaries; exact integer sums make the result partition-count
    // independent. Headroom: |component|·1e9 ≲ 1e10 per row, so the
    // per-(cluster,dim) sum stays < 2^63 up to ~1e8 members per cluster.
    val newC = assigned.select(col("cluster"), posexplode(col("v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(floor(col("col") * lit(1e9) + lit(0.5)).cast("long")).as("ci"),
           count(lit(1)).as("nn"))
      .select(col("cluster"), col("pos"),
        pround(col("ci").cast("double") / lit(1e9) / col("nn").cast("double"), 4).as("nc"))
    val oldC = cents.select(col("cent_id").as("cluster"), posexplode(col("cv")))
      .select(col("cluster"), col("pos"), pround(col("col"), 4).as("oc"))
    val shift = newC.join(oldC, Seq("cluster", "pos"))
      .select(col("cluster"),
        floor((col("nc") - col("oc")) * lit(1e4) + lit(0.5)).cast("long").as("di"))
      .groupBy(col("cluster")).agg(sum(col("di") * col("di")).as("s2i"))
      .select(col("cluster"), pround(sqrt(col("s2i") / lit(1e8)), 6).as("centroid_shift"))
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2i")).as("ii"))
      .select(col("cluster"), col("n_vecs"), (col("ii") / lit(1e6)).as("inertia"))
    sizes.join(shift, Seq("cluster")).orderBy(col("cluster"))
  }

  /** Lloyd iterations for [[kmeansTrain]] (fixed so the oracle can unroll
    * the same number of CTE blocks). */
  val KmeansIters = 3

  /** q118: full IVF codebook TRAINING — [[KmeansIters]] Lloyd iterations
    * over the embedding corpus, completing the ANN stack's lifecycle
    * (train the codebook here → q116 audits one step's diagnostics → q55
    * searches with it). Emits the final centroids as (cluster, dim_idx,
    * centroid) rows plus each cluster's final member count.
    *
    * Engine-exact iteration: assignments order by (dist2, cluster) where
    * dist2 is built from sequential left-fold dots (bit-identical across
    * engines); each re-estimated mean is a 1e-9-scaled integer sum rounded
    * to 4 dp (partition-order independent), and the NEXT iteration's
    * distances are computed from those rounded values, so every iteration's
    * inputs are bit-identical on both sides. A cluster that loses all
    * members keeps its previous centroid (rounded), both sides.
    *
    * Scale shape: the corpus NEVER shuffles — each iteration is one narrow
    * corpus scan through the [[graft.functions.NearestCentroid]] argmin
    * projection (codebook as a reference object — the broadcast-equivalent
    * driver materialization) + one (cluster, dim) hash aggregate
    * (K·Dim uniform keys, partial map-side). Centroid state between
    * iterations is a K-row checkpoint, freed eagerly when superseded (the
    * [[TextOps.ccLargeSmallStar]] iterative-state discipline); lineage
    * never grows with iteration count. At 100 TB the same loop runs with
    * the corpus scan as the only wide input, 3 passes total.
    */
  /** The [[kmeansTrain]] loop factored out so q126's semantic dedup can
    * consume the trained codebook directly: returns `(cents, sizes)` —
    * `cents` = (cluster, cv: array<double> of 4-dp-rounded components) after
    * [[KmeansIters]] Lloyd iterations, `sizes` = (cluster, n_vecs) final
    * membership counts; both lineage-free K-row local relations.
    */
  private[operators] def trainedCodebook(spark: SparkSession, dir: String,
      k0: Int = IvfK): (DataFrame, DataFrame) =
    codebookAsset(spark, dir, "full", k0) {
      val corpus = Tables.embeddings(spark, dir).transform(Tables.fanout)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // lowest-k0 seed rule — the SAME rule the oracle's c0 CTE encodes
      // (`vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT k)`), so the
      // two sides agree even on sparse id spaces; on the dense harness corpus
      // this is the historical `vec_id < k0` set
      trainedCodebookOf(spark, corpus, corpus.orderBy(col("vec_id")).limit(k0))
    }

  /** Layout version of the persisted codebook artifacts — bump when the
    * training recipe changes. */
  private[graft] val CodebookVersion = 1

  private val codebookMemo = new graft.assets.AssetStore.SessionMemo[
    (String, String, Int), (Array[Long], Array[Array[Double]], Array[(Long, Long)])]

  /** The trained-codebook ASSET (round 16): [[trainedCodebookOf]]'s K-row
    * result persisted per (corpus version, training slice, K) through
    * [[graft.assets.AssetStore]], so the Lloyd passes run once per corpus
    * version — q118 publishes the full-corpus codebook q126 then consumes,
    * and q152's pre-batch slice codebook survives across maintenance jobs
    * (its incremental-vs-rebuild argmin passes stay independent; only the
    * TRAINING is shared). In-session the memo holds driver ARRAYS, so the
    * rebuilt K-row local relations are lineage-free and clearCache-immune.
    *
    * With persistence disabled (PlanAudit, the scale probes) the asset
    * layer steps aside entirely and every call trains: the probes grade
    * training plans, and even a session memo would let a ×10 re-run skip
    * work its ×20 twin paid, skewing the slope. */
  private[operators] def codebookAsset(spark: SparkSession, dir: String,
      sliceTag: String, k0: Int)(
      train: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    import spark.implicits._
    if (graft.assets.AssetStore.assetsRoot(spark).isEmpty) train
    else {
      val (cids, cvs, szs) = codebookMemo.getOrBuild(spark, (dir, sliceTag, k0)) {
        val merged = graft.assets.AssetStore.loadOrBuild(
            spark, dir, s"codebook_${sliceTag}_k$k0", CodebookVersion) {
          val (cents, sizes) = train
          // one row per cluster; memberless clusters carry NULL n_vecs
          cents.join(sizes, Seq("cluster"), "left")
        }
        val rows = merged.select(col("cluster").cast("long"), col("cv"),
          col("n_vecs").cast("long")).collect()
        // Bound the driver materialization by the REQUESTED k0, not a fixed
        // constant: under the K ∝ n default (resolvedSemK) k0 itself grows
        // with the corpus, and a fixed 4096 would hard-fail semanticDedup
        // at ~5.1M embeddings — exactly the enabled-asset production mode
        // this layer targets (ADVICE r16). A codebook has ≤ k0 clusters by
        // construction, so anything larger is a corrupt/mismatched artifact.
        require(rows.length <= math.max(k0, 1),
          s"codebook artifact larger than its requested k0=$k0: ${rows.length} rows")
        val sorted = rows.sortBy(_.getLong(0))
        (sorted.map(_.getLong(0)),
         sorted.map(_.getSeq[Double](1).toArray),
         sorted.filter(!_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(2))))
      }
      (cids.zip(cvs).map { case (c, v) => (c, v.toSeq) }.toSeq.toDF("cluster", "cv"),
       szs.toSeq.toDF("cluster", "n_vecs"))
    }
  }

  /** [[trainedCodebook]] over an ARBITRARY (vec_id, v) relation with
    * explicit seed rows — the q152 index-maintenance form, where the
    * codebook must be trained on the pre-batch corpus slice only (its
    * seeds are the slice's lowest-k0 vec_ids, not `vec_id < k0`). */
  private[operators] def trainedCodebookOf(spark: SparkSession,
      corpus: DataFrame, seeds: DataFrame): (DataFrame, DataFrame) = {
    // K seed rows to the driver once — the same bounded materialization the
    // frame-per-iteration form paid via collectCodebook EVERY iteration.
    var (cids, cvs) = collectCodebook(seeds, "vec_id", "v")
    // The per-iteration collect below is K·Dim rows (~30 bytes each); that
    // stays a bounded driver materialization only while K·Dim is bounded.
    // Budget 2^20 rows ≈ 30 MB — trivially driver-safe, and under the
    // K ∝ n default (resolvedSemK, width 1250) it covers corpora to ~20M
    // embeddings at Dim=64 (K=16384). Fail loudly past that: the honest
    // production lever beyond this budget is distributed centroid
    // re-estimation (keep the (cluster, dim) aggregate as a relation and
    // join it back), not a silently unbounded collect.
    val dim = cvs.headOption.map(_.length).getOrElse(0)
    require(cids.length.toLong * dim <= (1L << 20),
      s"trainedCodebookOf: K*Dim = ${cids.length}*$dim exceeds the bounded " +
        "driver-collect budget for the per-iteration Lloyd aggregate")
    var lastAgg: Array[(Long, Int, Long, Long)] = Array.empty
    for (_ <- 1 to KmeansIters) {
      // The ONLY distributed work per Lloyd iteration: one narrow corpus
      // scan through the NearestCentroid argmin projection (q116's plan —
      // no K-fold expansion, no Exchange+Sort on vec_id) into the
      // (cluster, dim) hash aggregate (K·Dim uniform keys, partial
      // map-side), collected to the driver. K·Dim ≤ 1024 rows — the same
      // driver budget as the per-iteration codebook collect. Centroid
      // re-estimation over those rows is driver arithmetic below
      // (bit-identical expression order); the old form ran it as two more
      // jobs plus two localCheckpoints per iteration, a FIXED per-iteration
      // overhead that dominated training time at every corpus size.
      val nc = graft.functions.NearestCentroid(col("v"), lit(0.0), cids, cvs,
        byCosine = false)
      lastAgg = corpus.select(nc.getField("cluster").as("cluster"), col("v"))
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(floor(col("col") * lit(1e9) + lit(0.5)).cast("long")).as("ci"),
             count(lit(1)).as("nn"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val byKey = lastAgg.map(t => ((t._1, t._2), (t._3, t._4))).toMap
      // means: pround(ci/1e9/nn, 4) in the exact Spark expression order
      // (cast-to-double, left-assoc divides, floor(x·1e4+0.5)/1e4); empty
      // clusters keep their previous centroid's 4-dp view — identical to
      // the coalesce(nc, pround(prev, 4)) carry-forward rule
      val f4 = math.pow(10, 4)
      cvs = cids.zip(cvs).map { case (cid, prev) =>
        Array.tabulate(prev.length) { p =>
          byKey.get((cid, p)) match {
            case Some((ci, nn)) =>
              math.floor(ci.toDouble / 1e9 / nn.toDouble * f4 + 0.5) / f4
            case None => math.floor(prev(p) * f4 + 0.5) / f4
          }
        }
      }
    }
    // rebuild the K-row result frames (lineage-free local relations — the
    // checkpoint discipline for free); memberless clusters are absent from
    // sizes, as before (the consumers' left joins coalesce them to 0)
    import spark.implicits._
    val cents = cids.zip(cvs).map { case (c, v) => (c, v.toSeq) }.toSeq
      .toDF("cluster", "cv")
    val sizes = lastAgg.filter(_._2 == 0).map(t => (t._1, t._4)).toSeq
      .toDF("cluster", "n_vecs")
    (cents, sizes)
  }

  def kmeansTrain(spark: SparkSession, dir: String): DataFrame = {
    val (cents, sizes) = trainedCodebook(spark, dir)
    cents.select(col("cluster"), posexplode(col("cv")))
      .select(col("cluster"), col("pos").cast("long").as("dim_idx"),
        pround(col("col"), 4).as("centroid"))
      .join(sizes, Seq("cluster"), "left")
      .select(col("cluster"), col("dim_idx"), col("centroid"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .orderBy(col("cluster"), col("dim_idx"))
  }

  /** The q118 oracle: the same [[KmeansIters]] Lloyd iterations unrolled as
    * DuckDB CTE blocks (one assignment + re-estimation + carry-forward +
    * array-rebuild block per iteration), generated from the SAME constants
    * so Spark and SQL can never disagree on iteration count or tie rules.
    */
  def kmeansTrainSql: String = {
    import graft.functions.PortableHash.proundSql
    val g = "(SELECT unnest(generate_series(1, 64)) AS i) g"
    s"""WITH $kmeansCteBodySql,
       |s AS (SELECT cluster, count(*) AS n_vecs FROM a$KmeansIters GROUP BY cluster)
       |SELECT c.cluster, CAST(i - 1 AS BIGINT) AS dim_idx,
       |  ${proundSql("cv[i]", 4)} AS centroid,
       |  coalesce(n_vecs, 0) AS n_vecs
       |FROM c$KmeansIters c CROSS JOIN $g LEFT JOIN s ON c.cluster = s.cluster
       |ORDER BY c.cluster, dim_idx""".stripMargin
  }

  /** The shared CTE body of the unrolled k-means training loop (`e`, `c0`,
    * then one a/m/r/c block per iteration, ending at `c[[KmeansIters]]`) —
    * factored so [[kmeansTrainSql]] (q118) and [[semanticDedupSql]] (q126)
    * can never disagree on the codebook. Returned WITHOUT the leading
    * `WITH`/`WITH RECURSIVE` keyword (q126's consumer needs RECURSIVE for
    * its reachability CTE).
    */
  def kmeansCteBodySql: String = kmeansCteBodySqlOf("")

  /** [[kmeansCteBodySql]] over a filtered embeddings slice: `eWhere` is an
    * SQL predicate restricting the training corpus (empty = all). Seeds are
    * the slice's lowest-[[IvfK]] vec_ids — on the dense full corpus that IS
    * the historical `vec_id < IvfK` rule, and on a slice it is what
    * [[trainedCodebookOf]] computes. */
  def kmeansCteBodySqlOf(eWhere: String, kSql: String = IvfK.toString): String = {
    import graft.functions.PortableHash.proundSql
    val whereClause = if (eWhere.isEmpty) "" else s" WHERE $eWhere"
    val g = "(SELECT unnest(generate_series(1, 64)) AS i) g"
    def dist2(cv: String) =
      s"${dotSql("e.v", "e.v")} - 2.0 * ${dotSql("e.v", cv)} + ${dotSql(cv, cv)}"
    val blocks = (1 to KmeansIters).map { k =>
      val prev = s"c${k - 1}"
      s"""a$k AS (SELECT vec_id, v, cluster FROM (
         |  SELECT e.vec_id, e.v, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist2("c.cv")}, c.cluster) AS rn
         |  FROM e CROSS JOIN $prev c) WHERE rn = 1),
         |m$k AS (SELECT cluster, i - 1 AS pos,
         |  ${proundSql(
               "CAST(CAST(sum(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS BIGINT) " +
               "AS DOUBLE) / 1e9 / count(*)", 4)} AS nc
         |  FROM a$k CROSS JOIN $g GROUP BY 1, 2),
         |r$k AS (SELECT p.cluster, p.pos, coalesce(m.nc, p.pc) AS nc
         |  FROM (SELECT cluster, i - 1 AS pos, ${proundSql("cv[i]", 4)} AS pc
         |        FROM $prev CROSS JOIN $g) p
         |  LEFT JOIN m$k m ON p.cluster = m.cluster AND p.pos = m.pos),
         |c$k AS (SELECT cluster, list(nc ORDER BY pos) AS cv FROM r$k GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$whereClause),
       |c0 AS (SELECT vec_id AS cluster, v AS cv FROM e
       |       WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT $kSql)),
       |$blocks""".stripMargin
  }

  /** q152: drift-gated ANN index maintenance — the pass a production
    * vector store runs when a freshly crawled batch lands, closing the
    * loop between admission (q111), drift monitoring (q146) and the
    * trained IVF index (q118/q116):
    *
    *  1. the EXISTING index's codebook is trained on the pre-batch corpus
    *     slice only ([[trainedCodebookOf]] — the new batch must not have
    *     influenced centroids that predate it);
    *  2. newly ADMITTED vectors = q111's `verdict = 'new'` documents (the
    *     dedup gate already rejected exact/near duplicates; vec_id shares
    *     doc_id's id space);
    *  3. admitted vectors get INCREMENTAL cell assignments through the
    *     same broadcast [[graft.functions.NearestCentroid]] argmin q116
    *     owns — one narrow codegen'd projection over the batch, the
    *     existing index untouched;
    *  4. under conf `graft.ann.verifyRebuild` (Verify/spec on, bench off —
    *     see [[rebuildProofOn]]) the query also runs the BATCH-REBUILD
    *     twin (assign the full corpus with the same codebook, restrict to
    *     the admitted ids) and emits `n_mismatch` — the hash-checked PROOF
    *     that incremental assignment equals a full rebuild, i.e. the
    *     maintenance shortcut loses nothing while drift stays low;
    *  5. q146's PSI machinery over (corpus, batch) slices gates the
    *     verdict: any drifted dimension → `action = 'retrain'` (the
    *     incremental assignments are then stale by construction — spec
    *     drives this path on a planted-shift fixture), else
    *     `action = 'assign_incremental'`.
    *
    * Scale shape: every stage is an already-audited plan — q111's
    * index-probe joins, three Lloyd passes that never shuffle the corpus,
    * two broadcast-argmin projections, and the (dim, bin) count cube. The
    * only new work is the FULL-JOIN mismatch check on the admitted-id set
    * (batch-sized, not corpus-sized).
    */
  /** Retrain when at least this many of the [[Dim]] dimensions drift: a
    * handful of threshold-grazing dims is PSI's Laplace small-sample noise
    * (the harness batch sizes sit exactly there: 7 noisy dims at sf≤0.01,
    * 0 at sf0.1), and a single genuinely moved dim of 64 barely perturbs
    * L2 argmin cells — a rebuild costs [[KmeansIters]] full corpus passes,
    * so the gate demands the shift be WIDESPREAD before paying it. */
  val RetrainMinDriftedDims: Int = Dim / 8

  /** Whether q152 carries the batch-rebuild-equality proof (the
    * `n_mismatch` column). DEFAULT OFF: the incremental assignment IS the
    * production ship — the rebuild twin exists to PROVE the shortcut loses
    * nothing, and a proof that re-assigns the full corpus on every
    * maintenance pass defeats the point of maintaining incrementally. The
    * proof form (conf `true`) runs the full-corpus twin and the
    * batch-sized full-join mismatch check; Verify enables it so the
    * driver's correctness gate still hash-checks the proof, and
    * AnnPartitionSpec pins proof-on ≡ proof-off on the shared columns
    * (the q137 `graft.overlap.exactAudit` pattern). */
  private[graft] def rebuildProofOn(spark: SparkSession): Boolean =
    graft.GraftConf.flag(spark, "graft.ann.verifyRebuild")

  /** The proof mode the LAST [[indexMaintenance]] plan built in this JVM
    * actually used — the oracle renders against THIS record (ambient conf
    * only when the query never ran), so result and oracle schema cannot
    * diverge across sessions (the q137 `overlapAuditUsed` discipline). */
  @volatile private[graft] var rebuildProofUsed: Option[Boolean] = None

  def indexMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir).transform(Tables.fanout)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val isNew = col("vec_id") % 5 === 0
    val corpus = all.filter(!isNew)
    // pre-batch slice codebook as a persisted asset: a maintenance pass
    // re-trains only when the corpus version moves (exactly the artifact
    // lifecycle q111/q158 follow); the incremental and rebuild argmin
    // passes below stay independent of each other — only training is shared
    val (cents, _) = codebookAsset(spark, dir, "mod5ne0", IvfK) {
      val seeds = corpus.orderBy(col("vec_id")).limit(IvfK)
      trainedCodebookOf(spark, corpus, seeds)
    }
    val (cids, cvs) = collectCodebook(cents, "cluster", "cv")
    val nc = graft.functions.NearestCentroid(col("v"), lit(0.0), cids, cvs,
      byCosine = false)
    def assign(df: DataFrame): DataFrame =
      df.select(col("vec_id"), nc.as("nc"))
        .select(col("vec_id"), col("nc.cluster").as("cluster"))
    val admittedIds = TextOps.incrementalDedup(spark, dir)
      .filter(col("verdict") === "new")
      .select(col("doc_id").as("vec_id"))
    val proof = rebuildProofOn(spark)
    rebuildProofUsed = Some(proof)
    // incremental path: assign ONLY the admitted batch vectors — an
    // INDEPENDENT argmin pass (deriving it from the full-assignment
    // checkpoint below would make the mismatch proof vacuous)
    val incr = assign(all.filter(isNew).join(admittedIds, Seq("vec_id")))
      .localCheckpoint()   // feeds both the mismatch check and n_new
    // proof mode: ONE full-corpus assignment pass feeds both the
    // batch-rebuild twin and the per-cluster existing counts (they
    // previously ran the NearestCentroid projection over ~1.8× the corpus
    // between them); default mode assigns ONLY the existing slice — the
    // rebuild twin never runs
    val mismatchesOpt = if (proof) {
      val asgAll = assign(all).localCheckpoint()
      val rebuild = asgAll.join(admittedIds, Seq("vec_id"))
      val m = incr.withColumnRenamed("cluster", "ci")
        .join(rebuild.withColumnRenamed("cluster", "cr"), Seq("vec_id"), "full")
        .filter(!(col("ci") <=> col("cr")))
        .agg(count(lit(1)).as("n_mismatch"))
      Some((m, asgAll.filter(!isNew)))
    } else None
    val drift = embeddingDriftOf(spark,
        all.withColumn("slice", when(isNew, lit("cand")).otherwise(lit("ref")))
          .select(col("slice"), col("v")))
      .agg(sum(when(col("drifted"), 1L).otherwise(0L)).as("n_drifted_dims"))
    val nExist = mismatchesOpt.map(_._2).getOrElse(assign(corpus))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_existing"))
    val nNew = incr.groupBy(col("cluster")).agg(count(lit(1)).as("n_new"))
    val base = cents.select(col("cluster"))
      .join(nExist, Seq("cluster"), "left")
      .join(nNew, Seq("cluster"), "left")
    val withProof = mismatchesOpt match {
      case Some((m, _)) => base.crossJoin(broadcast(m))
      case None         => base
    }
    val verdictCols = Seq(col("n_drifted_dims"),
      (col("n_drifted_dims") >= RetrainMinDriftedDims).as("retrain"),
      when(col("n_drifted_dims") >= RetrainMinDriftedDims, "retrain")
        .otherwise("assign_incremental").as("action"))
    withProof.crossJoin(broadcast(drift))
      .select(Seq(col("cluster"),
        coalesce(col("n_existing"), lit(0L)).as("n_existing"),
        coalesce(col("n_new"), lit(0L)).as("n_new")) ++
        (if (proof) Seq(col("n_mismatch")) else Nil) ++ verdictCols: _*)
      .orderBy(col("cluster"))
  }

  /** Cosine threshold for q126's intra-cluster semantic-duplicate pairs —
    * aligned with [[NearDupThreshold]] so DedupSpec can compare the
    * cluster-restricted pair set against the global brute-force one. */
  val SemDedupThreshold = 0.4

  /** q126: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540) — the embedding-space dedup tier that catches
    * paraphrases lexical dedup (q34/q36/q37/q105/q124) cannot: cluster the
    * corpus, find high-cosine pairs ONLY within each cluster, and keep the
    * best member of every connected duplicate group. Composed entirely from
    * shapes this engine already ships:
    *
    *  - codebook: [[trainedCodebook]] — q118's [[KmeansIters]] Lloyd
    *    iterations (corpus never shuffles, K-row checkpointed state);
    *  - assignment: corpus ⋈ broadcast(codebook) by min squared-euclidean,
    *    ties to the lower cluster id — q116's exact plan and tie rule;
    *  - pairs: self-join restricted to the cluster key, exact-cosine
    *    verified at ≥ [[SemDedupThreshold]] — never a global product;
    *  - groups: connected components over the pair graph ([[TextOps
    *    .ccAdaptive]] — measured-size strategy pick, distributed
    *    large-star/small-star above the gate);
    *  - keep-best: one member per group by (centroid-cosine desc, vec_id) —
    *    q117's argmax policy with centroid affinity as the quality score
    *    (the member closest to its cluster centroid is the group's most
    *    representative exemplar).
    *
    * Scale shape: clustering is WHY this beats global pair search — the
    * pair join's per-cluster width is n/K on average, and K is the growth
    * lever: production SemDeDup scales K ∝ n so cluster width — and with it
    * per-cluster pair work — stays constant (the harness pins K = [[IvfK]]
    * so the oracle reproduces the codebook). The full accounting: pair work
    * is ~n²d/K and flat-quantizer assignment is ~nKd, so a flat scan's
    * optimum K ∝ √(n) gives n^1.5 total; past that, assignment itself goes
    * hierarchical — exactly q55's IVF machinery (probe a coarse √K cell,
    * refine inside it), which restores ~n·√K·d assignment and keeps the
    * pair stage linear. Every vector is emitted with its verdict so
    * downstream filters stay a predicate.
    *
    * Determinism: assignment distances and pair/centroid cosines are
    * sequential left-fold dots over bit-identical doubles (codebook
    * components are 4-dp-rounded exact-integer means), rounded once at 6 dp;
    * group labels are component minima; ties break on integer ids.
    */
  /** q126's assignment stage: every vector with its trained cluster and
    * 6-dp centroid cosine — localCheckpointed (feeds the pair self-join's
    * both sides, the CC pass, and the output projection). Exposed so
    * DedupSpec can drive the containment law on the same instance. */
  private[graft] def semanticAssigned(spark: SparkSession, dir: String,
      k0: Int = IvfK): DataFrame = {
    val (cents0, _) = trainedCodebook(spark, dir, k0)
    val (cids, cvs) = collectCodebook(cents0, "cluster", "cv")
    val e = Tables.embeddings(spark, dir).transform(Tables.fanout)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    // q116's assignment semantics (min dist2, ties to lower id) as the
    // NearestCentroid argmin projection; the winner's v·c rides along so the
    // centroid cosine needs no second codebook pass
    val nc = graft.functions.NearestCentroid(col("v"), col("norm"), cids, cvs,
      byCosine = false)
    e.select(col("vec_id"), col("v"), col("norm"), nc.as("nc"))
      .select(col("vec_id"), col("v"), col("norm"), col("nc.cluster").as("cluster"),
        pround(col("nc.ccos"), 6).as("cent_cos"))
      .localCheckpoint()
  }

  /** q126's pair stage: intra-cluster exact-cosine duplicate pairs — the
    * equi-join key IS the cluster id, so the join's width is the cluster
    * width, never the corpus. */
  private[graft] def semanticPairsOf(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster"), col("vec_id").as("vec_a"),
        col("v").as("va"), col("norm").as("na"))
      .join(assigned.select(col("cluster"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("norm").as("nb")), "cluster")
      .filter(col("vec_a") < col("vec_b"))
      .filter(pround(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= SemDedupThreshold)
      .select(col("vec_a"), col("vec_b"))

  /** Target mean cluster width of the DEFAULT SemDeDup form: K =
    * max([[IvfK]], ⌈n / width⌉). The pinned-K harness form was round 15's
    * ONE remaining slope-allowlist entry (pair work n²/K at fixed K);
    * rounds 14–15 MEASURED the K ∝ n lever (K=16@×10 vs K=32@×20, slope
    * data-linear), so round 16 makes it the shipped default. The width is
    * chosen so every harness SF (≤2000 vectors) keeps K = [[IvfK]] — the
    * sf0.01 oracle codebook is byte-identical to the pinned-K era — while
    * the ×10/×20 tiled probes (20k/40k vectors) resolve exactly the
    * measured 16/32. The oracle computes the SAME rule in-SQL
    * (`GREATEST(IvfK, ceil(count(*)/width))` over its own `e` CTE —
    * [[semDedupKSql]]), so both engines resolve identical K at every
    * corpus size with no shared mutable record: rendering the oracle
    * before/after runs over other corpora, or concurrently from two
    * sessions, cannot skew it (ADVICE r16). */
  val SemDedupClusterWidth = 1250L

  private val embCountMemo =
    new graft.assets.AssetStore.SessionMemo[String, java.lang.Long]
  private def embeddingCount(spark: SparkSession, dir: String): Long =
    embCountMemo.getOrBuild(spark, dir)(
      Tables.embeddings(spark, dir).count())

  private[graft] def resolvedSemK(spark: SparkSession, dir: String): Int = {
    val n = embeddingCount(spark, dir)
    math.max(IvfK, math.ceil(n.toDouble / SemDedupClusterWidth).toInt)
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupK(spark, dir, resolvedSemK(spark, dir))

  /** [[semanticDedup]] with an explicit codebook size — the K ∝ n scaling
    * rule factored so the spec can drive arbitrary K and the default form
    * above stays a two-liner. */
  def semanticDedupK(spark: SparkSession, dir: String, k0: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = semanticAssigned(spark, dir, k0)
    // checkpoint the pair set BEFORE counting: the count feeds ccAdaptive's
    // strategy pick, and an unmaterialized plan would re-run the dominant
    // intra-cluster self-join for the edge collect (the dedupClusters
    // "this count is free" discipline)
    val pairs = semanticPairsOf(assigned).localCheckpoint()
    val nEdges = pairs.count()
    val groups = TextOps.ccAdaptive(
        assigned.select(col("vec_id").as("doc_id")), pairs, nEdges)
      .select(col("doc_id").as("vec_id"), col("label").as("group_id"))
    val byGroup = Window.partitionBy(col("group_id"))
      .orderBy(col("cent_cos").desc, col("vec_id"))
    assigned.select(col("vec_id"), col("cluster"), col("cent_cos"))
      .join(groups, "vec_id")
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("group_id"))))
      .withColumn("keep", row_number().over(byGroup) === 1)
      .select(col("vec_id"), col("cluster"), col("cent_cos"),
        col("group_id"), col("group_size"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** The q126 oracle: [[kmeansTrainSql]]'s unrolled training CTEs, then
    * assignment with the final codebook, intra-cluster pair discovery, a
    * recursive-CTE connected-components pass (q62's oracle pattern), and the
    * keep-best window — generated from the same constants as the Spark plan.
    */
  /** The K ∝ n rule rendered as SQL over the oracle's own `e` CTE — the
    * DuckDB mirror of [[resolvedSemK]]. Self-contained: no JVM-side record
    * of the engine run is consulted, so the rendered oracle is correct for
    * WHATEVER corpus it is later executed against. */
  private def semDedupKSql: String =
    s"GREATEST($IvfK, CAST(ceil((SELECT count(*) FROM e) / $SemDedupClusterWidth.0) AS BIGINT))"

  def semanticDedupSql: String = {
    import graft.functions.PortableHash.proundSql
    val fin = s"c$KmeansIters"
    s"""WITH RECURSIVE ${kmeansCteBodySqlOf("", semDedupKSql)},
       |cn AS (SELECT cluster, cv, sqrt(${dotSql("cv", "cv")}) AS cnorm FROM $fin),
       |vn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS norm FROM e),
       |asg AS (SELECT vec_id, v, norm, cluster,
       |    ${proundSql("ccos_raw", 6)} AS cent_cos
       |  FROM (SELECT e.vec_id, e.v, e.norm, c.cluster,
       |      ${dotSql("e.v", "c.cv")} / (e.norm * c.cnorm) AS ccos_raw,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dotSql("e.v", "e.v")} - 2.0 * ${dotSql("e.v", "c.cv")}
       |          + ${dotSql("c.cv", "c.cv")}, c.cluster) AS rn
       |    FROM vn e CROSS JOIN cn c) WHERE rn = 1),
       |prs AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${proundSql(s"${dotSql("a.v", "b.v")} / (a.norm * b.norm)", 6)}
       |    >= $SemDedupThreshold),
       |edges AS (SELECT va AS x, vb AS y FROM prs
       |          UNION ALL SELECT vb, va FROM prs),
       |reach(n, l) AS (
       |  SELECT vec_id, vec_id FROM e
       |  UNION
       |  SELECT g.y, r.l FROM reach r JOIN edges g ON r.n = g.x),
       |lab AS (SELECT n AS vec_id, min(l) AS group_id FROM reach GROUP BY n),
       |sz AS (SELECT group_id, count(*) AS group_size FROM lab GROUP BY 1)
       |SELECT a.vec_id, a.cluster, a.cent_cos, l.group_id,
       |  CAST(sz.group_size AS BIGINT) AS group_size,
       |  (row_number() OVER (PARTITION BY l.group_id
       |     ORDER BY a.cent_cos DESC, a.vec_id) = 1) AS keep
       |FROM asg a JOIN lab l USING (vec_id) JOIN sz USING (group_id)
       |ORDER BY a.vec_id""".stripMargin
  }

  /** q63: per-label centroid vectors — the distributed vector mean that
    * clustering / IVF training and embedding-drift monitoring run constantly.
    * Shape: `posexplode` the vectors into (label, dim, component) rows and
    * hash-aggregate an average per (label, dim) — one shuffle on uniform
    * small keys, partial sums map-side, and NO per-partition array state, so
    * it scales to any dimension × corpus size (the per-group alternative of
    * `aggregate()` over collected arrays would hold whole vectors per group
    * in memory). Components are summed as 1e-9-scaled integers (exact, so
    * the mean is independent of partition/accumulation order — a double
    * `avg` can flip the 4-dp rounding at boundaries).
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .transform(Tables.fanout)
    e.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim_idx"))
      .agg(sum(floor(col("col").cast("double") * lit(1e9) + lit(0.5)).cast("long")).as("ci"),
           count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim_idx"),
        pround(col("ci").cast("double") / lit(1e9) / col("n_vecs").cast("double"), 4)
          .as("centroid"),
        col("n_vecs"))
      .orderBy(col("label"), col("dim_idx"))
  }

  /** q142 fusion constants — shared with the oracle SQL. */
  val HybridPoolK = 10          // candidate-list depth per retriever
  val HybridTopK = 5            // fused results kept per query
  val RrfRankK = 60L            // the standard RRF rank-damping constant
  val RrfScale = 1000000000L    // integer contribution: Scale div (K + rank)

  /** q142's 100 TB lever: `graft.hybrid.denseIndex=true` routes the dense
    * arm through q144's IVF-PQ candidate machinery (probe [[IvfProbes]]
    * cells → integer ADC over 6-byte codes → exact re-rank) instead of the
    * exhaustive exact-cosine scan. Default OFF at harness SFs so the
    * contractual oracle keeps the exact form (the q137/q41 conf-gate
    * pattern) — but the indexed form is ALSO fully deterministic, so the
    * oracle mirrors whichever form actually ran (see
    * [[hybridDenseIndexUsed]]): either mode is hash-checked, not
    * rows-only. At 100 TB the indexed arm reads ~nprobe/[[IvfK]] of the
    * corpus from codes instead of scoring every float vector per query. */
  private[graft] def hybridDenseIndexOn(spark: SparkSession): Boolean =
    graft.GraftConf.flag(spark, "graft.hybrid.denseIndex")

  /** The hybrid dense arm's recall dials. q144's batch (vec_id < 10) sits
    * next to the vec_id < [[IvfK]] centroids, so nprobe=2/rerank=30 already
    * recall 0.73 there; the hybrid batch is ARBITRARY corpus vectors, where
    * those dials measure only 0.48 at sf0.01 — nprobe=4 with a 60-deep ADC
    * pool measures 0.633 (HybridIndexSpec floor 0.5) while still reading a
    * fixed nprobe/K fraction of the CODES, never the float corpus. On the
    * synthetic corpus the residual loss is PQ quantization noise on
    * uncorrelated random vectors — the adversarial case for PQ; real
    * embedding corpora cluster. At 100 TB K grows ∝√n and these two
    * constants are the recall/latency dials every IVF deployment tunes. */
  val HybridIvfProbes = 4
  val HybridIvfReRank = 60

  /** The dense-arm mode the LAST [[hybridRetrieval]] plan built in this JVM
    * actually used — the oracle renders against THIS record (falling back
    * to the ambient session conf only when the query never ran), the same
    * explicit-threading discipline as `Analytics.overlapAuditUsed`. */
  @volatile private[graft] var hybridDenseIndexUsed: Option[Boolean] = None

  /** q142: hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    * of the surface's two retrievers: q139's lexical tf·⌊C/df⌋ scorer and
    * q40's exact-cosine dense scorer. This is the lexical+embedding hybrid
    * search every production RAG stack runs: each retriever contributes its
    * top-[[HybridPoolK]] list per query, a document's fused score is
    * Σ ⌊[[RrfScale]] / ([[RrfRankK]] + rank)⌋ over the lists that contain
    * it (integer arithmetic — rank fusion needs no float sums, so the
    * ranking is bit-reproducible in the oracle), and the top-[[HybridTopK]]
    * fused results are kept.
    *
    * The query batch is q139's bounded slice RESTRICTED to queries that
    * have an embedding (a dense retriever needs an embedded query; at
    * sf0.1 the documents table outruns the embeddings table, so the batch
    * deterministically shrinks to the embedded prefix). The self-match is
    * dropped from BOTH lists — the retrieval-eval convention that the query
    * document is not a result — which q139 deliberately keeps; the fusion
    * would otherwise just reward the trivial hit twice.
    *
    * Scale shape: both retrievers already never shuffle the corpus — the
    * lexical side broadcasts query terms against the token stream at the
    * scan ([[graft.operators.TextOps.lexicalScored]]), the dense side
    * broadcasts the ≤[[graft.operators.TextOps.RetrQueryCap]]-row embedded
    * query table against the vector scan — and the fusion itself touches
    * only the two rank lists (≤ 2·batch·[[HybridPoolK]] rows), a
    * full-outer join on (query_id, doc_id) that AQE plans from
    * KB-sized inputs. Both top-K windows plan partial WindowGroupLimits.
    */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors(spark, dir)
    val scored = graft.operators.TextOps.lexicalScored(spark, dir)
    // the ≤batch-row embedded query table: (query_id, qv, qn), materialized
    // once (localCheckpoint) so neither side re-runs the slice. Query ids
    // come from the batch DEFINITION (a top-k id scan), not from the scored
    // lists — deriving them from `scored` re-ran the whole lexical pipeline
    // a second time (measured ~2.5 s of q142's 6.9 s warm cost), and a
    // query's batch membership is a property of the id slice, not of
    // whether any corpus document shares its terms (the dense retriever
    // needs no term overlap).
    val qids = Tables.documents(spark, dir)
      .filter(col("doc_id") % graft.operators.TextOps.RetrQueryMod === 0)
      .select(col("doc_id")).orderBy(col("doc_id"))
      .limit(graft.operators.TextOps.RetrQueryCap)
      .select(col("doc_id").as("query_id"))
    val qv = e.join(broadcast(qids), col("vec_id") === col("query_id"))
      .select(col("query_id"), col("v").as("qv"), col("norm").as("qn"))
      .localCheckpoint()
    val wl = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    val lex = scored
      .join(broadcast(qv.select(col("query_id"))), Seq("query_id"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rank_lex", row_number().over(wl).cast("long"))
      .filter(col("rank_lex") <= HybridPoolK)
      .select(col("query_id"), col("doc_id"), col("rank_lex"))
    val indexed = hybridDenseIndexOn(spark)
    hybridDenseIndexUsed = Some(indexed)
    val den =
      if (indexed) {
        // production path: the dense pool comes from q144's cell-probe +
        // ADC + exact-re-rank candidates — the corpus is never
        // exhaustively cosine-scored (PlanAudit asserts the full-corpus
        // nested-loop join is absent; HybridIndexSpec measures the recall
        // floor vs the exact arm). k = HybridPoolK explicitly — the dense
        // pool depth must track THIS constant, not q144's RecallK.
        ivfPqTopKOf(spark, dir,
          ee => ee.join(broadcast(qids), ee("vec_id") === qids("query_id")).drop("query_id"),
          nprobe = HybridIvfProbes, rerank = HybridIvfReRank, k = HybridPoolK)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("rank_dense"))
          .filter(col("rank_dense") <= HybridPoolK)
      } else {
        val wd = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))
        e.join(broadcast(qv), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("doc_id"),
            pround(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6).as("cosine"))
          .withColumn("rank_dense", row_number().over(wd).cast("long"))
          .filter(col("rank_dense") <= HybridPoolK)
          .select(col("query_id"), col("doc_id"), col("rank_dense"))
      }
    rrfFuse(lex, den)
  }

  /** The fusion stage of q142 over any two (query_id, doc_id, rank_*) lists
    * — split out so the spec can drive the dual-membership path (a document
    * present in BOTH lists sums both contributions) on synthetic lists; the
    * harness fixture's embeddings are uncorrelated with its text, so the
    * real corpus never exercises it. */
  private[graft] def rrfFuse(lex: DataFrame, den: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // absent-from-list is encoded as rank 0 (not NULL): both engines then
    // emit non-nullable BIGINTs and the comparison never meets NaN-boxed
    // nullable-int columns
    val fused = lex.join(den, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"))
      .withColumn("rrf_score",
        when(col("rank_lex") > 0, expr(s"$RrfScale div ($RrfRankK + rank_lex)"))
          .otherwise(lit(0L)) +
        when(col("rank_dense") > 0, expr(s"$RrfScale div ($RrfRankK + rank_dense)"))
          .otherwise(lit(0L)))
    val wf = Window.partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= HybridTopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("rank_lex"), col("rank_dense"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The q142 oracle — the vectors CTE, q139's scoring CTEs, and the same
    * integer RRF fusion. */
  def hybridRetrievalSql: String = {
    import graft.functions.PortableHash.proundSql
    // mirror the dense-arm form the query EXECUTION actually used (recorded
    // at plan-build time; ambient conf only if the query never ran) — both
    // forms are deterministic, so BOTH are hash-checked, not rows-only
    val indexed = hybridDenseIndexUsed.getOrElse(
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .exists(hybridDenseIndexOn))
    // the dense candidate list `dk(query_id, doc_id, rank_dense)`:
    // exact = full-corpus cosine ranking; indexed = q144's IVF-PQ chain
    // restricted to the embedded query batch
    val denseCtes =
      if (indexed)
        s"""iqsel AS (SELECT query_id AS vec_id FROM qv),
           |${ivfPqCteChainSql(HybridIvfProbes, HybridIvfReRank)},
           |dk AS (SELECT query_id, neighbor_id AS doc_id, rank AS rank_dense
           |       FROM ir WHERE rank <= $HybridPoolK)""".stripMargin
      else
        s"""dj AS (SELECT query_id, vec_id AS doc_id,
           |         ${proundSql(s"${dotSql("v", "qv")} / (norm * qn)", 6)} AS cosine
           |       FROM vecs CROSS JOIN qv WHERE vec_id <> query_id),
           |dr AS (SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
           |         ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank_dense FROM dj),
           |dk AS (SELECT query_id, doc_id, rank_dense FROM dr WHERE rank_dense <= $HybridPoolK)""".stripMargin
    s"""$vectorsCteSql,
       |${graft.operators.TextOps.lexicalScoredCteBody},
       |qid AS (SELECT doc_id AS query_id FROM documents
       |        WHERE doc_id % ${graft.operators.TextOps.RetrQueryMod} = 0
       |        ORDER BY doc_id LIMIT ${graft.operators.TextOps.RetrQueryCap}),
       |qv AS (SELECT query_id, v AS qv, norm AS qn FROM vecs JOIN qid ON vec_id = query_id),
       |lr AS (SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex
       |       FROM sc JOIN qv USING (query_id) WHERE doc_id <> query_id),
       |lk AS (SELECT query_id, doc_id, rank_lex FROM lr WHERE rank_lex <= $HybridPoolK),
       |$denseCtes,
       |f AS (SELECT query_id, doc_id,
       |        coalesce(rank_lex, CAST(0 AS BIGINT)) AS rank_lex,
       |        coalesce(rank_dense, CAST(0 AS BIGINT)) AS rank_dense
       |      FROM lk FULL OUTER JOIN dk USING (query_id, doc_id)),
       |g AS (SELECT query_id, doc_id, rank_lex, rank_dense,
       |        (CASE WHEN rank_lex > 0 THEN $RrfScale // ($RrfRankK + rank_lex)
       |              ELSE CAST(0 AS BIGINT) END)
       |      + (CASE WHEN rank_dense > 0 THEN $RrfScale // ($RrfRankK + rank_dense)
       |              ELSE CAST(0 AS BIGINT) END) AS rrf_score
       |      FROM f),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank FROM g)
       |SELECT query_id, rank, doc_id, rrf_score, rank_lex, rank_dense
       |FROM r WHERE rank <= $HybridTopK
       |ORDER BY query_id, rank""".stripMargin
  }
}
