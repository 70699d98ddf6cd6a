package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions.col
import graft.assets.AssetStore
import graft.operators.TextOps

/** The persisted corpus-index asset layer (round 16):
  *  - build ≡ load bit-identical for every consumer (the DedupSpec-law
  *    form of "both paths oracle-checked");
  *  - a COLD session over the same corpus version loads the on-disk
  *    artifact without re-aggregating the corpus (no build, no documents
  *    scan in the consumer plan);
  *  - the corpus signature invalidates artifacts when the corpus changes;
  *  - the bench-loop storage-hygiene gate: repeated clearCache→consume
  *    passes hold executor storage steady (one cache per asset, no growth).
  */
class AssetStoreSpec extends SparkSpec {

  // a spec-private asset root so this suite controls exactly what exists
  private lazy val specRoot =
    Files.createTempDirectory("graft_assets_spec").toString

  test("build path and load path yield bit-identical consumer results") {
    // memo-only twin (persistence off) = the pure computed plan
    val off = spark.newSession()
    off.conf.set(AssetStore.DirConf, "")
    val pure = TextOps.hotShingleIndex(off, sf001).collect().map(_.toString).sorted
    val purePairs = TextOps.minhashLshPairs(off, sf001).collect().map(_.toString).sorted

    // persisted build (fresh root → this session BUILDS the artifacts)
    val b = spark.newSession()
    b.conf.set(AssetStore.DirConf, specRoot)
    val before = AssetStore.buildCount.get()
    val built = TextOps.hotShingleIndex(b, sf001).collect().map(_.toString).sorted
    val builtPairs = TextOps.minhashLshPairs(b, sf001).collect().map(_.toString).sorted
    assert(AssetStore.buildCount.get() > before, "expected artifact builds")
    assert(built.toSeq == pure.toSeq)
    assert(builtPairs.toSeq == purePairs.toSeq)
    assert(built.nonEmpty && builtPairs.nonEmpty, "vacuous law")
  }

  test("a cold session reuses the on-disk asset without re-aggregating the corpus") {
    // ensure the artifacts exist (previous test ordering not assumed)
    val warm = spark.newSession()
    warm.conf.set(AssetStore.DirConf, specRoot)
    TextOps.hotShingleIndex(warm, sf001).collect()
    TextOps.minhashLshPairs(warm, sf001).collect()

    val cold = spark.newSession()   // fresh memo identity, fresh runtime conf
    cold.conf.set(AssetStore.DirConf, specRoot)
    val before = AssetStore.buildCount.get()
    val idx = TextOps.hotShingleIndex(cold, sf001)
    val rows = idx.collect()
    assert(rows.nonEmpty)
    assert(AssetStore.buildCount.get() == before,
      "cold session must not rebuild an existing artifact")
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("graft_assets_spec"),
      s"consumer plan should scan the asset artifact:\n$plan")
    assert(!plan.contains("documents"),
      s"consumer plan must not re-read (or re-aggregate) the corpus:\n$plan")
  }

  test("corpus signature tracks the file inventory (stale artifacts can never serve)") {
    val dir = Files.createTempDirectory("graft_sig_corpus")
    val f = dir.resolve("documents.parquet")
    Files.copy(Paths.get(s"$sf001/documents.parquet"), f,
      StandardCopyOption.REPLACE_EXISTING)
    val s1 = spark.newSession()
    val sigA = AssetStore.corpusSignature(s1, dir.toString)
    // same inventory, different session → same signature (deterministic)
    assert(AssetStore.corpusSignature(spark.newSession(), dir.toString) == sigA)
    // regenerate the corpus (length+mtime change) → signature must move
    Files.write(f, Files.readAllBytes(Paths.get(s"$sf001/documents.parquet")) ++
      Array[Byte](0))
    f.toFile.setLastModified(f.toFile.lastModified() + 73000)
    val sigB = AssetStore.corpusSignature(spark.newSession(), dir.toString)
    assert(sigB != sigA, "signature must change when the corpus is regenerated")
  }

  test("bench-loop hygiene: clearCache→consume passes hold storage steady") {
    val s = spark.newSession()
    s.conf.set(AssetStore.DirConf, specRoot)
    val sizes = (1 to 3).map { _ =>
      s.catalog.clearCache()
      TextOps.hotShingleIndex(s, sf001).count()
      TextOps.minhashLshPairs(s, sf001).count()
      TextOps.shingleRowsShared(s, sf001).count()
      s.sparkContext.getPersistentRDDs.size
    }
    // pass 1 arms the access-time caches; every later pass must re-arm the
    // SAME set — growth here is the round-14 cache-accumulation class
    assert(sizes(1) == sizes(2),
      s"cached-RDD count grew across bench passes: $sizes")
  }

  test("retention: a regenerated corpus's superseded signature trees are pruned") {
    val corpus = Files.createTempDirectory("graft_prune_corpus")
    val f = corpus.resolve("documents.parquet")
    Files.copy(Paths.get(s"$sf001/documents.parquet"), f,
      StandardCopyOption.REPLACE_EXISTING)
    val root = Files.createTempDirectory("graft_prune_root").toString
    def buildOnce(s: org.apache.spark.sql.SparkSession): String = {
      s.conf.set(AssetStore.DirConf, root)
      val sig = AssetStore.corpusSignature(s, corpus.toString)
      AssetStore.loadOrBuild(s, corpus.toString, "t", 1)(
        s.range(3).toDF("doc_id")).collect()
      sig
    }
    val sigA = buildOnce(spark.newSession())
    assert(new java.io.File(root, sigA).exists)
    // regenerate the corpus → new signature; publishing under it prunes A
    Files.write(f, Files.readAllBytes(f) ++ Array[Byte](0))
    f.toFile.setLastModified(f.toFile.lastModified() + 90000)
    val sigB = buildOnce(spark.newSession())
    assert(sigB != sigA)
    assert(new java.io.File(root, sigB).exists)
    assert(!new java.io.File(root, sigA).exists,
      "superseded signature tree must be pruned on the next publish")
  }

  test("publish race: the losing builder adopts the winner byte-identically") {
    val corpus = Files.createTempDirectory("graft_race_corpus")
    Files.copy(Paths.get(s"$sf001/documents.parquet"),
      corpus.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val root = Files.createTempDirectory("graft_race_root").toString
    val s1 = spark.newSession(); s1.conf.set(AssetStore.DirConf, root)
    val s2 = spark.newSession(); s2.conf.set(AssetStore.DirConf, root)
    val before = AssetStore.buildCount.get()
    // deterministic interleaving: builder 1 enters loadOrBuild and blocks
    // INSIDE its build until builder 2 has fully published — forcing
    // builder 1 through the lost-race path (write tmp, re-check, adopt)
    val b1Entered = new java.util.concurrent.CountDownLatch(1)
    val b2Done = new java.util.concurrent.CountDownLatch(1)
    @volatile var r1: Array[String] = Array.empty
    val t1 = new Thread(() => {
      r1 = AssetStore.loadOrBuild(s1, corpus.toString, "race", 1) {
        b1Entered.countDown()
        b2Done.await()
        s1.range(5).toDF("doc_id")
      }.collect().map(_.toString).sorted
    })
    t1.start()
    b1Entered.await()
    val r2 = AssetStore.loadOrBuild(s2, corpus.toString, "race", 1)(
      s2.range(5).toDF("doc_id")).collect().map(_.toString).sorted
    b2Done.countDown()
    t1.join(60000)
    assert(r1.toSeq == r2.toSeq && r1.nonEmpty, "both sides must serve the same rows")
    // exactly ONE publish counted: a build whose publish lost is not an artifact
    assert(AssetStore.buildCount.get() == before + 1,
      s"publish race must count one build, got ${AssetStore.buildCount.get() - before}")
    // the loser's tmp must not leak INSIDE the published artifact (Hadoop
    // rename-into-existing-directory semantics) nor beside it
    val sig = AssetStore.corpusSignature(s2, corpus.toString)
    val pub = new java.io.File(new java.io.File(root, sig), "race_v1")
    assert(pub.listFiles().forall(f => !f.isDirectory),
      s"nested dir leaked inside the published artifact: ${pub.listFiles().map(_.getName).mkString(",")}")
    assert(new java.io.File(root, sig).listFiles()
      .count(f => f.getName.startsWith(".race_v1.tmp")) == 0,
      "stray tmp dir leaked beside the artifact")
  }

  test("manifest integrity: a reaped part file is detected and the artifact rebuilt") {
    val corpus = Files.createTempDirectory("graft_reap_corpus")
    Files.copy(Paths.get(s"$sf001/documents.parquet"),
      corpus.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val root = Files.createTempDirectory("graft_reap_root").toString
    val s = spark.newSession(); s.conf.set(AssetStore.DirConf, root)
    def build = s.range(7).toDF("doc_id")
    val orig = AssetStore.loadOrBuild(s, corpus.toString, "m", 1)(build)
      .collect().map(_.toString).sorted
    val sig = AssetStore.corpusSignature(s, corpus.toString)
    val pub = new java.io.File(new java.io.File(root, sig), "m_v1")
    // simulate a tmp-cleanup daemon: delete one parquet part file while
    // _SUCCESS survives (the pre-manifest layer served the truncated scan)
    val part = pub.listFiles().find(_.getName.endsWith(".parquet"))
      .orElse(pub.listFiles().find(_.getName.startsWith("part-"))).get
    assert(part.delete())
    val before = AssetStore.buildCount.get()
    val again = AssetStore.loadOrBuild(s, corpus.toString, "m", 1)(build)
      .collect().map(_.toString).sorted
    assert(AssetStore.buildCount.get() == before + 1,
      "a manifest-mismatched artifact must be rebuilt, not served")
    assert(again.toSeq == orig.toSeq && again.nonEmpty)
  }

  test("a stale aside beside a complete artifact is dropped without a rebuild") {
    val corpus = Files.createTempDirectory("graft_aside_corpus")
    Files.copy(Paths.get(s"$sf001/documents.parquet"),
      corpus.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val root = Files.createTempDirectory("graft_aside_root").toString
    val s = spark.newSession(); s.conf.set(AssetStore.DirConf, root)
    def build = s.range(5).toDF("doc_id")
    val orig = AssetStore.loadOrBuild(s, corpus.toString, "a", 1)(build)
      .collect().map(_.toString).sorted
    val sig = AssetStore.corpusSignature(s, corpus.toString)
    // what a crash after a publish's swap, before the aside's delete, leaves
    val pub = Paths.get(root, sig, "a_v1")
    val aside = Paths.get(root, sig, "a_v1.old")
    Files.createDirectories(aside)
    pub.toFile.listFiles().foreach(f => Files.copy(f.toPath, aside.resolve(f.getName)))
    val before = AssetStore.buildCount.get()
    val again = AssetStore.loadOrBuild(s, corpus.toString, "a", 1)(build)
      .collect().map(_.toString).sorted
    assert(AssetStore.buildCount.get() == before, "a complete artifact must be served, not rebuilt")
    assert(again.toSeq == orig.toSeq && again.nonEmpty)
    assert(!Files.exists(aside), "the stale aside must be dropped")
  }

  test("a manifest over 1 MiB still matches its artifact") {
    // a manifest line is name:length; a few thousand part files with long
    // names put the manifest past 1 MiB (at ~70 bytes a line, an asset of
    // ~15,000 parts gets there)
    val dir = Files.createTempDirectory("graft_big_manifest")
    val stem = "part-" + "x" * 220
    val names = (0 until 4400).map(i => f"$stem-$i%05d.snappy.parquet")
    names.foreach(n => Files.createFile(dir.resolve(n)))
    Files.createFile(dir.resolve("_SUCCESS"))
    val manifest = names.sorted.map(n => s"$n:0").mkString("\n")
    assert(manifest.length > (1 << 20), s"vacuous: manifest of ${manifest.length} bytes")
    Files.write(dir.resolve("_MANIFEST"),
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val path = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = path.getFileSystem(
      graft.fs.LocalFs.hadoopConf(spark.sparkContext.hadoopConfiguration))
    assert(AssetStore.complete(fs, path), "a complete artifact with a large manifest must be served")
    // and a mismatch past the first MiB is still detected
    Files.write(dir.resolve(names.max), Array[Byte](1))
    assert(!AssetStore.complete(fs, path))
  }

  test("build time is exclusive: a nested build is not counted again in its parent") {
    val s = spark.newSession()
    s.conf.set(AssetStore.DirConf, Files.createTempDirectory("graft_assets_nested").toString)
    val before = AssetStore.buildNanos.get()
    val t0 = System.nanoTime()
    AssetStore.loadOrBuild(s, sf001, "nested_outer", 1) {
      AssetStore.loadOrBuild(s, sf001, "nested_inner", 1) {
        Thread.sleep(400)
        s.range(10).toDF("id")
      }
    }.collect()
    val wall = System.nanoTime() - t0
    val counted = AssetStore.buildNanos.get() - before
    assert(counted >= 400L * 1000 * 1000, s"vacuous: $counted ns counted")
    assert(counted <= wall, s"$counted ns of build time counted inside $wall ns of wall time")
  }

  test("default asset root is user-scoped, never the bare shared tmpdir") {
    val root = new java.io.File(AssetStore.defaultRoot)
    val sharedTmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val userScoped = root.getPath.contains(".cache") ||
      root.getName.contains(System.getProperty("user.name", "@"))
    assert(userScoped, s"default root $root must be user-scoped")
    assert(root.getPath != new java.io.File(sharedTmp, "graft_assets").getPath,
      "default root must not be the pre-r17 world-writable tmpdir location")
  }

  test("SessionMemo lifecycle: context-stop removal releases a session's entries") {
    val memo = new AssetStore.SessionMemo[String, String]
    val s = spark.newSession()
    assert(memo.getOrBuild(s, "k")("v1") == "v1")
    assert(memo.getOrBuild(s, "k")("v2") == "v1") // memoized
    assert(memo.entryCount(s) == 1)
    // the ApplicationEnd listener calls exactly this removal hook; the
    // shared test context cannot be stopped mid-suite, so the hook is
    // asserted directly
    memo.dropSession(s)
    assert(memo.entryCount(s) == 0)
  }
}
