package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.assets.AssetStore
import graft.fs.{LocalFs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}
import graft.pipeline.{Letter, Sinks}

/** The fork-free local filesystem ([[graft.fs.LocalFs]]) answers exactly as
  * the stock [[RawLocalFileSystem]] does — same mode bits, same link
  * status, same exceptions — and the engine's writes that route through it
  * (archive sink, asset publish, streaming checkpoints) keep their modes.
  * The stock side of each comparison forks `chmod`/`readlink`, so every
  * comparison runs one call at a time.
  */
class LocalFsSpec extends SparkSpec {

  private def fresh(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  /** st_mode: file type and permission bits. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def samples[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(6L))

  test("the NIO forms are used exactly when libhadoop is absent") {
    assert(LocalFs.nioUsable == !org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
  }

  test("setPermission leaves the stock mode on files and directories (modes 0000-0777)") {
    val root = fresh("graft_localfs_perm")
    val modes = (0 +: 0x1ff +: 0x1a4 +: 0x1ed +: samples(Gen.choose(0, 0x1ff), 40)).distinct
    for ((m, i) <- modes.zipWithIndex; dir <- Seq(false, true)) {
      val a = root.resolve(s"stock_$i$dir")
      val b = root.resolve(s"nio_$i$dir")
      if (dir) { Files.createDirectory(a); Files.createDirectory(b) }
      else { Files.createFile(a); Files.createFile(b) }
      val perm = new FsPermission(m.toShort)
      stock.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      assert(mode(b) == mode(a), f"mode $m%04o on ${if (dir) "a directory" else "a file"}")
      assert((mode(b) & 0x1ff) == m)
    }
  }

  test("setPermission keeps a setgid directory's bits as stock chmod does") {
    val root = fresh("graft_localfs_setgid")
    for (m <- Seq(0x1ed, 0x1c0, 0)) {
      val a = Files.createDirectory(root.resolve(s"stock_$m"))
      val b = Files.createDirectory(root.resolve(s"nio_$m"))
      Seq(a, b).foreach(d => Files.setAttribute(d, "unix:mode", Integer.valueOf(0x5ed))) // 02755
      stock.setPermission(new Path(a.toString), new FsPermission(m.toShort))
      nio.setPermission(new Path(b.toString), new FsPermission(m.toShort))
      assert(mode(b) == mode(a), f"mode $m%04o on a setgid directory")
    }
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val root = fresh("graft_localfs_link")
    val file = Files.write(root.resolve("f.txt"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, if (s.isSymlink) Some(s.getSymlink) else None)
    for (p <- Seq(file, dir, link)) {
      val hp = new Path(p.toString)
      assert(view(nio.getFileLinkStatus(hp)) == view(stock.getFileLinkStatus(hp)), s"at $p")
    }
    val ls = nio.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink && ls.getSymlink.toUri.getPath == file.toString)
    val missing = new Path(root.resolve("absent").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("LocalFs.conf selects the NIO classes for both Hadoop APIs, uncached") {
    val conf = LocalFs.hadoopConf(new Configuration())
    val root = fresh("graft_localfs_conf")
    val fs = new Path(root.toString).getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(new Path(root.toString).getFileSystem(conf) ne fs, "file: instances must not be cached")
    // FileContext: the checkpoint manager's create + overwriting rename
    val fc = FileContext.getFileContext(root.toUri, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val src = new Path(root.resolve("a.tmp").toString)
    val dst = new Path(root.resolve("a").toString)
    Seq("one", "two").foreach { text =>
      val out = fc.create(src, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      out.write(text.getBytes("UTF-8")); out.close()
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    assert(new String(Files.readAllBytes(root.resolve("a")), "UTF-8") == "two")
    assert(!Files.exists(root.resolve("a.tmp")))
    assert((mode(root.resolve("a")) & 0x1ff) == (mode(root.resolve(".a.crc")) & 0x1ff))
  }

  /** (is a directory, is a checksum file, permission bits) of everything
    * under `root`: the modes a write leaves, independent of file names. */
  private def modeKinds(root: JPath): Set[(Boolean, Boolean, Int)] = {
    val s = Files.walk(root)
    try s.filter(_ != root).toArray.map(_.asInstanceOf[JPath]).map { p =>
      (Files.isDirectory(p), p.getFileName.toString.endsWith(".crc"), mode(p) & 0xfff)
    }.toSet finally s.close()
  }

  @annotation.nowarn("cat=deprecation")
  private def nioBytesWritten: Long =
    FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem]).getBytesWritten

  test("archived files keep the stock modes, and the archive write goes through NIO") {
    val letters = Letter.lettersPlane(spark, sf001).limit(200).cache()
    val viaNio = fresh("graft_localfs_archive").resolve("out")
    val before = nioBytesWritten
    Sinks.archiveLetters(letters, viaNio.toString)
    assert(nioBytesWritten > before, "the archive write must be served by the NIO filesystem")
    // the same partitioned write through the session's stock filesystem
    val viaStock = fresh("graft_localfs_archive_stock").resolve("out")
    letters.withColumn("client_dir", graft.functions.Formatters.sanitizeName(col("client_name")))
      .write.partitionBy("client_dir").parquet(viaStock.toString)
    val kinds = modeKinds(viaNio)
    assert(kinds.exists(_._1) && kinds.exists(k => !k._1 && !k._2) && kinds.exists(_._2))
    assert(kinds == modeKinds(viaStock))
    letters.unpersist()
  }

  test("the asset root is still created 0700 and artifacts keep the stock modes") {
    val root = fresh("graft_localfs_assets").resolve("nested_root")
    val s = spark.newSession()
    s.conf.set(AssetStore.DirConf, root.toString)
    AssetStore.loadOrBuild(s, sf001, "localfs_spec", 1)(s.range(100).toDF("id")).collect()
    assert(Files.getPosixFilePermissions(root) ==
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    val stockOut = fresh("graft_localfs_assets_stock").resolve("out")
    s.range(100).toDF("id").write.parquet(stockOut.toString)
    val sig = Files.list(root).filter(Files.isDirectory(_)).findFirst().get
    val artifact = sig.resolve("localfs_spec_v1")
    assert(modeKinds(artifact).filter(!_._1) == modeKinds(stockOut).filter(!_._1))
    assert((mode(artifact) & 0xfff) == (mode(stockOut) & 0xfff))
  }

  test("a streaming checkpoint is written through the NIO filesystem") {
    val before = NioRawLocalFs.created.get()
    val rows = graft.streaming.EventsStream.streamingTumbling(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(NioRawLocalFs.created.get() > before,
      "offset/commit logs and state deltas must go through the NIO FileContext")
    assert(spark.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty,
      "the streaming scope must restore the session's confs")
  }

  test("readClientArchive reads one client's directory and never touches its siblings") {
    val out = fresh("graft_localfs_readback").resolve("archive")
    val letters = Letter.lettersPlane(spark, sf001)
    val clients = letters.select(col("client_name")).distinct().orderBy(col("client_name"))
      .limit(3).collect().map(_.getString(0))
    val mine = letters.filter(col("client_name").isin(clients: _*)).cache()
    Sinks.archiveLetters(mine, out.toString)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(mine.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
    val wholeRead = Sinks.readClientArchive(spark, out.toString, "nobody at all")
    assert(wholeRead.count() == 0 && wholeRead.columns.contains("client_dir"),
      "a client without letters gets an empty frame with the archive's columns")
    // a numeric-looking name would infer as a number from its own directory;
    // its read-back keeps the archive's string column
    val numeric = fresh("graft_localfs_numeric").resolve("archive")
    Sinks.archiveLetters(mine.limit(4).withColumn("client_name", lit("12345"))
      .unionByName(mine), numeric.toString)
    val num = Sinks.readClientArchive(spark, numeric.toString, "12345")
    assert(num.schema("client_dir").dataType == org.apache.spark.sql.types.StringType)
    assert(num.count() == 4 && num.select(col("client_dir")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("12345"))
    // corrupt a sibling partition: a nested directory layout and a data
    // file that is not parquet — any listing or read of it fails
    val sibling = Files.createDirectories(out.resolve("client_dir=zz_corrupt").resolve("extra=1"))
    Files.write(sibling.resolve("part-00000.snappy.parquet"), "not parquet".getBytes("UTF-8"))
    intercept[Throwable](spark.read.parquet(out.toString).collect())
    clients.foreach { c =>
      val back = Sinks.readClientArchive(spark, out.toString, c)
      assert(back.schema("client_dir").dataType == org.apache.spark.sql.types.StringType)
      assert(keyed(back) == keyed(mine.filter(col("client_name") === c)), s"client $c")
      assert(back.select(col("client_dir")).distinct().collect().map(_.getString(0)).toSeq ==
        Seq(c.replace(' ', '_').replace('/', '_')))
    }
    mine.unpersist()
  }
}
