package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** [[LocalFs]]: the same answers as Hadoop's local filesystem, without
  * its shell forks, installed in every session. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def hadoopPath(p: JPath) = new Path(p.toUri)

  private def write(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
  }

  test("parity with Hadoop's LocalFileSystem: modes under a umask, setPermission, owner, group") {
    val base = tempRoot("localfs_parity")
    for (umask <- Seq("022", "027")) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set(FsPermission.UMASK_LABEL, umask)
      // builds the same tree with `fs` in a sibling dir; returns, per
      // entry (data and .crc files alike), its mode on disk and the
      // permission, owner and group `fs` reports for it
      def probe(fs: FileSystem, side: String) = {
        fs.initialize(root, conf)
        val dir = base.resolve(s"$side-$umask")
        val d = hadoopPath(dir)
        assert(fs.mkdirs(new Path(d, "a/b")))
        assert(fs.mkdirs(new Path(d, "m"), new FsPermission("750")))
        write(fs, new Path(d, "a/f"))
        write(fs, new Path(d, "g"))
        fs.setPermission(new Path(d, "g"), new FsPermission("604"))
        fs.setPermission(new Path(d, "m"), new FsPermission("1777"))
        val listed = fs.listStatus(d).map(s => s.getPath.getName ->
          s"${s.getPermission}|${s.getOwner}|${s.getGroup}").toMap
        Files.walk(dir).iterator.asScala.toSeq.map { p =>
          val st = fs.getFileStatus(hadoopPath(p))
          val rel = dir.relativize(p).toString
          (rel, PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p)),
            s"${st.getPermission}|${st.getOwner}|${st.getGroup}",
            listed.get(rel))
        }.sorted
      }
      val stock = probe(new LocalFileSystem(), "stock")
      val ours = probe(new LocalFs.Local, "nio")
      assert(ours == stock)
      assert(stock.exists(_._1 == "a/.f.crc"))
      assert(stock.find(_._1 == "m").get._3.startsWith("rwxrwxrwt|"))
      assert(!stock.exists(_._3.contains("||")), "owner and group are read")
    }
  }

  test("FileContext parity with Hadoop's LocalFs: mkdir and create modes") {
    val base = tempRoot("localfs_fc_parity")
    def probe(afs: String, side: String) = {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.AbstractFileSystem.file.impl", afs)
      conf.set(FsPermission.UMASK_LABEL, "027")
      val fc = FileContext.getFileContext(conf)
      val dir = base.resolve(side)
      val d = hadoopPath(dir)
      // FileContext applies the umask itself (`FsCreateModes`) before
      // the raw filesystem applies it again
      fc.mkdir(new Path(d, "a/b"), FsPermission.getDirDefault, true)
      fc.mkdir(new Path(d, "m"), new FsPermission("755"), false)
      val out = fc.create(new Path(d, "a/f"),
        EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission("666")))
      try out.write(1) finally out.close()
      Files.walk(dir).iterator.asScala.toSeq.map { p =>
        val st = fc.getFileStatus(hadoopPath(p))
        (dir.relativize(p).toString, PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p)), st.getPermission.toString)
      }.sorted
    }
    val stock = probe("org.apache.hadoop.fs.local.LocalFs", "stock")
    assert(probe(classOf[LocalFs.Context].getName, "nio") == stock)
    assert(stock.contains(("a/f", "rw-r-----", "rw-r-----")))
  }

  test("getFileLinkStatus: a symlink still reports isSymlink and its target") {
    val base = tempRoot("localfs_link")
    val target = Files.write(base.resolve("t"), Array[Byte](1))
    val link = Files.createSymbolicLink(base.resolve("l"), target)
    val dangling = Files.createSymbolicLink(base.resolve("d"),
      base.resolve("missing"))
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new LocalFileSystem()
    stock.initialize(root, conf)
    val ours = FileSystem.get(root, conf)
    // unqualified paths: Hadoop runs `readlink` on `Path.toString`, and
    // with a `file:` scheme it reports no link at all
    def local(p: JPath) = new Path(p.toString)
    for (p <- Seq(target, link, dangling).map(local)) {
      val (s, o) = (stock.getFileLinkStatus(p), ours.getFileLinkStatus(p))
      assert((o.isSymlink, o.getLen, o.getPermission, o.getOwner) ==
        (s.isSymlink, s.getLen, s.getPermission, s.getOwner))
      if (s.isSymlink) assert(o.getSymlink == s.getSymlink)
    }
    assert(ours.getFileLinkStatus(local(link)).isSymlink)
    assert(ours.getFileLinkStatus(local(link)).getSymlink ==
      hadoopPath(target))
    val fc = FileContext.getFileContext(conf)
    assert(fc.getFileLinkStatus(local(dangling)).isSymlink)
    assert(!fc.getFileLinkStatus(local(target)).isSymlink)
  }

  test("FileContext rename with OVERWRITE replaces its target, checksum included") {
    val base = tempRoot("localfs_rename")
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    def put(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    val (src, dst) = (hadoopPath(base.resolve("src")), hadoopPath(base.resolve("dst")))
    put(src, "new contents")
    put(dst, "old")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      fc.rename(src, dst))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    // the checksummed read verifies dst against the moved .crc
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "new contents")
    finally in.close()
    assert(Files.exists(base.resolve(".dst.crc")))
    assert(!Files.exists(base.resolve(".src.crc")))
  }

  test("session wiring: FileSystem and FileContext resolve to LocalFs under local and pipeline sessions") {
    // Hadoop caches one `file:` FileSystem per JVM and user whatever the
    // conf says, so a stock instance cached first would hide LocalFs
    def check(s: SparkSession): Unit = {
      for (conf <- Seq(s.sparkContext.hadoopConfiguration,
                       s.sessionState.newHadoopConf())) {
        assert(FileSystem.get(root, conf).isInstanceOf[LocalFs.Local])
        assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[LocalFs.Raw])
        assert(new Path("/tmp").getFileSystem(conf)
          .isInstanceOf[LocalFs.Local])
        assert(FileContext.getFileContext(conf).getDefaultFileSystem
          .isInstanceOf[LocalFs.Context])
      }
    }
    check(Sessions.local("4"))
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val pipeline = Sessions.pipeline("4")
      assert(pipeline ne old)
      check(pipeline)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  /** Commands of the processes the JVM launches while `body` runs, from
    * an in-process JFR stream on `jdk.ProcessStart`. A sentinel launch
    * before and after brackets the body: the stream is live once the
    * first arrives, and has delivered every launch of the body once the
    * second does. */
  private def launches(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]
    val marker = s"localfs-sentinel-${System.nanoTime}"
    def sentinel(tag: String): String = {
      new ProcessBuilder("true", s"$marker-$tag").start().waitFor()
      val cmd = s"true $marker-$tag"
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.contains(cmd) && System.nanoTime < deadline)
        Thread.sleep(20)
      assert(seen.contains(cmd), s"JFR never delivered the $tag sentinel")
      cmd
    }
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => seen.add(e.getString("command")))
      rs.startAsync()
      val start = sentinel("start")
      body
      val end = sentinel("end")
      val all = seen.asScala.toSeq
      all.slice(all.indexOf(start) + 1, all.indexOf(end))
    } finally rs.close()
  }

  test("zero chmod/ls/readlink/stat forks: staged commit + read, saveTable, one RocksDB micro-batch") {
    import graft.operators.AtomicTable
    val base = tempRoot("localfs_forks")
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("g"))
    val src = base.resolve("src").toString
    df.write.parquet(src)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val forks = try launches {
      val t = base.resolve("t").toString
      AtomicTable.commitStaged(spark, Seq(AtomicTable.Write(df, t, 0L)))
      assert(AtomicTable.read(spark, t).get.count() == 100L)
      val cat = new graft.ref.Catalog(spark, base.resolve("wh").toString,
        skipUnchanged = true)
      assert(cat.saveTable("mart", "m", df).count() == 100L)
      val counts = new ConcurrentLinkedQueue[Long]
      val q = spark.readStream.schema(df.schema).parquet(src)
        .groupBy("g").count()
        .writeStream.outputMode("update")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          counts.add(b.count()); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(counts.asScala.sum == 7L)
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
    val shell = forks.filter(c =>
      Set("chmod", "ls", "readlink", "stat")(
        c.takeWhile(_ != ' ').split('/').last))
    assert(shell.isEmpty, shell.mkString("\n"))
  }
}
