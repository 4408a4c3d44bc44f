package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sources.KvStore
import graft.streaming.{EventFlow, Stateful}

/** The fork-free local filesystem (graft.io) against Hadoop's stock one:
  * same permissions and link statuses, same rename contract, installed
  * for both Hadoop APIs by `Sessions.local`, and no process started on
  * the store's or a stateful stream's path.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 4, shufflePartitions = 4)
  private val root = URI.create("file:///")

  private def tmp(name: String): JPath = Files.createTempDirectory(s"graft_fs_$name")

  private def perms(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("files and directories get the permissions stock RawLocalFileSystem gives them") {
    val conf = new Configuration()
    val stock = new LocalFileSystem()
    stock.initialize(root, conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(root, conf)
    val nioConf = new Configuration()
    nioConf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    def layout(fs: FileSystem, fc: FileContext, dir: JPath): Seq[(String, String)] = {
      val base = new Path(dir.toUri)
      fc.create(new Path(base, "c"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
      fc.mkdir(new Path(base, "cd/ce"), FsPermission.getDirDefault, true)
      fs.create(new Path(base, "f"), true).close()
      fs.mkdirs(new Path(base, "d/e"))
      fs.mkdirs(new Path(base, "m"), new FsPermission("750"))
      fs.create(new Path(base, "x"), true).close()
      fs.setPermission(new Path(base, "x"), new FsPermission("604"))
      fs.create(new Path(base, "y"), true).close()
      fs.setPermission(new Path(base, "y"), new FsPermission("777"))
      Files.walk(dir).iterator().asScala.filter(_ != dir).toSeq
        .map(p => dir.relativize(p).toString -> perms(p)).sortBy(_._1)
    }
    val (a, b) = (tmp("perm_stock"), tmp("perm_nio"))
    val stockFc = FileContext.getFileContext(conf)
    val nioFc = FileContext.getFileContext(nioConf)
    assert(nioFc.getDefaultFileSystem.isInstanceOf[NioLocalFs] && !stockFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val want = layout(stock, stockFc, a)
    assert(want.exists(_._1 == ".f.crc") && want.exists(_._1 == ".c.crc"), s"checksummed: $want")
    assert(layout(nio, nioFc, b) == want)
  }

  test("getFileLinkStatus equals stock on a file, a directory, links and a missing path") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem()
    stock.initialize(root, conf)
    val nio = new NioRawLocalFileSystem()
    nio.initialize(root, conf)
    val dir = tmp("link")
    Files.writeString(dir.resolve("file"), "x")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def view(s: FileStatus): Seq[Any] =
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup)
    for (name <- Seq("file", "dir", "link", "dangling")) {
      // the plain path a caller gives, and the file:-qualified one
      // FileContext passes (which stock resolves as no link)
      val plain = new Path(dir.resolve(name).toString)
      val qualified = new Path(dir.resolve(name).toUri)
      for (p <- if (name == "dangling") Seq(plain) else Seq(plain, qualified))
        assert(view(nio.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), s"$p")
    }
    assert(nio.getFileLinkStatus(new Path(dir.resolve("link").toString)).isSymlink)
    // the dangling link, file:-qualified, reads as missing on both
    val danglingUri = new Path(dir.resolve("dangling").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(danglingUri))
    intercept[FileNotFoundException](nio.getFileLinkStatus(danglingUri))
    for (p <- Seq(new Path(dir.resolve("missing").toString), new Path(dir.resolve("missing").toUri))) {
      intercept[FileNotFoundException](stock.getFileLinkStatus(p))
      intercept[FileNotFoundException](nio.getFileLinkStatus(p))
    }
  }

  test("a FileContext rename without OVERWRITE still fails on an existing destination") {
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    val dir = tmp("rename")
    val (src, dst) = (new Path(dir.resolve("src").toUri), new Path(dir.resolve("dst").toUri))
    Seq(src, dst).foreach(p => fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE)).close())
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && fc.util.exists(dst))
    assert(!Files.exists(dir.resolve(".src.crc")) && Files.exists(dir.resolve(".dst.crc")),
      "the checksum moves with its file")
  }

  test("both Hadoop APIs resolve file: to the graft classes, past a stock cache entry") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hconf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hconf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hconf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // the cache is keyed by scheme and user, not by configuration: a
    // stock instance cached from a bare Configuration would serve this
    // session too, until Sessions.local drops it
    FileSystem.get(root, hconf).close()
    val bare = FileSystem.get(root, new Configuration())
    assert(!bare.isInstanceOf[NioLocalFileSystem])
    Sessions.local(cores = 4, shufflePartitions = 4)
    assert(FileSystem.get(root, hconf).isInstanceOf[NioLocalFileSystem])
  }

  test("an upsert and a stateful micro-batch start no chmod, readlink, ls or stat") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val dir = tmp("jfr")
    val store = new KvStore(spark, dir.resolve("store").toString, Seq("key"), "cnt")
    val mem = MemoryStream[(Long, Long)]
    val totals = Stateful.foldPerKey(mem.toDS())(_._1)((0L, 0L))(
      (s, e) => (s._1 + 1, s._2 + e._2))((k, s) => (k, s._1, s._2)).toDF("key", "cnt", "total")
    val q = EventFlow(totals).foreachBatchSink(dir.resolve("ckpt").toString, Trigger.ProcessingTime(0L)) {
      (batch, _) => store.upsert(batch)
    }
    try {
      // first batch outside the recording: it creates the checkpoint
      // and store layout once
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      mem.addData((1L, 5L), (3L, 7L))
      q.processAllAvailable()
      store.upsert(Seq((4L, 1L, 9L)).toDF("key", "cnt", "total"))
      rec.stop()
      val out = dir.resolve("rec.jfr")
      rec.dump(out)
      rec.close()
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.map { e =>
        (e.getString("command"), Option(e.getThread("eventThread")).map(_.getJavaName).orNull)
      }
      // Spark's asynchronous `rm -rf` of artifact dirs runs on a
      // Cleaner thread, off the batch's path: listed, not counted
      starts.filterNot(s => isFsProbe(s._1)).foreach(s => info(s"not counted: $s"))
      val probes = starts.filter(s => isFsProbe(s._1))
      assert(probes.isEmpty, s"processes on the batch path: $probes")
    } finally q.stop()
    assert(store.get().orderBy("key").as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 2L, 15L), (2L, 1L, 20L), (3L, 1L, 7L), (4L, 1L, 9L)))
  }

  private def isFsProbe(command: String): Boolean = {
    val exe = command.trim.split("\\s+").headOption.getOrElse("").split('/').last
    Set("chmod", "readlink", "ls", "stat")(exe)
  }
}
