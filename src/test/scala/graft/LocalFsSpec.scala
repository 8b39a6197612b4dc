package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem,
  GraftRawLocalFs}
import graft.operators.TxLog
import graft.streaming.RetractionJoin
import graft.streaming.RetractionJoin.Upd
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** graft.io's local filesystem: the same answers as Hadoop's stock one,
  * without the `chmod`/`readlink` subprocesses on the commit paths. */
class LocalFsSpec extends AnyFunSuite {

  private def scratch(tag: String): File = new File(Engine.scratchDir(tag))

  private def initialized[F <: RawLocalFileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  test("created files and directories get the stock filesystem's mode bits") {
    val root = scratch("localfs-perm")
    for (umask <- Seq("022", "077"); mode <- Seq("644", "755", "600", "700", "777")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def modes(fs: RawLocalFileSystem, tag: String) = {
        val perm = new FsPermission(mode)
        val f = new Path(root.getPath, s"$tag-$umask-$mode.file")
        val d = new Path(root.getPath, s"$tag-$umask-$mode.dir")
        initialized(fs, conf).create(f, perm, false, 4096, 1.toShort, 1L << 20, null)
          .close()
        assert(fs.mkdirs(d, perm))
        Seq(f, d).map(p => Files.getPosixFilePermissions(Paths.get(p.toString)))
      }
      assert(modes(new GraftRawLocalFileSystem, "graft") ===
        modes(new RawLocalFileSystem, "stock"), s"umask $umask mode $mode")
    }
  }

  test("getFileLinkStatus matches the stock filesystem on files, dirs and links") {
    val root = scratch("localfs-link")
    val file = new File(root, "file"); Files.write(file.toPath, Array[Byte](1, 2, 3))
    val dir = new File(root, "dir"); dir.mkdir()
    val link = new File(root, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(root, "dangling")
    Files.createSymbolicLink(dangling.toPath, new File(root, "gone").toPath)
    val missing = new File(root, "missing")
    val conf = new Configuration()
    val graft = initialized(new GraftRawLocalFileSystem, conf)
    val stock = initialized(new RawLocalFileSystem, conf)
    def status(fs: RawLocalFileSystem, p: Path)
        : Either[Class[_], (Boolean, Boolean, Long, Option[Path])] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.isSymlink, s.isDirectory, s.getLen,
          if (s.isSymlink) Some(s.getSymlink) else None))
      } catch { case e: IOException => Left(e.getClass) }
    for (f <- Seq(file, dir, link, dangling, missing);
         p <- Seq(new Path(f.getPath), new Path(f.toURI))) {
      assert(status(graft, p) === status(stock, p), p)
    }
    assert(status(graft, new Path(link.getPath)).map(_._1) === Right(true))
    assert(status(graft, new Path(missing.getPath)) ===
      Left(classOf[java.io.FileNotFoundException]))
  }

  /** Command lines of the processes `body` started from Hadoop's `Shell`. */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile(Paths.get(Engine.scratchRoot), "forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(e => e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("the session's file: filesystem is graft.io's for both Hadoop APIs") {
    val conf = SparkTestSession.spark.sessionState.newHadoopConf()
    val fc = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(fc.isInstanceOf[GraftLocalFs])
    assert(fc.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[GraftRawLocalFs])
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      assert(fs.isInstanceOf[GraftLocalFileSystem])
      assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw
        .isInstanceOf[GraftRawLocalFileSystem])
    } finally fs.close()
  }

  test("streaming commits, parquet writes and renames start no Hadoop subprocess") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = scratch("localfs-forks")
    // the detector sees the stock filesystem's chmod
    val probe = new File(root, "probe"); probe.createNewFile()
    assert(shellForks(initialized(new RawLocalFileSystem, new Configuration())
      .setPermission(new Path(probe.getPath), new FsPermission("644"))).nonEmpty)

    val table = new File(root, "table").getPath
    val ckpt = new File(root, "checkpoint")
    val conf = spark.sessionState.newHadoopConf()
    val forks = shellForks {
      val mem = MemoryStream[Upd]
      val q = RetractionJoin(mem.toDS()).toDF().writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          TxLog.appendIdempotent(spark, df, table, txn = s"batch-$id"); ()
        }
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        mem.addData(Upd(1, "L", 1, 1.5, 1), Upd(1, "R", 7, 3.25, 1))
        q.processAllAvailable()
        mem.addData(Upd(1, "L", 2, 4.5, 1))
        q.processAllAvailable()
      } finally q.stop()
      Seq(1, 2, 3).toDF("x").write.parquet(new File(root, "plain").getPath)
      val fc = FileContext.getFileContext(conf)
      val src = new Path(new File(root, "src").toURI)
      val dst = new Path(new File(root, "dst").toURI)
      fc.create(src, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        .close()
      fc.create(dst, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        .close()
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    assert(forks.size === 0, forks.take(5).mkString("; "))
    assert(TxLog.version(table) === 1) // one txlog version per batch
    // integrity sidecars are still written
    assert(new File(ckpt, "offsets/.1.crc").isFile)
    assert(new File(ckpt, "commits/.1.crc").isFile)
  }
}
