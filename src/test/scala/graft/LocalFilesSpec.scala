package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.LocalFiles
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: both Hadoop entry points resolve to
  * it on an engine session, the writes a streaming epoch makes start no
  * process, and what it answers — modes, link status, an overwriting
  * rename, checksums — is what stock Hadoop answers. */
class LocalFilesSpec extends SparkSpec {

  private def conf: Configuration = spark.sessionState.newHadoopConf()
  private lazy val stock: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration)
    fs
  }
  private lazy val ours: LocalFiles =
    FileSystem.get(URI.create("file:///"), conf).asInstanceOf[LocalFileSystem].getRaw
      .asInstanceOf[LocalFiles]

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("FileSystem and FileContext resolve file: to the engine's classes") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[LocalFiles.Checksummed], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[LocalFiles])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFiles.Context], afs.getClass)
  }

  test("a parquet write, a stateful AvailableNow query and an OVERWRITE rename start no process") {
    val dir = TempDirs.create("graft_local_files_jfr")
    val fc = FileContext.getFileContext(conf)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$dir/table")
      assert(SparkEntry.queries("q21_stream_distinct")(spark, sf).count() > 0)
      val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
      write(fc, src, "new")
      write(fc, dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    } finally rec.stop()
    val dump = Paths.get(dir, "forks.jfr")
    rec.dump(dump)
    rec.close()
    // Spark's own, not the filesystem's: ArtifactManager's `rm -rf` of a
    // collected session's artifact dir (on a cleaner thread, whenever GC
    // runs) and the executor heartbeat's one `getconf PAGESIZE` per JVM
    def sparkOwn(cmd: String) = cmd.startsWith("getconf PAGESIZE") ||
      (cmd.startsWith("rm -rf ") && cmd.contains("/artifacts-"))
    val forks = RecordingFile.readAllEvents(dump).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !sparkOwn(e.getString("command")))
    assert(forks.isEmpty, forks.map(e => e.getString("command") + " at " +
      Option(e.getStackTrace).fold("?")(_.getFrames.asScala.take(12).map(_.getMethod.getType.getName)
        .mkString(" < "))).mkString("\n"))
  }

  test("files and directories get the same mode bits as through stock RawLocalFileSystem") {
    val dir = TempDirs.create("graft_local_files_mode")
    for (mode <- Seq("rw-r--r--", "rwxr-xr-x", "rwx------")) {
      val perm = FsPermission.valueOf("-" + mode)
      def modes(fs: RawLocalFileSystem, side: String): Seq[String] = {
        val (d, f) = (new Path(s"$dir/$side-$mode-d"), new Path(s"$dir/$side-$mode-f"))
        assert(fs.mkdirs(d, perm))
        fs.create(f, perm, false, 4096, 1.toShort, 1L << 25, null).close()
        Seq(d, f).map(p => java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(fs.pathToFile(p).toPath)))
      }
      val mine = modes(ours, "ours")
      assert(mine === modes(stock, "stock"), mode)
      assert(mine === Seq(mode, mode), mode)
    }
  }

  test("getFileLinkStatus matches stock on a file, a missing path and a symlink") {
    val dir = TempDirs.create("graft_local_files_link")
    val file = Paths.get(dir, "file")
    Files.writeString(file, "x")
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), file)
    def view(st: FileStatus) =
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getModificationTime,
        if (st.isSymlink) Some(st.getSymlink) else None)
    for (q <- Seq(file, link); p <- Seq(new Path(q.toString), new Path(q.toUri)))
      assert(view(ours.getFileLinkStatus(p)) === view(stock.getFileLinkStatus(p)), p)
    val viaLink = ours.getFileLinkStatus(new Path(link.toString))
    assert(viaLink.isSymlink && viaLink.getSymlink.toUri.getPath === file.toString)
    val missing = new Path(s"$dir/missing")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("renames and checksums: an OVERWRITE rename replaces the destination and its .crc, " +
    "a FileSystem rename onto a file is refused, a flipped byte fails the read") {
    val dir = TempDirs.create("graft_local_files_rename")
    val fc = FileContext.getFileContext(conf)
    val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
    write(fc, src, "the new contents")
    write(fc, dst, "old")
    val crc = (p: Path) => Paths.get(dir, s".${p.getName}.crc")
    val srcCrc = Files.readAllBytes(crc(src)).toSeq
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(Paths.get(dir, "src")) && !Files.exists(crc(src)))
    assert(Files.readAllBytes(crc(dst)).toSeq === srcCrc)
    assert(read(fc, dst) === "the new contents")
    // FileSystem.rename onto an existing file is refused, as on HDFS
    val fs = FileSystem.get(URI.create("file:///"), conf)
    write(fc, src, "again")
    assert(!fs.rename(src, dst) && read(fc, src) === "again" && read(fc, dst) === "the new contents")
    // a flipped byte under an intact .crc fails a FileSystem read (a
    // FileContext open does not verify, on stock LocalFs as well)
    Files.writeString(Paths.get(dir, "dst"), "the NEW contents")
    val in = fs.open(dst)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }
}
