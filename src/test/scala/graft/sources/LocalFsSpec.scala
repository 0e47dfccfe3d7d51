package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem

import graft.SparkSpec
import graft.TempDirs.withTempDir
import graft.queries.QueryCatalog
import graft.taxi.{Cleaning, RunPipeline, TaxiFixture}

/** The session's local file system writes what Hadoop's writes, with no
  * process started per file.
  */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def hadoopLocal: LocalFileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def forkFreeLocal: LocalFileSystem = {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Mode bits of `p`, sticky, setuid and setgid included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session's file: FileSystem and FileContext are the fork-free ones") {
    // the JVM caches the first file: FileSystem it creates: a session that
    // lost the setting, or an earlier plain Configuration, shows up here
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("a rename onto an existing file fails, as with the file: class it replaces") {
    withTempDir("localfs-rename-fs") { dir =>
      for (fs <- Seq[FileSystem](new ProxyLocalFileSystem, new ForkFreeLocalFileSystem)) {
        fs.initialize(URI.create("file:///"), conf)
        val (a, b, c) = (new Path(s"$dir/a"), new Path(s"$dir/b"), new Path(s"$dir/c"))
        Seq(a, b).foreach(fs.create(_, true).close())
        assert(!fs.rename(a, b) && fs.exists(a), fs.getClass.getName)
        assert(fs.rename(a, c) && !fs.exists(a) && fs.exists(c), fs.getClass.getName)
        Seq(b, c).foreach(fs.delete(_, false))
      }
    }
  }

  test("modes match Hadoop's: defaults under the umask, an explicit 0640, a sticky 01777") {
    def modes(fs: LocalFileSystem, dir: String): Seq[Int] = {
      val d = new Path(dir, "d")
      val f = new Path(dir, "f")
      val sticky = new Path(dir, "sticky")
      fs.mkdirs(d)
      fs.create(f, true).close()
      val defaults = Seq(mode(s"$dir/d"), mode(s"$dir/f"), mode(s"$dir/.f.crc"))
      fs.setPermission(f, new FsPermission(Integer.parseInt("640", 8).toShort))
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
      defaults ++ Seq(mode(s"$dir/f"), mode(s"$dir/sticky"))
    }
    withTempDir("localfs-modes") { dir =>
      Files.createDirectories(Paths.get(dir, "hadoop"))
      Files.createDirectories(Paths.get(dir, "graft"))
      val theirs = modes(hadoopLocal, s"$dir/hadoop")
      val ours = modes(forkFreeLocal, s"$dir/graft")
      assert(ours === theirs)
      val umask = FsPermission.getUMask(conf)
      assert(ours.take(3) === Seq(FsPermission.getDirDefault.applyUMask(umask).toShort.toInt,
        FsPermission.getFileDefault.applyUMask(umask).toShort.toInt,
        FsPermission.getFileDefault.applyUMask(umask).toShort.toInt))
      assert(ours.drop(3) === Seq(Integer.parseInt("640", 8), Integer.parseInt("1777", 8)))
    }
  }

  test("getFileLinkStatus matches Hadoop's for a file, a directory, a link and a missing path") {
    val theirs = hadoopLocal.getRaw
    val ours = forkFreeLocal.getRaw
    withTempDir("localfs-link") { dir =>
      Files.writeString(Paths.get(dir, "file"), "abc")
      Files.createDirectory(Paths.get(dir, "dir"))
      Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "file"))
      for (name <- Seq("file", "dir", "link")) {
        val p = new Path(s"$dir/$name")
        val (a, b) = (theirs.getFileLinkStatus(p), ours.getFileLinkStatus(p))
        assert((b.getPath, b.isDirectory, b.isSymlink, b.getLen) ===
          ((a.getPath, a.isDirectory, a.isSymlink, a.getLen)), name)
        if (name == "link") {
          assert(b.isSymlink && b.getSymlink === a.getSymlink)
          assert(b.getSymlink.toUri.getPath === s"$dir/file")
        }
      }
      val missing = new Path(s"$dir/missing")
      intercept[FileNotFoundException](theirs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    }
  }

  test("a FileContext rename with OVERWRITE replaces the target, checksum and all") {
    // the streaming checkpoint's commit: write a temp file, rename it over
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    withTempDir("localfs-rename") { dir =>
      def write(p: Path, text: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      val (tmp, dst) = (new Path(s"$dir/.0.tmp"), new Path(s"$dir/0"))
      write(dst, "old")
      write(tmp, "new offsets")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(tmp))
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) === "new offsets") finally in.close()
      assert(Files.exists(Paths.get(dir, ".0.crc")) && !Files.exists(Paths.get(dir, "..0.tmp.crc")))
    }
  }

  test("the taxi sink and a streaming entry start no chmod or readlink process") {
    withTempDir("localfs-jfr") { dir =>
      val recording = new Recording()
      recording.enable("jdk.ProcessStart")
      recording.start()
      try {
        // a process this JVM starts itself: the recording sees process starts
        new ProcessBuilder("true").start().waitFor()
        RunPipeline.sink(Cleaning.pipeline(TaxiFixture.raw(spark)), s"$dir/sink")
        QueryCatalog.select(Some("q_stream_window_agg")).head
          .fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()
      } finally recording.stop()
      val jfr = Paths.get(dir, "process.jfr")
      recording.dump(jfr)
      recording.close()
      val programs = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      assert(programs.contains("true"), programs)
      assert(Files.exists(Paths.get(dir, "sink", "_SUCCESS")))
      assert(programs.count(Set("chmod", "readlink")) === 0,
        programs.groupBy(identity).map { case (p, n) => s"$p ${n.size}" })
    }
  }
}
