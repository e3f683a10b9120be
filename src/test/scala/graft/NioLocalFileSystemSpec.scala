package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.io.{NioLocalFileSystem, NioRawLocalFileSystem}

/** [[NioRawLocalFileSystem]] leaves the permission bits Hadoop's own
  * `RawLocalFileSystem` leaves, and every graft session reaches it.
  */
class NioLocalFileSystemSpec extends GraftSuite {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val hadoop = init(new RawLocalFileSystem)

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("create and mkdirs leave Hadoop's permission bits") {
    val dir = new Path(Files.createTempDirectory("graft_nio_fs_").toString)
    def both(name: String)(make: (FileSystem, Path) => Unit): Unit = {
      val (a, b) = (new Path(dir, s"nio_$name"), new Path(dir, s"hadoop_$name"))
      make(nio, a)
      make(hadoop, b)
      assert(mode(a) == mode(b), s"$name: ${mode(a).toOctalString} vs ${mode(b).toOctalString}")
    }
    both("file_default")((fs, p) => fs.create(p).close())
    both("dir_default")((fs, p) => assert(fs.mkdirs(p)))
    both("parents_default")((fs, p) => assert(fs.mkdirs(new Path(p, "a/b"))))
    for (m <- Seq("644", "755", "700")) {
      val perm = new FsPermission(m)
      both(s"file_$m")((fs, p) =>
        fs.create(p, perm, true, 4096, 1.toShort, 1L << 25, null).close())
      both(s"dir_$m")((fs, p) => assert(fs.mkdirs(p, perm)))
      both(s"chmod_$m") { (fs, p) => fs.create(p).close(); fs.setPermission(p, perm) }
    }
    // the sticky bit is not a java.nio permission: Hadoop's path sets it
    both("sticky") { (fs, p) =>
      assert(fs.mkdirs(p)); fs.setPermission(p, new FsPermission("1777"))
    }
    assert(mode(new Path(dir, "nio_sticky")) == Integer.parseInt("1777", 8))
  }

  test("a session and its stream child reach the NIO file system and the " +
    "FileSystem-based checkpoint manager") {
    for (s <- Seq(spark, GraftSession.streamSession(spark))) {
      val conf = s.sessionState.newHadoopConf()
      val fs = FileSystem.get(URI.create("file:///"), conf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      val dir = new Path(Files.createTempDirectory("graft_nio_ckpt_").toUri)
      val fm = CheckpointFileManager.create(dir, conf)
      assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager], fm.getClass)
    }
  }
}
