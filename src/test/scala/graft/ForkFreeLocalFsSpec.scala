package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

/**
 * The session's `file:` filesystems: the fork-free classes, with the same
 * permission bits and link semantics as Hadoop's local filesystem.
 *
 * Hadoop caches a FileSystem by scheme (and user), not by conf: a `file:`
 * FileSystem created in this JVM before the session keeps Hadoop's class
 * for the JVM's life, whatever the session names. So these tests take fresh
 * instances from the session's conf rather than the cached one.
 */
class ForkFreeLocalFsSpec extends SparkSpec {

  private val local = new URI("file:///")
  private def conf = spark.sessionState.newHadoopConf()

  private def withFs[A](fs: FileSystem)(f: FileSystem => A): A = try f(fs) finally fs.close()

  test("the session's file: FileSystem and FileContext are the fork-free classes") {
    withFs(FileSystem.newInstance(local, conf)) { fs =>
      assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    }
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("created files and dirs carry Hadoop's local permission bits") {
    def bits(p: Path) = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))
    /** (file, dir) bits of a file and a dir `fs` creates under `dir`. */
    def created(fs: FileSystem, dir: String): (String, String) = {
      fs.create(new Path(s"$dir/f")).close()
      fs.mkdirs(new Path(s"$dir/d"))
      (bits(new Path(s"$dir/f")), bits(new Path(s"$dir/d")))
    }
    val hadoop = new LocalFileSystem() // Hadoop's own: chmod by fork
    hadoop.initialize(local, conf)
    val expected = withFs(hadoop)(created(_, tmpDir("fs-hadoop")))
    assert(expected == ("rw-r--r--", "rwxr-xr-x"), "umask 022 (fs.permissions.umask-mode)")
    assert(withFs(FileSystem.newInstance(local, conf))(created(_, tmpDir("fs-forkfree"))) ==
      expected)
    // the FileContext path the streaming checkpoint writes through
    val fc = FileContext.getFileContext(local, conf)
    val dir = tmpDir("fc-forkfree")
    fc.create(new Path(s"$dir/f"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.mkdir(new Path(s"$dir/d"), FsPermission.getDirDefault, true)
    assert((bits(new Path(s"$dir/f")), bits(new Path(s"$dir/d"))) == expected)
    // a checksummed write keeps its .crc sidecar
    assert(new java.io.File(s"$dir/.f.crc").exists())
  }

  test("link status is Hadoop's: a symlink still reports the link") {
    val dir = tmpDir("fs-link")
    val target = Files.write(Paths.get(dir, "target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), target)
    val hadoopConf = new Configuration(conf)
    hadoopConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val (fc, hadoopFc) = (FileContext.getFileContext(local, conf),
      FileContext.getFileContext(local, hadoopConf))
    val (raw, hadoopRaw) = (new ForkFreeRawLocalFileSystem, new RawLocalFileSystem)
    Seq(raw, hadoopRaw).foreach(_.initialize(local, conf))
    def seen(st: FileStatus) = (st.isSymlink, st.isFile, st.getLen, st.getPermission,
      if (st.isSymlink) st.getSymlink.toUri.getPath else "")
    // Hadoop's readlink takes the path's string, so it sees a link only
    // through a scheme-less path; both forms must read as Hadoop reads them
    for (p <- Seq(link, target); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(seen(raw.getFileLinkStatus(path)) == seen(hadoopRaw.getFileLinkStatus(path)), path)
      assert(seen(fc.getFileLinkStatus(path)) == seen(hadoopFc.getFileLinkStatus(path)), path)
    }
    val st = raw.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString)
    Seq(raw, hadoopRaw).foreach(_.close())
  }
}
