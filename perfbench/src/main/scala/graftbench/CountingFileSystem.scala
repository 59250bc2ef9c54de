package graftbench

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FSInputStream,
  FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's `file:` file system with call and byte counters, registered
  * through `fs.file.impl` in traced runs only. The scheme stays `file`, so
  * graft takes exactly the code paths it takes on the stock local file
  * system; only the counts are new.
  *
  * A call is counted once at the outermost entry: the stock implementation
  * routes some calls through others (listLocatedStatus through listStatus),
  * and a nested call is the same request.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.counted

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list")(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted("list")(super.listStatus(f, filter))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted("list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted("list")(super.listStatusIterator(f))

  override def getFileStatus(f: Path): FileStatus =
    counted("status")(super.getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open") {
      new FSDataInputStream(new CountingFileSystem.In(super.open(f, bufferSize)))
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted("create") {
      Tracer.countDataFile(f.getName)
      new FSDataOutputStream(new CountingFileSystem.Out(
        super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)),
        null)
    }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted("create") {
      Tracer.countDataFile(f.getName)
      new FSDataOutputStream(new CountingFileSystem.Out(
        super.createNonRecursive(f, permission, flags, bufferSize, replication,
          blockSize, progress)), null)
    }

  override def rename(src: Path, dst: Path): Boolean =
    counted("rename")(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(f, recursive))
}

object CountingFileSystem {
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private def counted[T](call: String)(body: => T): T = {
    val d = depth.get
    if (d == 0) Tracer.countStorage(s"${call}_calls", 1)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  private final class In(inner: FSDataInputStream) extends FSInputStream {
    override def read(): Int = {
      val b = inner.read()
      if (b >= 0) Tracer.countStorage("bytes_read", 1)
      b
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(buf, off, len)
      if (n > 0) Tracer.countStorage("bytes_read", n)
      n
    }
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(pos, buf, off, len)
      if (n > 0) Tracer.countStorage("bytes_read", n)
      n
    }
    override def seek(pos: Long): Unit = inner.seek(pos)
    override def getPos: Long = inner.getPos
    override def seekToNewSource(targetPos: Long): Boolean = inner.seekToNewSource(targetPos)
    override def available(): Int = inner.available()
    override def close(): Unit = inner.close()
  }

  private final class Out(inner: FSDataOutputStream) extends java.io.OutputStream {
    override def write(b: Int): Unit = {
      inner.write(b)
      Tracer.countStorage("bytes_written", 1)
    }
    override def write(buf: Array[Byte], off: Int, len: Int): Unit = {
      inner.write(buf, off, len)
      Tracer.countStorage("bytes_written", len)
    }
    override def flush(): Unit = inner.flush()
    override def close(): Unit = inner.close()
  }
}
