package graft.engine

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

import java.io.IOException
import java.net.URI

/** The local filesystem under the `faulty` scheme, with one fault,
  * chosen by `fs.faulty.fault`, in a landing:
  *  - `create` (the default): every create of a file named `_object`,
  *    a single object's concat temp object, fails;
  *  - `rename`: every commit rename, from directly inside a
  *    `.staging-` directory to outside it, fails: the commit of a staged
  *    archive onto the key (a single object's temp object or part file,
  *    a sharded archive's `_object` directory). Restoring the previous
  *    archive's `_previous`, moving it aside, and renames that stay
  *    inside staging, such as a task's part commit, still work;
  *  - `restore`: as `rename`, and restoring `_previous` fails too;
  *  - `race`: before the commit rename of a staged `_object` onto the
  *    key, the key is recreated as a directory holding one file named
  *    `concurrent`, as a concurrent archive would;
  *  - `read`: every read of a committed staged part (`part-NNNNN`)
  *    fails after its first 16 bytes, mid-copy.
  * Register it with `fs.faulty.impl`.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"

  private def fault: String = getConf.get("fs.faulty.fault", "create")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    if (fault == "create" && f.getName == "_object")
      throw new IOException(s"injected create failure: $f")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)

  override def rename(src: Path, dst: Path): Boolean = {
    val staging = src.getParent
    val commit = staging.getName.contains(".staging-") &&
      !dst.toUri.getPath.startsWith(staging.toUri.getPath + "/")
    if (commit && (fault == "restore" || fault == "rename" && src.getName != "_previous"))
      throw new IOException(s"injected rename failure: $src -> $dst")
    if (fault == "race" && commit && src.getName == "_object") {
      mkdirs(dst)
      super.create(new Path(dst, "concurrent"), true, 4096, 1.toShort, 1L << 20, null).close()
    }
    super.rename(src, dst)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    if (fault == "read" && f.getName.matches("part-\\d{5}"))
      new FSDataInputStream(new FailingAfter(super.open(f, bufferSize), 16, f))
    else super.open(f, bufferSize)
}

/** Delivers the first `limit` bytes of `in`, then fails every read. */
private class FailingAfter(in: FSDataInputStream, limit: Int, f: Path) extends FSInputStream {
  private var left = limit

  private def failIfSpent(): Unit =
    if (left <= 0) throw new IOException(s"injected read failure after $limit bytes: $f")

  override def read(): Int = {
    failIfSpent()
    left -= 1
    in.read()
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    failIfSpent()
    val n = in.read(b, off, math.min(len, left))
    if (n > 0) left -= n
    n
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def close(): Unit = in.close()
}
