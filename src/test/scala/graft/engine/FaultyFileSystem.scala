package graft.engine

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

import java.io.IOException
import java.net.URI

/** The local filesystem under the `faulty` scheme, failing every
  * create of a file named `_object`: the single-object concat's temp
  * object. Register it with `fs.faulty.impl`.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    if (f.getName == "_object") throw new IOException(s"injected create failure: $f")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}
