package graft.logs

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local files under the `failfs:` scheme. While
  * [[FailingFileSystem.failParquet]] is set, creating a `.parquet` file
  * throws: a write task that dies mid-write, after the driver has prepared
  * the output. Register with `fs.failfs.impl`.
  */
class FailingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")
  override def getScheme: String = "failfs"

  private def check(f: Path): Unit =
    if (FailingFileSystem.failParquet && f.getName.endsWith(".parquet"))
      throw new IOException(s"injected failure creating $f")

  override protected def createOutputStream(f: Path, append: Boolean): OutputStream = {
    check(f)
    super.createOutputStream(f, append)
  }

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    check(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object FailingFileSystem {
  @volatile var failParquet = false
}
