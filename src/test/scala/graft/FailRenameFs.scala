package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local file system under the `failrename` scheme, except that a
  * rename onto a `*_old` path fails (returns false) — the first step of
  * the compactions' rename-aside swap. Root ignores file permissions, so
  * a failing rename cannot be staged with chmod. Register it with
  * `fs.failrename.impl` in the session's Hadoop configuration. */
class FailRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.endsWith("_old") && super.rename(src, dst)
}
