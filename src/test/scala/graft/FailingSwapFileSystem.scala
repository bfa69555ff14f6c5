package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under the `failswap` scheme, except that renaming
  * a staged `._tmp_` directory fails (returns false, as a lost HDFS
  * rename does): the job-commit swap's failure path on demand. Register it
  * with `fs.failswap.impl`. */
class FailingSwapFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failswap:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.startsWith("._tmp_")) false else super.rename(src, dst)
}
