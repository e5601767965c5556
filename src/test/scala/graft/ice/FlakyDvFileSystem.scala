package graft.ice

/** Test FileSystem: local storage under the `flakydv:` scheme with two
  * one-shot (when armed) transient-blip seams on a `_dv` side table:
  *  - `listStatus` under `_dv/` fails, proving [[IceTable.commitVersion]]
  *    PROPAGATES listing failures instead of reading them as "no dv
  *    commits" (which would pin a stale dim version and let a dim-side
  *    merge-on-read delete slip through join-view maintenance undetected);
  *  - `getFileStatus` of `_dv/_log` fails, proving the dv existence probe
  *    propagates instead of reading as "no dv table" (which would make
  *    every read resurrect the deleted rows). */
class FlakyDvFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flakydv:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (p.toString.contains("/_dv/") &&
        FlakyDvFileSystem.failNext.compareAndSet(true, false))
      throw new java.io.IOException("injected transient _dv listing failure")
    super.listStatus(p)
  }
  override def getFileStatus(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    if (p.toString.endsWith("/_dv/_log") &&
        FlakyDvFileSystem.failStatusNext.compareAndSet(true, false))
      throw new java.io.IOException("injected transient _dv/_log status failure")
    super.getFileStatus(p)
  }
}

object FlakyDvFileSystem {
  private val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val failStatusNext = new java.util.concurrent.atomic.AtomicBoolean(false)
  def armFailure(): Unit = failNext.set(true)
  def armStatusFailure(): Unit = failStatusNext.set(true)
  def disarm(): Unit = { failNext.set(false); failStatusNext.set(false) }
}
