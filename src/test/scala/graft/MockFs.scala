package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A Hadoop FileSystem registered under a NON-default `mock://` scheme
  * (local-disk backed), with rename/delete/log-listing instrumentation.
  * The sinks claim "any object store via `fs.<scheme>.impl` config, no
  * code change"; exercising them over `mock://` proves the claim beyond
  * `file://` — every Path round-trips through scheme resolution — and
  * the counters pin the rename-NOT-copy assumption (the one S3A breaks:
  * its "rename" is a server-side copy+delete, so a sink relying on
  * cheap atomic-ish renames must know it is making that assumption;
  * the compaction swap and the committer's task-commit moves are
  * exactly such renames). */
class MockFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mock:///")
  override def getScheme: String = "mock"
  override def rename(src: Path, dst: Path): Boolean = {
    MockFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    MockFs.deletes.incrementAndGet()
    super.delete(p, recursive)
  }
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (p.getName == "_txlog") MockFs.txlogListings.incrementAndGet()
    super.listStatus(p)
  }
}

object MockFs {
  val renames = new AtomicInteger(0)
  val deletes = new AtomicInteger(0)
  /** Listings of a TxTable log directory. */
  val txlogListings = new AtomicInteger(0)
  def reset(): Unit = { renames.set(0); deletes.set(0); txlogListings.set(0) }
}

/** Local-backed FS under a dedicated `cond://` scheme for the
  * conditional-PUT claim specs — a table URI whose scheme is neither
  * `file` (posix-link claim) nor anything defaulted, so the registered
  * [[graft.sinks.ConditionalPutClaim]] is provably the one deciding
  * races. */
class CondFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cond:///")
  override def getScheme: String = "cond"
}

/** Local-backed FS under `zmb://` that deterministically simulates the
  * ZOMBIE-WRITER interleave on a non-content-atomic store: when armed,
  * the next `.txn` claimed with `create(overwrite = false)` has its
  * content land normally — and then, between the writer's close and
  * its post-close verify, the file is overwritten with an `op=abort`
  * manifest, exactly what a fencer that observed the stall past its
  * TTL does. The writer-side verify (ADVICE r11) must report the claim
  * as LOST so the caller retries at a new version instead of returning
  * a version readers fold as an abort. */
class ZombieFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("zmb:///")
  override def getScheme: String = "zmb"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val inner = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!overwrite && f.getName.endsWith(".txn") && ZombieFs.armed.getAndSet(false)) {
      new org.apache.hadoop.fs.FSDataOutputStream(new java.io.FilterOutputStream(inner) {
        override def write(b: Array[Byte], off: Int, len: Int): Unit = inner.write(b, off, len)
        override def close(): Unit = {
          super.close() // the zombie's full content lands...
          // ...and the fencer's abort overwrite interleaves before the
          // zombie's verify re-read
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f.toUri.getPath),
            "graft-txn-v1\nop=abort\nend\n".getBytes)
        }
      }, null)
    } else inner
  }
}

object ZombieFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** The same instrumented local-backed FS registered under the LITERAL
  * `s3a` scheme with a BUCKET AUTHORITY (`s3a://test-bucket/...`), so
  * scheme-specific URI handling is pinned exactly as an S3A user would
  * hit it: authority parsing (the bucket must survive qualification
  * and the FileSystem cache key, and must NOT leak into the path), the
  * rename/delete call pattern the sinks assume, AND Spark's
  * scheme-dispatched listing path — `spark.sql.files
  * .useListFilesFileSystemList` defaults to `s3a`, so s3a paths list
  * through `FileSystem.listFiles`/`listLocatedStatus`, a code path the
  * generic mock:// scheme never exercises. Statuses are returned with
  * permissions/owner pre-materialized, exactly as real S3A does
  * (object stores have no POSIX permissions; S3A fabricates them) —
  * RawLocalFileSystem's lazy permission load cannot handle non-file
  * URIs, and an object-store FS must never hand out lazy statuses. */
class S3aMockFs extends MockFs {
  override def getUri: URI = URI.create("s3a://test-bucket/")
  override def getScheme: String = "s3a"

  private def loaded(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.valueOf(
        if (st.isDirectory) "drwxr-xr-x" else "-rw-r--r--"),
      "graft", "graft", st.getPath)

  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
    loaded(super.getFileStatus(p))

  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(p).map(loaded)
}
