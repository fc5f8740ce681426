package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one storage primitive the [[TxTable]] commit protocol needs:
  * atomically publish a small named object iff the name is unclaimed.
  * Everything else in the protocol (staging, folding, checkpoints,
  * vacuum) is plain immutable-file IO; ONLY the claim decides races,
  * so only the claim is store-specific. Three public shapes cover the
  * stores the reference's world uses (upload_to_rfs.py:154-223 is
  * S3-centric; local disk and HDFS are the test/cluster defaults):
  *
  *  - [[PosixLinkClaim]] — `link(2)`: name and content appear in one
  *    metadata op. Content-atomic.
  *  - [[CreateNoOverwriteClaim]] — HDFS `create(overwrite=false)`:
  *    the claim is atomic at the namenode but content follows, so a
  *    torn window exists (readers require the `end` terminator;
  *    writers fence stalls). NOT content-atomic.
  *  - [[ConditionalPutClaim]] — S3 conditional PUT
  *    (`If-None-Match: *`, public since 2024): the whole object lands
  *    or nothing does — content-atomic with no rename, no list-after-
  *    write, and no lock service, which is why it is the preferred
  *    100 TB claim.
  */
trait ClaimPrimitive {

  /** True iff a published name can never be observed without its full
    * content. Content-atomic claims need no gap fencing ([[TxTable
    * .fenceStalled]]) and close the zombie-writer window entirely. */
  def contentAtomic: Boolean

  /** Atomically publish `content` at `dst` iff the name is unclaimed.
    * True = this caller owns the name; false = a lost race (the ONLY
    * outcome mapped to false). A real IO failure propagates — it must
    * never be conflated with losing (a conflation burns the version
    * silently). */
  def putIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean
}

/** POSIX: content written to a private temp file in the same
  * directory, then `link(2)`'d into place — the name appears
  * atomically WITH its full content, and the link fails with EEXIST
  * if the name is already claimed. */
object PosixLinkClaim extends ClaimPrimitive {
  val contentAtomic = true

  def putIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    val dstFile = java.nio.file.Paths.get(dst.toUri.getPath)
    java.nio.file.Files.createDirectories(dstFile.getParent)
    val tmp = java.nio.file.Files.createTempFile(dstFile.getParent, ".stage-", ".tmp")
    try {
      java.nio.file.Files.write(tmp, content)
      try { java.nio.file.Files.createLink(dstFile, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}

/** HDFS-like: `create(overwrite = false)` is an atomic namenode claim;
  * content follows, so readers additionally require the manifest's
  * `end` terminator and writers run [[TxTable.fenceStalled]]. After
  * close the manifest is RE-READ and byte-compared against what this
  * writer wrote: a mismatch means a fencer (or any interleaved write)
  * took the version while we were stalled — reported as a lost race so
  * the caller retries at a new version instead of returning a commit
  * readers will fold differently (the zombie-writer hazard).
  *
  * Residual window, documented honestly: a zombie stalled past the
  * fence TTL whose late content write lands wholly AFTER the fencer's
  * abort — and whose verify re-read then sees its own bytes — still
  * reports success while a reader that folded the abort (or a
  * checkpoint that froze it) disagrees. Without a lease or a
  * compare-and-swap this window cannot be closed on such stores; it is
  * why [[PosixLinkClaim]] and [[ConditionalPutClaim]] (both
  * content-atomic) are the defaults everywhere they exist, and the
  * fence TTL is sized (minutes) so the window needs a multi-minute GC
  * pause landing in a millisecond slot. */
object CreateNoOverwriteClaim extends ClaimPrimitive {
  val contentAtomic = false

  def putIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    val created =
      try Some(fs.create(dst, false))
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
        case _: java.nio.file.FileAlreadyExistsException => None
      }
    created match {
      case None => false
      case Some(out) =>
        try { try out.write(content) finally out.close() }
        catch {
          case e: java.io.IOException =>
            // our claim, our garbage: remove the unterminated file so
            // readers keep contiguity without waiting for a fence
            try fs.delete(dst, false)
            catch { case _: java.io.IOException => () }
            throw e
        }
        // post-close verify (the fenced-while-stalled check): only a
        // byte-identical manifest is OUR commit
        val echoed =
          try {
            val st = fs.getFileStatus(dst)
            val buf = new Array[Byte](st.getLen.toInt)
            val in = fs.open(dst)
            try in.readFully(0, buf) finally in.close()
            buf
          } catch { case _: java.io.IOException => Array.emptyByteArray }
        java.util.Arrays.equals(echoed, content)
    }
  }
}

/** The S3 conditional-PUT contract ([[ConditionalPutClaim]] is generic
  * over it): one HTTP-shaped operation per method. A production
  * binding adapts the AWS SDK's `PutObject` with `If-None-Match: "*"`
  * (HTTP 412 = `false`) and `GetObject`; [[LocalConditionalStore]] is
  * the reference implementation used by the specs. */
trait ConditionalStore {

  /** All-or-nothing conditional PUT: true = created (HTTP 200 with the
    * precondition held), false = the key already exists (HTTP 412).
    * An [[java.io.IOException]] means the OUTCOME IS UNKNOWN (response
    * lost) — the object may or may not have been created; the caller
    * disambiguates via [[get]]. */
  def putIfNoneMatch(path: Path, content: Array[Byte]): Boolean

  /** Full object content, or None if the key does not exist. */
  def get(path: Path): Option[Array[Byte]]
}

/** Local-disk reference implementation of [[ConditionalStore]] —
  * hard-link-published so the conditional-PUT atomicity contract
  * (whole object or nothing, never torn) genuinely holds. Used by the
  * fault-injection specs as the honest stand-in for S3. */
final class LocalConditionalStore extends ConditionalStore {
  // the link claim works on the local path alone and never uses its FileSystem
  def putIfNoneMatch(path: Path, content: Array[Byte]): Boolean =
    PosixLinkClaim.putIfAbsent(null, path, content)

  def get(path: Path): Option[Array[Byte]] = {
    val p = java.nio.file.Paths.get(path.toUri.getPath)
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readAllBytes(p)) else None
  }
}

/** Object-store claim over [[ConditionalStore]]. Content-atomic by the
  * PUT contract, so no fencing, no torn manifests, no `end`-terminator
  * dependence. The one failure the shape must handle beyond a plain
  * filesystem is the LOST RESPONSE: the PUT may have been applied even
  * though the writer saw an error. Disambiguation is by content —
  * every claim manifest is unique to its writer (staging paths carry a
  * fresh UUID), so a GET that echoes our bytes proves OUR put landed:
  *
  *  - GET == our bytes  → we own the version (success, not a retry).
  *  - GET == other bytes → a racer owns it (an ordinary lost race).
  *  - GET absent        → the PUT was NOT applied; safe to re-PUT
  *    (idempotent under If-None-Match) up to [[MaxAmbiguousRetries]].
  *
  * Checkpoint manifests are the one non-unique content (two racing
  * checkpointers render identical bytes by design) — for them the
  * "we own it" answer is harmlessly shared, exactly like the
  * filesystem claims. */
final class ConditionalPutClaim(store: ConditionalStore) extends ClaimPrimitive {
  val contentAtomic = true

  private val MaxAmbiguousRetries = 3

  def putIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    var attempt = 0
    while (true) {
      try return store.putIfNoneMatch(dst, content)
      catch {
        case e: java.io.IOException =>
          store.get(dst) match {
            case Some(b) if java.util.Arrays.equals(b, content) => return true
            case Some(_) => return false
            case None =>
              attempt += 1
              if (attempt >= MaxAmbiguousRetries) throw e
          }
      }
    }
    false // unreachable
  }

  override def toString: String =
    s"ConditionalPutClaim(${store.getClass.getSimpleName})"
}

object Claims {
  private val overrides =
    new java.util.concurrent.ConcurrentHashMap[String, ClaimPrimitive]()

  /** Registers the claim primitive for a URI scheme (e.g. an S3
    * binding for `s3a`). Test suites use this to mount fault-injecting
    * stores; production deployments mount the SDK-backed
    * [[ConditionalStore]] adapter once at startup. */
  def register(scheme: String, claim: ClaimPrimitive): Unit =
    overrides.put(scheme, claim)

  def unregister(scheme: String): Unit = overrides.remove(scheme)

  /** Claim primitive for a filesystem: a registered override first,
    * then `link(2)` on `file`, then HDFS-style create-no-overwrite —
    * the conservative default for any unknown scheme (it never assumes
    * atomicity the store might not have). */
  def forFs(fs: FileSystem): ClaimPrimitive = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val o = overrides.get(scheme)
    if (o != null) o
    else if (scheme == "file") PosixLinkClaim
    else CreateNoOverwriteClaim
  }
}
