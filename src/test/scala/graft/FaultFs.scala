package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Test-scope Hadoop filesystem over the local disk with injectable
  * object-store semantics, for driving [[graft.sources.BuildLock]]'s
  * reasoned-but-otherwise-unreachable store-fault branches in ScalaTest
  * (r17 verdict Next #6), and a daily run's transient input failure:
  *
  *  - `renameNoReplace` — S3A-style rename that REFUSES to replace an
  *    existing destination (returns false), forcing renewByRename's
  *    destination-exists delete+retry fallback.
  *  - `failRenames` — the next N renames fail outright, regardless of
  *    destination state, driving the claim-race abort (delete landed,
  *    retry rename lost) without needing a racing claimant.
  *  - `skipOpens` + `failOpens` — after skipping K lock opens, the next
  *    N throw IOException, modelling a transient store read hiccup
  *    (the r17 ADVICE medium: a flaky read must never be adjudicated
  *    as a heal-out).
  *
  *  - `failDataOpens` — the next N opens of a `.jsonl.gz` input throw
  *    IOException, failing the scan that reads it once (a transient store
  *    outage in the middle of a daily run, for the retry path).
  *
  * Only `.build.lock` files, and `.jsonl.gz` inputs while `failDataOpens`
  * is armed, are ever faulted, so the other IO under the same scheme
  * stays healthy. Registered per-suite via
  * `fs.faultfs.impl`; knobs are static because Hadoop caches and
  * reflectively constructs FileSystem instances.
  */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: URI = FaultFs.NAME

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".build.lock") && FaultFs.takeOpenFault() ||
        f.getName.endsWith(".jsonl.gz") && FaultFs.take(FaultFs.failDataOpens))
      throw new IOException(s"FaultFs: injected transient open failure for $f")
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName.endsWith(".build.lock")) {
      if (FaultFs.take(FaultFs.failRenames)) return false
      if (FaultFs.renameNoReplace && exists(dst)) {
        FaultFs.refusedRenames.incrementAndGet()
        return false // S3A-style: never replace an existing destination
      }
    }
    super.rename(src, dst)
  }
}

object FaultFs {
  val NAME: URI = URI.create("faultfs:///")

  /** Skip this many lock opens before failing any (lets a test arm a
    * failure for the SECOND read in a renewal tick while the first —
    * the pre-commit ownership check — still succeeds).
    */
  val skipOpens = new AtomicInteger(0)
  val failOpens = new AtomicInteger(0)
  val failRenames = new AtomicInteger(0)
  val failDataOpens = new AtomicInteger(0)
  val refusedRenames = new AtomicInteger(0)
  @volatile var renameNoReplace = false

  private[graft] def take(c: AtomicInteger): Boolean =
    c.getAndUpdate(n => if (n > 0) n - 1 else n) > 0

  private[graft] def takeOpenFault(): Boolean =
    if (take(skipOpens)) false else take(failOpens)

  def reset(): Unit = {
    skipOpens.set(0); failOpens.set(0); failRenames.set(0); failDataOpens.set(0)
    refusedRenames.set(0); renameNoReplace = false
  }
}
