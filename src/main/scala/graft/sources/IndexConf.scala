package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Layout-parameter stamp for persisted index artifacts — the fourth
  * lifecycle discipline next to grow, heal, and compact.
  *
  * Every persisted index in this engine derives its on-disk KEYS from
  * build parameters: the near-dup index's band keys from (shingle n,
  * bands, rowsPerBand), the media index's blocking keys from maxHamming's
  * chunk-pair covering, the IVF-PQ index's codes from (nlist, m, k). The
  * append/probe paths recompute the same derivation from the CALLER's
  * parameters — so a restarted session (or a second producer sharing the
  * index, the LlmIngestDag/live-stream pairing) that passes different
  * values mixes incompatible keys into one artifact. That failure is the
  * worst kind: nothing crashes, the joins simply stop matching and the
  * dedup/probe silently misses. The BM25 index already closed this hole
  * for itself (its `_stats` sidecar carries `buckets` and
  * `Bm25.appendBatch` requires equality); this generalizes the
  * discipline: one `_conf` sidecar per index root, stamped at creation,
  * validated on every subsequent producer entry.
  *
  * Semantics of [[ensure]]:
  *  - `_conf` present → the caller's parameters must EQUAL the stamp,
  *    key for key; any difference fails loudly naming the index, the
  *    mismatched keys, and both values. Loud beats silent misses.
  *  - `_conf` absent → stamp the caller's parameters. This is both the
  *    creation path and the MIGRATION path (a pre-upgrade index carries
  *    data but no stamp; first touch trusts the caller, because the
  *    pre-stamp parameters are not recoverable from the data).
  *  - two racing FIRST stamps cannot both win: same-JVM racers (two
  *    threads of one driver — the realistic pairing, e.g. a live stream
  *    and a DAG leg) are serialized on a monitor, so exactly one stamps
  *    and the others validate against it; cross-JVM racers rely on
  *    create(overwrite=false) plus an unconditional validate-after-write
  *    (Hadoop's local create is check-then-act, so a torn overwrite is
  *    conceivable there — the validate makes the overwritten racer FAIL
  *    loudly rather than proceed believing its own values; on HDFS and
  *    object stores with atomic create-exclusive, the loser simply
  *    validates). Differing racers surface as a failure, never as two
  *    producers proceeding under different layouts.
  *
  * The file is underscore-prefixed: parquet directory reads, [[Sidecar]],
  * `Markers.dataFileManifest`, and `Compaction.compactFlat`'s `.parquet`
  * listing all skip it. It lives at the index ROOT (the `bands/`,
  * `shingles/`, `keys/` data subdirs compact/swap beneath it); the one
  * artifact whose root itself swaps — the IVF-PQ staged rebuild — stamps
  * its staged tree before sealing, so the stamp rides the swap exactly
  * like the replay markers (and a rebuild may legitimately CHANGE the
  * stamp: it retrains and rewrites every code, which appends never do).
  *
  * Format: sorted `key=value` lines, UTF-8. Values must not contain
  * newlines ('=' is split on first occurrence, so values may contain it).
  */
object IndexConf {

  private[graft] val ConfFile = "_conf"

  /** Per-index-root monitors: every producer of every index calls
    * [[ensure]] once per batch, and the critical section wraps
    * filesystem round-trips — one JVM-global lock would serialize ALL
    * ingest on the slowest store call (the contention shape BuildOnce's
    * reap path just shed). Lock objects are tiny and index roots few;
    * the map is never pruned.
    */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stamp-or-validate `conf` at `indexDir` (see object doc). `what`
    * names the index family in failure messages.
    */
  def ensure(spark: SparkSession, indexDir: String,
      conf: Map[String, String], what: String): Unit = {
    require(conf.nonEmpty, "ensure: empty parameter map")
    require(conf.forall { case (k, v) =>
      !k.contains('\n') && !k.contains('=') && !v.contains('\n')
    }, "ensure: keys must not contain '=' or newlines; values no newlines")
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val p = new Path(dir, ConfFile)
    // serialize same-JVM stamp-or-validate PER INDEX ROOT (see the
    // object doc's race paragraph); the section is one exists + one tiny
    // file read/write. The key is the QUALIFIED path, not the caller's
    // string: path aliases (trailing slash, relative vs absolute,
    // scheme-qualified vs bare) must take the SAME monitor, or same-JVM
    // racers through different spellings silently fall back to the weaker
    // cross-JVM create-exclusive story.
    locks.computeIfAbsent(
        fs.makeQualified(dir).toString, _ => new Object).synchronized {
      if (fs.exists(p)) { validate(fs, p, conf, what, indexDir); return }
      fs.mkdirs(dir)
      try write(fs, p, conf, overwrite = false)
      catch { case e: java.io.IOException =>
        // a cross-JVM racer winning the exclusive create is the expected
        // (and recoverable) cause — but only if the file now EXISTS. A
        // real write failure (disk full, permissions) must surface as
        // itself, not as a confusing not-found from the validate read.
        if (!fs.exists(p)) throw e
      }
      // unconditional: even a successful create re-reads, so a racer
      // whose exclusive-create was torn (non-atomic local FS) fails
      // loudly instead of proceeding under values the file doesn't hold
      validate(fs, p, conf, what, indexDir)
    }
  }

  /** Overwrite the stamp unconditionally — ONLY for writers that rebuild
    * the artifact wholesale (the IVF-PQ staged rebuild stamps its staged
    * tree with possibly-new parameters before sealing). Append paths must
    * use [[ensure]].
    */
  def stamp(spark: SparkSession, indexDir: String,
      conf: Map[String, String]): Unit = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    write(fs, new Path(dir, ConfFile), conf, overwrite = true)
  }

  /** The stamp at `indexDir`, if one exists. */
  def read(spark: SparkSession, indexDir: String): Option[Map[String, String]] = {
    val p = new Path(new Path(indexDir), ConfFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None else Some(parse(fs, p))
  }

  private def write(fs: FileSystem, p: Path,
      conf: Map[String, String], overwrite: Boolean): Unit = {
    val rendered = conf.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    val out = fs.create(p, overwrite)
    try out.write(rendered.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def parse(fs: FileSystem, p: Path): Map[String, String] = {
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    text.split('\n').iterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"IndexConf: malformed stamp line '$line' in $p")
      (line.substring(0, i), line.substring(i + 1))
    }.toMap
  }

  private def validate(fs: FileSystem, p: Path, conf: Map[String, String],
      what: String, indexDir: String): Unit = {
    val stamped = parse(fs, p)
    val mismatched = (stamped.keySet ++ conf.keySet).toSeq.sorted.flatMap { k =>
      (stamped.get(k), conf.get(k)) match {
        case (Some(a), Some(b)) if a == b => None
        case (a, b) => Some(
          s"$k: index=${a.getOrElse("<absent>")} caller=${b.getOrElse("<absent>")}")
      }
    }
    if (mismatched.nonEmpty) throw new IllegalStateException(
      s"$what at $indexDir was built with different layout parameters " +
        s"than this caller's — appending or probing would mix " +
        s"incompatible keys and silently stop matching. Mismatched: " +
        mismatched.mkString("[", "; ", "]") +
        ". Rebuild the index under the new parameters or fix the caller.")
  }
}
