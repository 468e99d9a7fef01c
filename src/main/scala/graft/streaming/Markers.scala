package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Batch markers of the producer-namespaced indexes ([[StreamNearDup]]
  * text near-dup, [[StreamFingerprint]] media, and the ANN/BM25 indexes
  * grown through `Pq.appendBatch`/`Bm25.appendBatch`): one
  * implementation of "is this batch applied?" and of the claim protocol
  * ([[claimBatch]]), so the DAG gates and the apply paths can never
  * drift apart.
  *
  * A batch is marked by `_batches/<namespace>-<id>`: `mb-<id>` for a live
  * stream's micro-batch counter, `day-<id>` for the DAG's epoch days. Ids
  * only need to be unique within their producer. A bare `_batches/<id>`
  * (the spelling from before markers were namespaced) is refused wherever
  * `_batches` is read here: it cannot say which producer applied it, and
  * a wrong guess either re-applies the batch or drops one. The error
  * names the file and the rename that fixes it.
  */
object Markers {

  /** True iff `batchId` is applied under `namespace`. Existence-only:
    * producers whose markers carry content (the [[claimBatch]]
    * claimed-empty protocol) gate on [[appliedNonEmpty]].
    */
  def applied(
      spark: SparkSession, indexDir: String, batchId: Long,
      namespace: String): Boolean = {
    val fs = fsOf(spark, indexDir)
    existingMarker(fs, indexDir, batchId, namespace).isDefined
  }

  /** True iff `batchId` is applied WITH CONTENT under `namespace` — the
    * gate of the [[claimBatch]] protocol, where an EMPTY marker is a
    * claimed-but-dead attempt that must read as not-applied.
    */
  def appliedNonEmpty(
      spark: SparkSession, indexDir: String, batchId: Long,
      namespace: String): Boolean =
    nonEmptyMarker(fsOf(spark, indexDir), indexDir, batchId, namespace)

  private def nonEmptyMarker(
      fs: FileSystem, indexDir: String, batchId: Long,
      namespace: String): Boolean =
    existingMarker(fs, indexDir, batchId, namespace).exists { p =>
      // a concurrent mutator healing a dead claim deletes it between the
      // existence check and this stat: a vanished marker reads as
      // NOT-applied; the healer's producer owns the retry
      try fs.getFileStatus(p).getLen > 0
      catch { case _: java.io.FileNotFoundException => false }
    }

  /** The marker of (`batchId`, `namespace`), if present. A bare
    * `_batches/<batchId>` beside an absent namespaced one is refused.
    */
  private[graft] def existingMarker(
      fs: FileSystem, indexDir: String, batchId: Long,
      namespace: String): Option[Path] = {
    val ns = markerPath(indexDir, batchId, namespace)
    if (fs.exists(ns)) return Some(ns)
    val bare = new Path(ns.getParent, batchId.toString)
    if (fs.exists(bare)) refuseBare(bare)
    None
  }

  private def isBare(name: String): Boolean =
    name.nonEmpty && name.forall(_.isDigit)

  private def refuseBare(p: Path): Nothing = {
    val id = p.getName
    throw new IllegalStateException(
      s"Markers: $p is a bare batch marker, a spelling from before markers " +
        s"were namespaced by producer; it cannot say which producer applied " +
        s"batch $id, so the batch is neither re-applied nor rebuilt over. " +
        s"Rename it (and its .pre, if any) to day-$id if the DAG applied " +
        s"epoch day $id, or to mb-$id if a stream applied micro-batch $id")
  }

  /** Sorted `relativePath:length` lines of every DATA file under an index
    * root ("_"/"."-prefixed names — sidecars, markers, _SUCCESS — skipped
    * at every level). Spark part-file names are unique per write attempt,
    * so manifest equality means no write since the snapshot committed
    * anything. Bounded by the index's file count (the same budget the
    * compaction item manages). Lives here (with the marker semantics it
    * proves things about) so [[healDeadClaims]] is callable from every
    * mutator family without layering inversions.
    */
  private[graft] def dataFileManifest(fs: FileSystem, root: String): String = {
    val base = fs.makeQualified(new Path(root))
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_")
          || st.getPath.getName.startsWith("."))
        .flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(s"${st.getPath.toString.stripPrefix(base.toString)}:${st.getLen}")
        }
    if (!fs.exists(base)) "" else walk(base).sorted.mkString("\n")
  }

  /** Adjudicate crashed append claims — MUST run under the artifact's
    * MUTATION lease, at lease entry, in EVERY mutator family (append,
    * drift rebuild, compaction).
    *
    * An EMPTY batch marker under the lease is provably a dead claim:
    * claims are created, filled, and deleted only inside the same lease,
    * so no live producer can own one while we hold it. Its `.pre`
    * manifest snapshot proves whether the dead append committed data —
    * but that proof only stays valid until the NEXT mutation rewrites
    * the file listing. The crash-injection fuzz (r18) caught the decay:
    * a producer SIGKILLed mid-append left a clean claim (nothing
    * landed), the restarted producer's schedule ran its REBUILD first,
    * the rebuild's wholesale rewrite invalidated the manifest, and the
    * batch's own retry then read permanently red — a silent one-batch
    * loss wearing a claimed marker. Adjudicating at every lease entry
    * closes it: the first mutator through the lease after a crash still
    * sees the manifest the dead claim recorded.
    *
    * Per empty claim: manifest unchanged since the claim → delete claim
    * + proof (nothing landed; the batch re-applies as fresh on its
    * producer's retry). Manifest changed, or no readable proof → leave
    * red for the claim's own gate (data may have landed — partially,
    * under a task-commit protocol — and only the operator can adjudicate
    * a partial batch; [[appendBatchApplied]]-style gates stay red —
    * [[inspect]] is the diagnostic that names the red markers and their
    * evidence).
    */
  private[graft] def healDeadClaims(fs: FileSystem, indexDir: String): Unit = {
    val bdir = new Path(s"$indexDir/_batches")
    val dead = try {
      if (!fs.exists(bdir)) return
      fs.listStatus(bdir).toSeq.filter(st => st.isFile
        && isBatchMarker(st.getPath.getName) && st.getLen == 0)
    } catch { case _: java.io.IOException => return }
    if (dead.isEmpty) return
    lazy val manifest = dataFileManifest(fs, indexDir) // one walk, shared
    dead.foreach { st =>
      val pre = new Path(bdir, st.getPath.getName + ".pre")
      try {
        val in = fs.open(pre)
        val recorded = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        if (recorded == manifest) {
          fs.delete(st.getPath, false)
          fs.delete(pre, false)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Markers: healed dead claim ${st.getPath.getName} at $indexDir " +
              "(crashed append, manifest proves nothing landed) — the " +
              "batch re-applies as fresh when its producer retries")
        }
      } catch { case _: java.io.IOException => () } // no/unreadable proof:
      // leave red — the claim's own gate reports it for manual repair
    }
  }

  /** Operator diagnostic for an index's `_batches` claim state (r18
    * verdict "what's wrong" #2: the two designed red states resolved to
    * "-1, operator adjudicates", but nothing told the operator WHICH
    * markers were red or what the manifest evidence said — the incident
    * runbook was hand-inspecting `_batches`). One row per marker (plus
    * orphan proof sidecars), with the classification the heal/gate
    * machinery itself would make and the evidence behind it:
    *
    *  - `applied`     — non-empty marker; `rows` is its recorded count.
    *    Nothing to do.
    *  - `dead_clean`  — empty claim whose `.pre` manifest proof matches
    *    the current data listing: a crashed append that provably
    *    committed nothing. Self-heals at the next mutator's lease entry
    *    ([[healDeadClaims]]) or the batch's own retry. No action.
    *  - `red_landed`  — empty claim whose proof shows the data listing
    *    CHANGED since the claim (the narrow commit-vs-marker window, or
    *    a proof invalidated before adjudication could run): data may
    *    have landed, partially or fully. The gate stays -1. Runbook:
    *    verify the batch's rows against the index (count its id range,
    *    or re-derive from the source), then either delete the marker
    *    and its `.pre` so the producer's retry re-applies (rows absent
    *    or you removed the partial), or write the applied row count
    *    into the marker (rows fully present).
    *  - `red_no_proof` — empty claim with no readable `.pre` (a
    *    hand-made claim): no machine evidence either way. Same
    *    runbook as `red_landed`, minus the manifest hints.
    *  - `orphan_proof` — a `.pre` without its marker (debris from a
    *    crash inside the heal's two deletes): safe to delete.
    *
    * Read-only and lock-free: one `_batches` listing plus one data-file
    * walk (the [[dataFileManifest]] budget), safe to run against a live
    * index — a concurrent mutator can at worst make a `dead_clean` row
    * momentarily stale, never invent a red one that was not there at
    * the listing instant.
    */
  def inspect(
      spark: SparkSession, indexDir: String): org.apache.spark.sql.DataFrame = {
    val fs = fsOf(spark, indexDir)
    val bdir = new Path(s"$indexDir/_batches")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, String, Long, String)]
    if (fs.exists(bdir)) {
      val entries = fs.listStatus(bdir).toSeq.filter(_.isFile)
      val markers = entries.filter(st => isBatchMarker(st.getPath.getName))
      val markerNames = markers.map(_.getPath.getName).toSet
      lazy val manifest = dataFileManifest(fs, indexDir) // one walk, shared
      def readText(p: Path): Option[String] =
        try {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)) finally in.close()
        } catch { case _: java.io.IOException => None }
      def split(name: String): (String, Long) = {
        val i = name.indexOf('-')
        (name.substring(0, i), name.substring(i + 1).toLong)
      }
      markers.foreach { st =>
        val name = st.getPath.getName
        val (ns, id) = split(name)
        if (st.getLen > 0) {
          val n = readText(st.getPath).flatMap(_.trim.toLongOption).getOrElse(-1L)
          out += ((name, ns, id, "applied", n,
            s"marker records n=$n applied rows"))
        } else readText(new Path(bdir, name + ".pre")) match {
          case Some(recorded) if recorded == manifest =>
            out += ((name, ns, id, "dead_clean", -1L,
              "crashed claim; manifest proof matches the current data " +
                "listing (nothing landed) — self-heals at the next " +
                "mutator lease entry or the batch's own retry"))
          case Some(recorded) =>
            val rec = recorded.split('\n').filter(_.nonEmpty).toSet
            val cur = manifest.split('\n').filter(_.nonEmpty).toSet
            val added = (cur -- rec).toSeq.sorted
            val removed = (rec -- cur).toSeq.sorted
            out += ((name, ns, id, "red_landed", -1L,
              s"DATA MAY HAVE LANDED: listing drifted since the claim " +
                s"(+${added.size}/-${removed.size} files)" +
                (if (added.nonEmpty)
                  s"; added e.g. ${added.take(3).mkString(", ")}" else "") +
                (if (removed.nonEmpty)
                  s"; removed e.g. ${removed.take(3).mkString(", ")}" else "")))
          case None =>
            out += ((name, ns, id, "red_no_proof", -1L,
              "empty claim with no readable .pre proof (hand-made) — " +
                "operator adjudicates"))
        }
      }
      entries.filter(_.getPath.getName.endsWith(".pre")).foreach { st =>
        val base = st.getPath.getName.stripSuffix(".pre")
        if (isBatchMarker(base) && !markerNames.contains(base)) {
          val (ns, id) = split(base)
          out += ((base + ".pre", ns, id, "orphan_proof", -1L,
            "proof sidecar without its marker (heal crashed between its " +
              "two deletes) — safe to delete"))
        }
      }
    }
    val sq = spark
    import sq.implicits._
    out.toSeq.sortBy(r => (r._2, r._3, r._1))
      .toDF("marker", "namespace", "batch_id", "state", "rows", "evidence")
  }

  /** The path of the marker for (`batchId`, `namespace`). */
  private[graft] def markerPath(
      indexDir: String, batchId: Long, namespace: String): Path =
    new Path(s"$indexDir/_batches/$namespace-$batchId")

  /** True for batch-marker file names (`<letters>-<digits>`), false for
    * sidecars (`.pre`, `_SUCCESS`, …).
    */
  private[graft] def isBatchMarker(name: String): Boolean = {
    val i = name.indexOf('-')
    val digits = name.substring(i + 1)
    i > 0 && name.substring(0, i).forall(_.isLetter) &&
      digits.nonEmpty && digits.forall(_.isDigit)
  }

  /** Has any batch ever applied here? The build-vs-append decision of
    * [[claimBatch]]; a bare marker anywhere in `_batches` is refused.
    */
  private def anyApplied(fs: FileSystem, indexDir: String): Boolean = {
    val bdir = new Path(s"$indexDir/_batches")
    if (!fs.exists(bdir)) return false
    val entries = fs.listStatus(bdir).toSeq.map(_.getPath)
    entries.find(p => isBare(p.getName)).foreach(refuseBare)
    entries.exists(p => isBatchMarker(p.getName))
  }

  /** The exactly-once batch protocol of the grown indexes
    * (`Pq.appendBatch`, `Bm25.appendBatch` and their stream legs). The
    * caller supplies what differs per index: the sidecar that means
    * "built" (`built`, relative to `indexDir`), the lease label, a
    * pre-step `heal`, the `build` body, and the `validate`-then-`append`
    * body. The steps:
    *  1. a non-empty marker is immutable, so a replay returns -1 before
    *     the lease and never queues behind a live mutator;
    *  2. everything else runs under the artifact's cross-JVM MUTATION
    *     lease: two producers (the DAG and a live stream) may share one
    *     index, and two day-one builds, or an append racing a rebuild or
    *     a read-modify-write of the index's stats, would corrupt it;
    *  3. `heal`, then [[healDeadClaims]], which deletes every empty
    *     claim whose `.pre` manifest proves nothing landed. A marker
    *     still present after that is applied or an unrepairable claim:
    *     -1, and its gate stays red for the operator ([[inspect]]);
    *  4. build vs append is decided by whether ANY batch marker exists,
    *     not by the `built` sidecar alone: `build` is an idempotent
    *     overwrite, so a day-one crash between the build and its marker
    *     rebuilds on replay instead of appending day one twice. Its
    *     marker is written with the row count `build` returns;
    *  5. append: `validate` first (a layout mismatch fails before
    *     `_batches` is touched), then the `.pre` data-file manifest, the
    *     EMPTY claim, `append`, the marker filled with its row count,
    *     and the `.pre` dropped. A crash after the claim leaves an empty
    *     marker that step 3 heals on the next mutation when the manifest
    *     proves nothing landed.
    * Returns rows applied; -1 for a replay / unrepairable claim.
    */
  private[graft] def claimBatch[I](
      spark: SparkSession, indexDir: String, batchId: Long,
      namespace: String, built: String, what: String,
      leaseMs: Long, leaseMaxWaitMs: Long, heal: () => Unit = () => ())(
      build: () => Long, validate: () => I, append: I => Long): Long = {
    val fs = fsOf(spark, indexDir)
    if (nonEmptyMarker(fs, indexDir, batchId, namespace)) return -1L
    val marker = markerPath(indexDir, batchId, namespace)
    val pre = new Path(marker.getParent, marker.getName + ".pre")
    def write(p: Path, text: String): Unit = {
      val out = fs.create(p, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    graft.sources.BuildLock.withLease(spark, indexDir, what,
      leaseMs = leaseMs, maxWaitMs = leaseMaxWaitMs, mutation = true) {
      heal()
      healDeadClaims(fs, indexDir)
      if (existingMarker(fs, indexDir, batchId, namespace).isDefined) -1L
      else if (!anyApplied(fs, indexDir) ||
          !fs.exists(new Path(indexDir, built))) {
        val n = build() // overwrites the root: `_batches` is made after
        fs.mkdirs(marker.getParent)
        write(marker, n.toString)
        n
      } else {
        val index = validate()
        fs.mkdirs(marker.getParent)
        write(pre, dataFileManifest(fs, indexDir))
        write(marker, "") // the claim: empty = not yet applied
        val n = append(index)
        write(marker, n.toString)
        fs.delete(pre, false)
        n
      }
    }
  }

  private def fsOf(spark: SparkSession, indexDir: String): FileSystem =
    new Path(indexDir).getFileSystem(spark.sessionState.newHadoopConf())
}
