package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for partitioned parquet tables — the maintenance
  * job every long-running ingest needs: streaming/CDC writers
  * ([[PartitionedUpsert]], `StreamUpsert`, micro-batch appends) leave
  * partitions with many KB-sized files, and at 100 TB the resulting
  * NameNode/listing pressure and per-file open cost dominate scans long
  * before the bytes do.
  *
  * `compact` walks the table's partition directories (driver-side listing,
  * bounded by file count — the same metadata a scan would list anyway),
  * picks partitions whose file count and mean file size cross the
  * thresholds, and rewrites JUST those partitions to
  * `ceil(bytes / targetFileBytes)` files via a pruned read + dynamic
  * partition overwrite. Content is untouched (row-identical,
  * spec-asserted); untouched partitions' files are never rewritten.
  */
object Compaction {

  /** One partition's file stats. */
  final case class PartitionStats(
      partition: String, nFiles: Int, totalBytes: Long)

  /** List (partition value → stats) for a `partitionCol=value`-laid-out
    * table. Driver-side FS metadata walk, no data read.
    */
  def stats(
      spark: SparkSession, tablePath: String,
      partitionCol: String): Seq[PartitionStats] = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(tablePath)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
      .map { dir =>
        val files = fs.listStatus(dir.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        PartitionStats(
          dir.getPath.getName.stripPrefix(s"$partitionCol="),
          files.size, files.map(_.getLen).sum)
      }
  }

  /** Compact partitions with more than `maxFiles` files AND mean file size
    * under `smallFileBytes`. Returns the rewritten partition values.
    *
    * The rewrite (victim-slice read through the dynamic overwrite) runs
    * under the table's [[BuildLock]] lease (r16): the overwrite replaces
    * each victim partition with the compacted output of a SNAPSHOT read,
    * so a concurrent append landing in a victim partition inside that
    * window would be silently deleted — exactly the overlap the live
    * index grow legs (StreamAnnGrow micro-batches vs the nightly
    * `compact_ann_index`) now make real. Leased appenders
    * (`Pq.appendBatch`/`Bm25.appendBatch`) serialize against it; the
    * victim-selection stats walk stays lock-free (a stale victim list
    * only defers a partition to the next run — the slice re-reads the
    * live listing under the lease). Unleased same-path writers remain
    * the caller's exclusion to provide, as before.
    */
  def compact(
      spark: SparkSession, tablePath: String, partitionCol: String,
      maxFiles: Int = 8, smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20,
      leaseMs: Long = BuildLock.DefaultLeaseMs): Seq[String] = {
    import spark.implicits._
    val victims = stats(spark, tablePath, partitionCol).filter(p =>
      p.nFiles > maxFiles && p.totalBytes / math.max(p.nFiles, 1) < smallFileBytes)
    if (victims.isEmpty) return Seq.empty
    BuildLock.withLease(spark, tablePath, "partitioned compaction",
        leaseMs = leaseMs, mutation = true) {
    // adjudicate dead append claims while their manifest proofs are
    // still valid — the fold below rewrites the file listing, which
    // would turn a clean crashed append permanently red (no-op when the
    // table has no _batches dir; Markers.healDeadClaims doc, r18)
    graft.streaming.Markers.healDeadClaims(
      new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf()),
      tablePath)
    val parts = victims.map(_.partition)
    // target file count PER partition (a 10 GB partition must not collapse
    // to one file): salt each row by hash mod that count, shuffle on
    // (partition, salt) — each combination becomes ~one output file
    val targets = victims.map(p => (p.partition,
      math.max(1L, math.ceil(p.totalBytes.toDouble / targetFileBytes).toLong)))
      .toDF("__part", "__nfiles")
    val slice = spark.read.parquet(tablePath)
      .filter(col(partitionCol).cast("string").isin(parts: _*))
    val dataCols = slice.columns.filterNot(_ == partitionCol).map(col)
    val compacted = slice
      .join(broadcast(targets), col(partitionCol).cast("string") === col("__part"))
      .withColumn("__salt", pmod(xxhash64(struct(dataCols: _*)), col("__nfiles")))
      .repartition(col(partitionCol), col("__salt"))
      .drop("__part", "__nfiles", "__salt")
      .localCheckpoint() // cut the read-overwrite cycle (PartitionedUpsert note)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try compacted.write.mode("overwrite").partitionBy(partitionCol).parquet(tablePath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    parts
    }
  }

  /** Compact a FLAT (unpartitioned) append-only parquet dir — the minhash
    * `neardup_index`'s `bands/` and `shingles/` shape (r11 verdict #5:
    * every other warehouse artifact had a compaction owner; these append
    * one small file set per day forever). Same thresholds as [[compact]];
    * returns true iff a rewrite happened.
    *
    * The rewrite is STAGED next to the dir and swapped in by rename (the
    * `Pq.rebuildIfDrifted` discipline): content lands complete in
    * `<dir>.compact.staged` + a `_swap_ready` sentinel, the live dir
    * moves aside to `<dir>.compact.old`, the stage renames in, the old
    * copy is deleted. No crash instant leaves the dir half-rewritten;
    * [[healCompactFlat]] finishes (any caller) or discards (writer only)
    * an interrupted swap.
    *
    * == CONCURRENCY CONTRACT (r12 verdict #5 / ADVICE; r13 ADVICE) ==
    * At most ONE compactFlat may run per dir at a time — the caller owns
    * that exclusion (LlmIngestDag: one `compact_neardup_index` /
    * `compact_media_index` task per day, ordered after the day's grow
    * task). Concurrent READERS are safe: between the two renames the live
    * dir is transiently absent, but the stage is already sealed, so a
    * reader that heals ([[healCompactFlat]] in its default reader mode —
    * `StreamNearDup.load`, `StreamFingerprint` probes) either still sees
    * the old live dir or COMPLETES the swap itself and reads the
    * compacted content; it never deletes a stage (the r12 ADVICE race:
    * a reader-side delete of a mid-write stage let the writer's sentinel
    * recreate an empty stage and install it over live data). Both
    * renames are result-checked — a failed swap aborts loudly with the
    * live content intact (possibly restored from the moved-aside copy),
    * never half-installed.
    *
    * Concurrent APPENDERS are safe too (r13 ADVICE: StreamFingerprint's
    * live micro-batches append `keys/` files while the nightly
    * compact_media_index runs — the old swap silently DROPPED any file
    * appended after its read, and an append landing between the two
    * renames recreated the live dir so the swap-in renamed the stage
    * INTO it, Hadoop rename-into-existing-dir semantics, then deleted
    * the full index as ".old"). Three mechanisms close it:
    *   1. the rewrite reads EXACTLY the files of the opening listing
    *      (explicit-path read, never a directory read) — a file landing
    *      mid-rewrite is neither read nor (later) dropped, and can never
    *      be duplicated;
    *   2. after the move-aside, files in the `.old` copy NOT in that
    *      snapshot (appends that landed before the move) are renamed
    *      into the stage — parquet part names are write-UUID-unique, so
    *      cross-write collisions cannot occur;
    *   3. the swap-in FOLDS-then-renames in a bounded loop: an append
    *      that recreated the live dir in the absent window has its files
    *      renamed into the stage and the emptied dir removed before the
    *      rename is retried; a rename that nonetheless lands INTO a
    *      just-recreated dir (the unavoidable check-then-act instant) is
    *      detected afterwards — the stage dir is then a CHILD of the
    *      live dir — and un-nested file-by-file, which converges to
    *      compacted + appended content rather than corrupting the read.
    * The one remaining caveat is inherent to exactly-once-less appends:
    * a reader probing in the absent-dir instant sees the index only
    * after its own reader-mode heal (which both stream probes do).
    */
  def compactFlat(
      spark: SparkSession, dirPath: String,
      maxFiles: Int = 8, smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20): Boolean = {
    healCompactFlat(spark, dirPath, writer = true)
    val dir = new Path(dirPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return false
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    if (files.size <= maxFiles
        || bytes / math.max(files.size, 1) >= smallFileBytes) return false
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val staged = new Path(stagedFlat(dirPath))
    val old = new Path(oldFlat(dirPath))
    fs.delete(staged, true)
    discardOld(fs, old, dirPath)
    // the SNAPSHOT read: exactly the files listed above, by path — a
    // directory read here would race concurrent appends (rows appended
    // mid-rewrite would be folded into the stage AND survive as late
    // files: duplicated)
    val snapshot = files.map(_.getPath.getName).toSet
    // manifest of the snapshot into the LIVE dir, BEFORE the move-aside:
    // it rides rename(dir, old) atomically, so EVERY post-move-aside
    // crash state leaves `.old` with the manifest — the writer heal uses
    // it to tell concurrently-appended files (preserve into the live
    // dir) from snapshot files (already in the compacted stage —
    // discard) before deleting `.old`. Writing it AFTER the move-aside
    // (the r14-swept code) left a one-FS-op crash gap whose `.old` was
    // manifest-less, and the heal's no-manifest branch (needed for
    // pre-manifest debris) discarded that window's appends with it.
    // Underscore-prefixed, so parquet dir reads and Sidecar both skip it.
    writeSnapshotManifest(fs, dir, snapshot)
    spark.read.parquet(files.map(_.getPath.toString): _*).repartition(nOut)
      .write.mode("overwrite").parquet(staged.toString)
    fs.create(new Path(staged, SwapReady), true).close()
    if (!fs.rename(dir, old)) {
      // live dir untouched — discard the stage (and the manifest, now
      // stale) and fail loudly rather than proceed into a swap whose
      // first half already failed
      fs.delete(staged, true)
      fs.delete(new Path(dir, SnapshotManifest), false)
      throw new IllegalStateException(
        s"compactFlat: could not move $dirPath aside; live dir intact, stage discarded")
    }
    // appends that landed between the snapshot listing and the
    // move-aside rode into `.old` — fold them into the stage (or into
    // the live dir, if a racing reader's heal already installed the
    // stage there); without this they'd be deleted with the old copy
    val lateNames = mergeLateAppends(fs, old, snapshot, staged, dir)
    installStage(fs, staged, dir, old, lateNames, dirPath)
    fs.delete(new Path(dir, SwapReady), false)
    discardOld(fs, old, dirPath)
    true
  }

  /** Rename `old`'s parquet files NOT in `snapshot` (concurrent appends
    * that rode into the moved-aside copy) into the stage — or into the
    * live dir when a racing reader-heal has already installed the stage.
    */
  private def mergeLateAppends(
      fs: org.apache.hadoop.fs.FileSystem, old: Path, snapshot: Set[String],
      staged: Path, dir: Path): Set[String] = {
    if (!fs.exists(old)) return Set.empty
    val late = fs.listStatus(old).toSeq.filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet")
        && !snapshot.contains(f.getPath.getName))
    late.foreach { f =>
      val name = f.getPath.getName
      val ok = fs.rename(f.getPath, new Path(staged, name)) ||
        fs.rename(f.getPath, new Path(dir, name))
      if (!ok) throw new IllegalStateException(
        s"compactFlat: could not preserve concurrently-appended file $name " +
          s"from $old — aborting before it could be deleted with the old copy")
    }
    late.map(_.getPath.getName).toSet
  }

  /** The append-guarded swap-in: fold any files a concurrent appender
    * wrote into a recreated live dir back into the stage, then rename the
    * stage in; detect (and un-nest) a rename that landed INTO a dir
    * recreated in the check-then-act instant. Bounded retries; on
    * exhaustion the moved-aside copy is restored so the dir is never left
    * absent or half-installed.
    */
  private[graft] def installStage(
      fs: org.apache.hadoop.fs.FileSystem, staged: Path, dir: Path,
      old: Path, lateNames: Set[String], dirPath: String): Unit = {
    var tries = 0
    // every appender file folded into the stage across iterations: if the
    // rename barrier is never won, these exist ONLY inside the stage and
    // must be returned to the restored live dir (a sealed stage is
    // discarded by the next writer heal — losing them would contradict
    // the restore path's own "appends preserved" contract)
    val folded = scala.collection.mutable.Set.empty[String]
    while (tries < 8) {
      tries += 1
      if (!fs.exists(staged)) {
        // a racing reader-heal completed the swap for us
        require(fs.exists(dir), s"compactFlat: stage and live dir both " +
          s"absent for $dirPath — filesystem lost the swap")
        return
      }
      if (fs.exists(dir)) {
        // an appender recreated the live dir in the absent window: fold
        // its parquet files into the stage and clear the husk (non-data
        // sidecars like _SUCCESS are recreated by the appender's next
        // write; the stage has its own)
        fs.listStatus(dir).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            if (!fs.rename(f.getPath, new Path(staged, f.getPath.getName)))
              throw new IllegalStateException(
                s"compactFlat: could not fold appended file ${f.getPath} " +
                  s"into the stage for $dirPath")
            folded += f.getPath.getName
          }
        fs.delete(dir, true)
      }
      if (fs.rename(staged, dir)) {
        // Hadoop renames INTO an existing dir (returning true) when the
        // destination was recreated between the delete above and this
        // rename — then the stage is now a CHILD of the live dir:
        // un-nest (the result is compacted + appended content, which is
        // exactly the index)
        unNestInstalled(fs, dir, staged.getName, dirPath)
        return
      }
      // rename refused: either a reader-heal installed the stage (next
      // iteration returns via the !exists(staged) arm) or an appender
      // recreated the dir again (next iteration folds it) — loop
    }
    // bounded retries exhausted — converge without the rename barrier
    // rather than leave debris a later writer heal would discard:
    if (fs.exists(dir)) {
      // an appender keeps recreating the live dir: fold the stage INTO
      // it file-by-file — content converges to compacted + appended and
      // the sentinel dies with the stage, so nothing is left to discard
      fs.listStatus(staged).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          if (!fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
            throw new IllegalStateException(
              s"compactFlat: contended fold of ${f.getPath} failed for $dirPath")
        }
      fs.delete(staged, true)
      return
    }
    // dir stays absent yet the rename refuses — a filesystem fault, not
    // a race. Put the LATE appends back beside the snapshot and restore
    // the moved-aside copy: the stage becomes fully redundant (compacted
    // snapshot only), so the next writer-mode heal discarding it cannot
    // lose an appended row
    lateNames.foreach { n =>
      val from = new Path(staged, n)
      if (fs.exists(from) && !fs.rename(from, new Path(old, n)))
        throw new IllegalStateException(
          s"compactFlat: could not return appended file $n to $old for $dirPath")
    }
    if (!fs.rename(old, dir))
      throw new IllegalStateException(
        s"compactFlat: swap-in retries exhausted and restore failed for " +
          s"$dirPath; sealed stage remains at $staged — the next heal completes it")
    // appender files folded during the loop exist only inside the stage —
    // return them to the restored dir, or the next writer heal's
    // stage-discard would lose them (they are NOT in lateNames: those
    // came from `.old` and rode the restore above)
    (folded -- lateNames).foreach { n =>
      val from = new Path(staged, n)
      if (fs.exists(from) && !fs.rename(from, new Path(dir, n)))
        throw new IllegalStateException(
          s"compactFlat: could not return folded file $n to $dirPath " +
            "after the restore")
    }
    throw new IllegalStateException(
      s"compactFlat: swap-in failed for $dirPath; live dir restored, " +
        "appends preserved")
  }

  /** Lift a stage that a racing appender's dir-recreation caused to be
    * renamed INSIDE the live dir (Hadoop rename-into-existing-dir
    * semantics) back up: move its parquet files into `dir`, drop the
    * nested husk (and its sentinel with it). No-op when no nesting
    * happened. Shared by [[installStage]] and [[healCompactFlat]]'s
    * swap-completing arm — both renames have the same check-then-act
    * window.
    */
  private def unNestInstalled(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, stagedName: String,
      dirPath: String): Unit = {
    val nested = new Path(dir, stagedName)
    if (!fs.exists(nested)) return
    fs.listStatus(nested).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        if (!fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
          throw new IllegalStateException(
            s"compactFlat: could not un-nest ${f.getPath} for $dirPath")
      }
    fs.delete(nested, true)
  }

  /** Drop a moved-aside copy in one step: a recursive delete removes
    * `_snapshot` before the directory, so `.old` would exist for a moment
    * without its manifest. The rename makes `.old` vanish atomically; the
    * debris it leaves is deleted here, or by the next writer heal after a
    * crash.
    */
  private def discardOld(fs: org.apache.hadoop.fs.FileSystem, old: Path, dirPath: String): Unit = {
    val debris = new Path(debrisFlat(dirPath))
    fs.delete(debris, true)
    if (fs.exists(old) && !fs.rename(old, debris))
      throw new IllegalStateException(s"compactFlat: could not discard $old for $dirPath")
    fs.delete(debris, true)
  }

  private def stagedFlat(dirPath: String) =
    dirPath.stripSuffix("/") + ".compact.staged"
  private def oldFlat(dirPath: String) =
    dirPath.stripSuffix("/") + ".compact.old"
  private def debrisFlat(dirPath: String) =
    dirPath.stripSuffix("/") + ".compact.debris"
  private val SwapReady = "_swap_ready"

  /** Finish (any caller) or discard (writer only) an interrupted
    * [[compactFlat]] swap. The one action safe from EVERY caller is
    * COMPLETING a sealed swap: stage sealed + live dir ABSENT (crash —
    * or a concurrent writer — between the two renames) → rename the
    * stage in. Everything destructive is gated on `writer = true`
    * (r12 ADVICE: `StreamNearDup.load` healing on every micro-batch
    * used to delete ANY stage while the live dir existed — including
    * one a concurrent nightly compactFlat was still writing, whose
    * sentinel then recreated an empty stage and the swap installed it
    * over the live index): stage present + live dir present with NO
    * moved-aside manifest (crash before the move-aside, or an unsealed
    * stage) → writer drops the stage, readers leave it; sealed stage +
    * live dir + `.old` WITH manifest (a post-move-aside crash whose
    * absent window a concurrent appender refilled — the live dir holds
    * only that appender's files) → writer re-drives the install (fold,
    * swap, late-append merge) instead of dropping the stage, readers
    * leave it; a leftover moved-aside copy (crash before its delete) →
    * writer preserves its post-snapshot appends then drops it, readers
    * leave it; a half-deleted discarded copy (`.compact.debris`) → writer
    * deletes it. Readers therefore never destroy data; at worst stale
    * debris (or a temporarily thin refilled dir) waits for the next
    * writer pass.
    */
  def healCompactFlat(
      spark: SparkSession, dirPath: String, writer: Boolean = false): Unit = {
    val dir = new Path(dirPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(stagedFlat(dirPath))
    val old = new Path(oldFlat(dirPath))
    if (fs.exists(staged)) {
      val ready = fs.exists(new Path(staged, SwapReady))
      if (ready && !fs.exists(dir)) {
        // racing healers are benign: the loser's rename fails with the
        // dir already installed by the winner
        if (!fs.rename(staged, dir))
          require(fs.exists(dir),
            s"healCompactFlat: completing rename failed for $dirPath " +
              "and no live dir exists — filesystem refused the swap")
        else
          // the same check-then-act window installStage defends against:
          // an appender can recreate `dir` between the exists check and
          // the rename, which then lands the stage INSIDE it — without
          // the un-nest, the compacted history becomes an invisible
          // nested subdir and the next writer pass deletes `.old`,
          // making the loss permanent
          unNestInstalled(fs, dir, staged.getName, dirPath)
        fs.delete(new Path(dir, SwapReady), false)
      } else if (ready && writer && fs.exists(old)
          && readSnapshotManifest(fs, old).isDefined) {
        // sealed stage + live dir + moved-aside copy WITH manifest: a
        // post-move-aside crash whose absent window an appender refilled
        // (`dir` holds ONLY that appender's files; the stage holds the
        // compacted snapshot; `.old` holds the full snapshot + any
        // appends that rode the move-aside). Deleting the stage here —
        // the pre-fix writer branch — and then letting the old-discard
        // block below drop `.old`'s manifest files as "already in the
        // compacted stage" lost the ENTIRE index except the appender's
        // batch. Re-drive the writer's own install instead: fold late
        // appends out of `.old`, install the stage over the appender
        // files; the block below then discards the now-redundant copy.
        val snapshot = readSnapshotManifest(fs, old).get
        val late = mergeLateAppends(fs, old, snapshot, staged, dir)
        installStage(fs, staged, dir, old, late, dirPath)
        fs.delete(new Path(dir, SwapReady), false)
      } else if (writer) {
        fs.delete(staged, true)
        // a crash after writeSnapshotManifest but before the move-aside
        // leaves the manifest in the LIVE dir (the move-aside is what
        // carries it into `.old`); nothing ever reads it there — it is
        // pure debris — but without this it lingers until the next
        // compaction of this dir, which may never come
        if (fs.exists(dir)) fs.delete(new Path(dir, SnapshotManifest), false)
      }
      // readers in the refilled crash state leave everything in place:
      // they read the (temporarily thin) live dir and the nightly
      // writer pass completes the swap — readers never destroy
    }
    if (writer && fs.exists(old) && fs.exists(dir)) {
      // before discarding the moved-aside copy, preserve any
      // concurrently-appended file a crashed swap never merged: the
      // `_snapshot` manifest (written right after the move-aside) lists
      // exactly the files the compacted stage already holds — anything
      // else in `.old` is an append that exists nowhere else
      readSnapshotManifest(fs, old).foreach { snapshot =>
        fs.listStatus(old).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")
            && !snapshot.contains(f.getPath.getName))
          .foreach { f =>
            if (!fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
              throw new IllegalStateException(
                s"healCompactFlat: could not preserve appended file " +
                  s"${f.getPath} before discarding $old")
          }
      }
      discardOld(fs, old, dirPath)
    }
    if (writer) fs.delete(new Path(debrisFlat(dirPath)), true)
  }

  /** Persist the compaction snapshot's file names into the live dir
    * (pre-move-aside, so the manifest rides the rename into `.old`
    * atomically) — a heal after a crash can then tell appends from
    * snapshot files in EVERY post-move-aside crash state.
    */
  private def writeSnapshotManifest(
      fs: org.apache.hadoop.fs.FileSystem, old: Path,
      snapshot: Set[String]): Unit = {
    val out = fs.create(new Path(old, SnapshotManifest), true)
    try out.write(snapshot.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** None when no manifest exists (pre-upgrade debris: discard as before —
    * the old protocol had already merged nothing, so nothing is newer).
    */
  private def readSnapshotManifest(
      fs: org.apache.hadoop.fs.FileSystem, old: Path): Option[Set[String]] = {
    val p = new Path(old, SnapshotManifest)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
      Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSet)
    } finally in.close()
  }

  private val SnapshotManifest = "_snapshot"
}
