package graft

import graft.sources.Compaction

import java.nio.file.Files

class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  test("compact collapses a fragmented partition, leaves healthy ones alone") {
    val dir = Files.createTempDirectory("compact").toString
    // d1: 20 tiny files; d2: 1 file
    (1 to 200).map(i => (i.toLong, s"v$i", "d1")).toDF("k", "v", "day")
      .repartition(20)
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    (1 to 50).map(i => (1000L + i, s"w$i", "d2")).toDF("k", "v", "day")
      .repartition(1)
      .write.mode("append").partitionBy("day").parquet(dir)

    def files(day: String): Set[String] =
      new java.io.File(s"$dir/day=$day").listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(files("d1").size == 20 && files("d2").size == 1)
    val d2Before = files("d2")
    val before = spark.read.parquet(dir).as[(Long, String, String)].collect().toSet

    val rewritten = Compaction.compact(spark, dir, "day", maxFiles = 8)
    assert(rewritten == Seq("d1"))
    assert(files("d1").size < 8, s"still ${files("d1").size} files")
    assert(files("d2") == d2Before, "healthy partition must not be rewritten")
    val after = spark.read.parquet(dir).as[(Long, String, String)].collect().toSet
    assert(after == before, "compaction must not change content")

    // second pass: nothing left to do
    assert(Compaction.compact(spark, dir, "day", maxFiles = 8).isEmpty)
  }

  test("compact serializes against a LEASED concurrent appender: the append survives the dynamic overwrite (r16)") {
    val dir = Files.createTempDirectory("compact_lease").toString
    (1 to 200).map(i => (i.toLong, s"v$i", "d1")).toDF("k", "v", "day")
      .repartition(20)
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    // a leased appender (the Pq/Bm25.appendBatch posture) lands one row
    // in the victim partition while compact is trying to rewrite it: the
    // unleased pre-fix window (snapshot read -> dynamic overwrite) would
    // delete that file; the leased compact must instead WAIT and include
    // it in the slice it rewrites
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      val appender = pool.submit(new Runnable {
        def run(): Unit =
          graft.sources.BuildLock.withLease(spark, dir, "test-appender") {
            events.add("append-start")
            Seq((9999L, "late", "d1")).toDF("k", "v", "day")
              .coalesce(1).write.mode("append").partitionBy("day").parquet(dir)
            Thread.sleep(1500) // hold the lease so compact must queue
            events.add("append-end")
          }
      })
      Thread.sleep(300) // let the appender acquire first
      events.add("compact-start")
      val rewritten = Compaction.compact(spark, dir, "day", maxFiles = 8)
      events.add("compact-end")
      appender.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(rewritten == Seq("d1"))
    } finally pool.shutdownNow()
    assert(events.toArray.toSeq ==
      Seq("append-start", "compact-start", "append-end", "compact-end"),
      s"compact must queue behind the leased appender: ${events.toArray.toSeq}")
    val after = spark.read.parquet(dir)
      .as[(Long, String, String)].collect().toSet
    assert(after.size == 201 && after.contains((9999L, "late", "d1")),
      "the leased append must survive the compaction overwrite")
  }

  test("stats reports per-partition file counts and bytes") {
    val dir = Files.createTempDirectory("compact2").toString
    (1 to 60).map(i => (i.toLong, "d1")).toDF("k", "day")
      .repartition(3).write.mode("overwrite").partitionBy("day").parquet(dir)
    val s = Compaction.stats(spark, dir, "day")
    assert(s.map(p => p.partition -> p.nFiles).toMap == Map("d1" -> 3))
    assert(s.head.totalBytes > 0)
  }

  test("compactFlat folds a fragmented flat dir, preserves rows, skips healthy dirs") {
    val dir = Files.createTempDirectory("compactflat").toString + "/bands"
    // 10 "daily appends" of 2 files each — the neardup_index growth shape
    for (d <- 0 until 10)
      (1 to 20).map(i => (d * 100L + i, i.toLong)).toDF("id", "bh")
        .repartition(2).write.mode("append").parquet(dir)
    def nFiles: Int = new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles == 20)
    val before = spark.read.parquet(dir).as[(Long, Long)].collect().sorted

    assert(Compaction.compactFlat(spark, dir, maxFiles = 8))
    assert(nFiles <= 8, s"still $nFiles files")
    val after = spark.read.parquet(dir).as[(Long, Long)].collect().sorted
    assert(after.toSeq == before.toSeq, "compaction must not change content")
    // nothing staged or moved-aside is left behind
    assert(!new java.io.File(s"$dir.compact.staged").exists())
    assert(!new java.io.File(s"$dir.compact.old").exists())
    // second pass: nothing to do
    assert(!Compaction.compactFlat(spark, dir, maxFiles = 8))
  }

  test("compactFlat crash windows: sealed swap completes, unsealed stage discards") {
    val root = Files.createTempDirectory("compactheal").toString
    val dir = s"$root/shingles"
    (1 to 30).map(i => (i.toLong, i * 7L)).toDF("id", "sh")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).as[(Long, Long)].collect().toSet

    def copyTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
      } else { java.nio.file.Files.copy(src.toPath, dst.toPath); () }
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmRf)); f.delete(); ()
    }

    // crash BETWEEN the two renames: stage sealed, live dir moved aside —
    // READER-mode heal (the default — what StreamNearDup.load runs every
    // micro-batch) must finish the swap (the pre-fix read would have seen
    // "no index yet" and deduped against nothing), but must NOT delete
    // the moved-aside copy — destructive cleanup is the writer's
    copyTree(new java.io.File(dir), new java.io.File(s"$dir.compact.staged"))
    new java.io.File(s"$dir.compact.staged/_swap_ready").createNewFile()
    new java.io.File(dir).renameTo(new java.io.File(s"$dir.compact.old"))
    Compaction.healCompactFlat(spark, dir)
    assert(new java.io.File(dir).exists())
    assert(!new java.io.File(s"$dir.compact.staged").exists())
    assert(new java.io.File(s"$dir.compact.old").exists(),
      "a reader heal must leave the moved-aside copy for the writer")
    assert(!new java.io.File(s"$dir/_swap_ready").exists())
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet == rows)
    // the WRITER pass sweeps the debris
    Compaction.healCompactFlat(spark, dir, writer = true)
    assert(!new java.io.File(s"$dir.compact.old").exists())

    // crash BEFORE sealing: unsealed stage with the live dir intact —
    // a READER must leave the stage alone (r12 ADVICE: deleting it races
    // a live compactFlat mid-write); the WRITER discards it. Neither
    // touches the live dir.
    copyTree(new java.io.File(dir), new java.io.File(s"$dir.compact.staged"))
    Compaction.healCompactFlat(spark, dir)
    assert(new java.io.File(s"$dir.compact.staged").exists(),
      "a reader heal must never delete a stage")
    Compaction.healCompactFlat(spark, dir, writer = true)
    assert(!new java.io.File(s"$dir.compact.staged").exists())
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet == rows)
  }

  test("compactFlat with a concurrent appender: every appended row survives, nothing duplicated") {
    // the StreamFingerprint-vs-compact_media_index race (r13 ADVICE,
    // medium): the live stream appends keys/ files while the nightly
    // compactFlat rewrites — pre-fix, files appended after the read were
    // deleted with the .old copy, and an append landing between the two
    // renames made the swap rename INTO the recreated dir and then delete
    // the full index. Run them genuinely concurrently and assert exact
    // content: snapshot rows exactly once, every committed append present.
    val dir = Files.createTempDirectory("compactapp").toString + "/keys"
    for (d <- 0 until 12)
      (1 to 10).map(i => (d * 100L + i, i.toLong)).toDF("id", "bh")
        .coalesce(1).write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(before.size == 120)

    // each attempt's row carries its attempt number in `bh`, so a retry
    // that re-writes a batch whose first attempt had committed shows as a
    // second (id, attempt) row, not as a duplicate the compactor made
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val appender = new Thread(() => {
      for (i <- 9000L until 9020L) {
        // an append may fail if the swap clears the dir husk mid-commit
        // (at-least-once appenders retry; the stream's marker protocol
        // replays the whole batch) — retry once, record what committed
        def attempt(n: Long): Boolean =
          try {
            Seq((i, n)).toDF("id", "bh").coalesce(1)
              .write.mode("append").parquet(dir)
            true
          } catch { case _: Throwable => false }
        if (attempt(1) || attempt(2)) committed.add(i)
        Thread.sleep(20)
      }
    })
    appender.start()
    Thread.sleep(60) // let a few appends land inside the snapshot
    val did = Compaction.compactFlat(
      spark, dir, maxFiles = 2, smallFileBytes = Long.MaxValue)
    appender.join()
    assert(did, "the fragmented dir must have been compacted")

    import scala.jdk.CollectionConverters._
    val got = spark.read.parquet(dir).as[(Long, Long)].collect().toSeq
    val (appended, snap) = got.partition(_._1 >= 9000L)
    assert(snap.sorted == before.toSeq.sorted,
      "every snapshot row exactly once, none lost, none duplicated by the snapshot-read + merge")
    val missing = committed.asScala.toSet -- appended.map(_._1).toSet
    assert(missing.isEmpty, s"committed appends lost: ${missing.toSeq.sorted.take(5)}")
    assert(appended.forall(r => r._1 < 9020L && (r._2 == 1L || r._2 == 2L)),
      s"rows no append attempt wrote: ${appended.take(5)}")
    assert(appended.size == appended.distinct.size,
      s"an (id, attempt) row duplicated: ${appended.diff(appended.distinct).take(5)}")
    // no debris: stage and old are gone, no nested stage dir
    assert(!new java.io.File(s"$dir.compact.staged").exists())
    assert(!new java.io.File(s"$dir.compact.old").exists())
    assert(!new java.io.File(s"$dir.compact.debris").exists())
    assert(!new java.io.File(s"$dir/keys.compact.staged").exists())
  }

  test("writer heal preserves appends a crashed swap never merged (the .old snapshot manifest)") {
    // crash state: the swap completed (live dir = compacted content) but
    // the merge of concurrent appends out of .old never ran — the .old
    // copy holds the snapshot files, the _snapshot manifest naming them,
    // and one appended file the manifest does NOT name. The writer heal
    // must move that append into the live dir before discarding .old.
    val root = Files.createTempDirectory("compactmanifest").toString
    val dir = s"$root/keys"
    (1 to 20).map(i => (i.toLong, i * 3L)).toDF("id", "bh")
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val old = new java.io.File(s"$dir.compact.old")
    def copyTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
      } else { java.nio.file.Files.copy(src.toPath, dst.toPath); () }
    copyTree(new java.io.File(dir), old)
    val snapshotNames = old.listFiles.map(_.getName).filter(_.endsWith(".parquet"))
    // the manifest the writer wrote right after its move-aside
    java.nio.file.Files.write(
      java.nio.file.Paths.get(old.getPath, "_snapshot"),
      snapshotNames.sorted.mkString("\n").getBytes("UTF-8"))
    // an append that landed in the live dir before the move-aside and was
    // never merged: write it elsewhere and move the part file into .old
    val tmp = s"$root/append_tmp"
    Seq((999L, 999L)).toDF("id", "bh").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .find(_.getName.endsWith(".parquet")).get
    assert(part.renameTo(new java.io.File(old, part.getName)))

    Compaction.healCompactFlat(spark, dir, writer = true)
    assert(!old.exists(), "writer heal must still discard the old copy")
    val got = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(got == (1 to 20).map(i => (i.toLong, i * 3L)).toSet + ((999L, 999L)),
      "the unmerged append must be preserved, snapshot rows not duplicated")
  }

  test("the snapshot manifest rides the move-aside: present in the live dir for the whole rewrite, in .old whenever .old exists") {
    // the r14 residue (a): the manifest used to be written one FS op
    // AFTER rename(dir, old) — a crash in exactly that gap left .old
    // manifest-less, and the writer heal's no-manifest branch (kept for
    // pre-manifest debris) discarded it with any appends inside. Now the
    // manifest is written into the LIVE dir before the stage rewrite, so
    // it rides the move-aside rename atomically: observe the writer
    // mid-flight and assert the invariant at every instant it can hold.
    val dir = Files.createTempDirectory("compactmanifestride").toString + "/keys"
    for (d <- 0 until 12)
      (1 to 400).map(i => (d * 1000L + i, i.toLong)).toDF("id", "bh")
        .coalesce(1).write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir).as[(Long, Long)].collect().toSet

    val live = new java.io.File(dir)
    val staged = new java.io.File(s"$dir.compact.staged")
    val old = new java.io.File(s"$dir.compact.old")
    def hasManifest(d: java.io.File): Boolean =
      new java.io.File(d, "_snapshot").isFile

    @volatile var err: Option[String] = None
    @volatile var sawRewriteWindow = false
    val writer = new Thread(() => {
      val did = Compaction.compactFlat(
        spark, dir, maxFiles = 2, smallFileBytes = Long.MaxValue)
      if (!did) err = Some("compactFlat declined the fragmented dir")
    })
    writer.start()
    while (writer.isAlive) {
      // rewrite window: the stage is being written while the live dir
      // still stands — the manifest must already be in the live dir
      // (pre-fix it was written only after the move-aside)
      if (staged.exists() && live.exists()) {
        val m = hasManifest(live)
        // re-check: the stage only exists pre-swap (no appender here), so
        // if it STILL exists the no-manifest read was genuinely taken in
        // the rewrite window, not across a just-completed swap
        if (staged.exists() && live.exists()) {
          sawRewriteWindow = true
          if (!m && err.isEmpty)
            err = Some("live dir without _snapshot during the stage rewrite")
        }
      }
      // whenever the moved-aside copy exists, the manifest rode into it
      if (old.exists() && !hasManifest(old) && old.exists() && err.isEmpty)
        err = Some(".old without _snapshot — the crash gap the fix closes")
      Thread.sleep(2)
    }
    writer.join()
    assert(err.isEmpty, err.getOrElse(""))
    assert(sawRewriteWindow,
      "the poller never observed the stage rewrite — widen the corpus")
    // the installed dir is the stage: content intact, no stale manifest
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet == before)
    assert(!hasManifest(live), "the compacted live dir must carry no manifest")
    assert(!old.exists() && !staged.exists())
  }

  test("writer heal re-drives the install when an appender refilled the absent window (never discards the sealed stage)") {
    // THE loss state: compactFlat crashed after its move-aside (sealed
    // stage + .old with manifest, live dir absent), and an appender's
    // write then RECREATED the live dir with only its batch. The pre-fix
    // writer heal saw stage+dir present and deleted the sealed stage,
    // then discarded .old's manifest files as "already in the stage" —
    // the entire index silently reduced to the appender's one batch.
    // The heal must instead re-drive the install: fold, swap, merge.
    val root = Files.createTempDirectory("compactrefill").toString
    val dir = s"$root/keys"
    (1 to 20).map(i => (i.toLong, i * 7L)).toDF("id", "bh")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    def copyTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
      } else { java.nio.file.Files.copy(src.toPath, dst.toPath); () }
    val staged = new java.io.File(s"$dir.compact.staged")
    copyTree(new java.io.File(dir), staged) // the compacted snapshot
    new java.io.File(staged, "_swap_ready").createNewFile()
    // manifest written into the LIVE dir (pre-move-aside), then the
    // move-aside carries it into .old
    val snapshotNames = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.endsWith(".parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_snapshot"),
      snapshotNames.sorted.mkString("\n").getBytes("UTF-8"))
    val old = new java.io.File(s"$dir.compact.old")
    assert(new java.io.File(dir).renameTo(old), "simulate the move-aside")
    // an append that rode into .old before the crash (not in the manifest)
    val tmp = s"$root/append_tmp"
    Seq((999L, 999L)).toDF("id", "bh").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val ride = new java.io.File(tmp).listFiles
      .find(_.getName.endsWith(".parquet")).get
    assert(ride.renameTo(new java.io.File(old, ride.getName)))
    // the appender refills the absent live dir with only ITS batch
    Seq((777L, 777L)).toDF("id", "bh").coalesce(1)
      .write.mode("overwrite").parquet(dir)

    // a READER in this state must touch nothing (it reads the thin dir
    // until the nightly writer pass)
    Compaction.healCompactFlat(spark, dir)
    assert(staged.exists() && old.exists(),
      "reader heal must leave the crash state for the writer")
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet
      == Set((777L, 777L)))

    // the WRITER heal re-drives the install
    Compaction.healCompactFlat(spark, dir, writer = true)
    assert(!staged.exists() && !old.exists(), "swap completed, debris swept")
    assert(!new java.io.File(s"$dir/_swap_ready").exists())
    assert(!new java.io.File(s"$dir/keys.compact.staged").exists(),
      "no nested stage may survive the heal")
    val got = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(got == (1 to 20).map(i => (i.toLong, i * 7L)).toSet
      + ((777L, 777L)) + ((999L, 999L)),
      "history + the refill append + the ridden append, nothing lost")
  }

  test("swap-in folds a recreated live dir into the stage (the append-in-the-absent-window race, deterministic)") {
    // the exact state an appender creates between compactFlat's two
    // renames: the live dir was moved aside, the sealed stage holds the
    // compacted index, and a concurrent append has RECREATED the live
    // dir with one fresh part file. installStage must fold that file
    // into the stage and install — never rename the stage INTO the
    // recreated dir (the pre-fix nesting that deleted the full index).
    val root = Files.createTempDirectory("compactnest").toString
    val dir = s"$root/keys"
    (1 to 20).map(i => (i.toLong, i * 5L)).toDF("id", "bh")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val staged = new java.io.File(s"$dir.compact.staged")
    assert(new java.io.File(dir).renameTo(staged), "stage the compacted content")
    new java.io.File(staged, "_swap_ready").createNewFile()
    // the appender's recreation of the live dir
    Seq((777L, 777L)).toDF("id", "bh").coalesce(1)
      .write.mode("overwrite").parquet(dir)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Compaction.installStage(fs,
      new org.apache.hadoop.fs.Path(s"$dir.compact.staged"),
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$dir.compact.old"),
      Set.empty, dir)
    assert(!staged.exists(), "the stage must be installed, not nested")
    assert(!new java.io.File(s"$dir/keys.compact.staged").exists(),
      "no nested stage dir may survive")
    val got = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(got == (1 to 20).map(i => (i.toLong, i * 5L)).toSet + ((777L, 777L)),
      "compacted content + the folded append, nothing lost or duplicated")
  }
}
