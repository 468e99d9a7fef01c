package graft

import graft.operators.Pq

/** Scratch probe (test scope): exercise the [[graft.sources.BuildLock]]
  * lease across TWO REAL JVMs (r15 verdict #4). BuildLockSpec's
  * two-session test shares one JVM — its sessions' BuildOnce caches are
  * disjoint, so the LEASE is what serializes them, but the claim on the
  * class doc is CROSS-JVM and the local-FS O_EXCL create path deserves a
  * process boundary under it. This forks two child JVMs (the parent's own
  * classpath + the Spark 4 add-opens set) that contend for one
  * `Pq.writeIndexOnce` path after a shared go-signal; the by-name model
  * thunk is the train witness, logged per child with millisecond
  * timestamps.
  *
  * Asserted: exactly one TRAIN event across both children; both children
  * finish and report the SAME data-file manifest (the waiter read the
  * winner's artifact byte-untouched rather than rebuilding); no lock file
  * survives. The observed interleaving prints for the SCALING record.
  *
  *   tools/runjava.sh -cp target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/'*' \
  *     graft.ProbeBuildLock2Jvm
  */
object ProbeBuildLock2Jvm {

  private def log(file: String, event: String): Unit = {
    val line = s"ts=${System.currentTimeMillis()} $event\n"
    val out = new java.io.FileOutputStream(file, true)
    try out.write(line.getBytes("UTF-8")) finally out.close()
  }

  /** Child mode: init Spark, signal ready, await the go-file, then
    * contend for the shared index build. Exit code 0 only on a
    * successful build-or-read with a probe result.
    */
  private def child(args: Array[String]): Unit = {
    val Array(dataDir, idxPath, logFile, goFile) = args
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(dataDir).localCheckpoint()
    log(logFile, "ready")
    while (!new java.io.File(goFile).exists()) Thread.sleep(20)
    log(logFile, "acquire-start")
    val idx = Pq.writeIndexOnce(emb, "vec_id", "embedding",
      { log(logFile, "TRAIN"); Pq.train(emb, "vec_id", "embedding", m = 4, k = 8) },
      idxPath, nlist = 4)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = graft.streaming.Markers.dataFileManifest(fs, idxPath)
    val digest = java.util.Arrays.hashCode(manifest.getBytes("UTF-8"))
    log(logFile, s"done cells=${idx.centroids.length} manifest=$digest")
    spark.stop()
  }

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(m => Seq("--add-opens", s"$m=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) return child(args.drop(1))

    val scratch = java.nio.file.Files.createTempDirectory("lock2jvm").toString
    val dataDir = s"$scratch/emb"
    val idxPath = s"$scratch/idx"
    val goFile = s"$scratch/go"

    // deterministic toy corpus, written once by the parent
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    (0 until 256).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding").coalesce(1).write.parquet(dataDir)

    val javaBin = System.getProperty("java.home") + "/bin/java"
    // children run in their own cwd (derby/metastore isolation), so the
    // parent's possibly-relative classpath entries must absolutize
    val cp = System.getProperty("java.class.path").split(':')
      .map(e => new java.io.File(e).getAbsolutePath).mkString(":")
    def fork(i: Int): (Process, String) = {
      val logFile = s"$scratch/child$i.log"
      val cwd = new java.io.File(s"$scratch/cwd$i")
      cwd.mkdirs() // separate cwd per child: no derby/metastore collisions
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Xmx3g", "-cp", cp, "graft.ProbeBuildLock2Jvm", "child",
        dataDir, idxPath, logFile, goFile))
      val pb = new ProcessBuilder(cmd: _*).directory(cwd)
      pb.redirectOutput(new java.io.File(s"$scratch/child$i.out"))
      pb.redirectErrorStream(true)
      (pb.start(), logFile)
    }
    val children = Seq(fork(0), fork(1))

    // wait for both Spark inits, then drop the go-file so the two
    // writeIndexOnce calls race with Spark startup jitter removed
    def lines(f: String): Seq[String] =
      if (!new java.io.File(f).exists()) Seq.empty
      else scala.io.Source.fromFile(f).getLines().toSeq
    val deadline = System.currentTimeMillis() + 120000
    while (!children.forall { case (_, f) => lines(f).exists(_.endsWith("ready")) }) {
      require(System.currentTimeMillis() < deadline, "children never became ready")
      require(children.forall(_._1.isAlive), "a child died before ready — " +
        s"see $scratch/child*.out")
      Thread.sleep(50)
    }
    new java.io.FileOutputStream(goFile).close()

    children.foreach { case (p, _) =>
      require(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        s"child did not finish; see $scratch")
      require(p.exitValue() == 0, s"child failed; see $scratch/child*.out")
    }

    val all = children.flatMap { case (_, f) =>
      lines(f).map(l => (f.split('/').last, l))
    }
    all.sortBy(_._2).foreach { case (who, l) => println(s"LOCK2JVM $who $l") }

    val trains = all.count(_._2.endsWith("TRAIN"))
    val dones = all.filter(_._2.contains("done "))
    val manifests = dones.map(_._2.split("manifest=").last).distinct
    assert(trains == 1, s"expected exactly ONE train across 2 JVMs, saw $trains")
    assert(dones.size == 2, s"both children must complete, saw ${dones.size}")
    assert(manifests.size == 1,
      s"children saw different artifacts: $manifests — the waiter rebuilt")
    val lock = new java.io.File(
      graft.sources.BuildLock.lockPath(idxPath).toUri.getPath)
    assert(!lock.exists(), "lease must be released after both complete")
    println(s"LOCK2JVM RESULT trains=$trains dones=2 manifest=${manifests.head} " +
      "lock-released=true")
    spark.stop()
  }
}
