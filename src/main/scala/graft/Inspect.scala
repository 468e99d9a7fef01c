package graft

/** One query-profile CLI over [[QueryTrace]]: runs registered queries to the
  * noop sink and prints one JSON line per (query, sf dir) with the record of
  * its fastest rep: build and run seconds, jobs, stages, tasks, executor
  * run/CPU/GC time, shuffle and spill, the slowest task against the median,
  * shuffle-read and input records, plan-node counts over every SQL
  * execution (eager checkpoints included) and planning phases. Usage:
  * {{{
  * tools/runjava.sh graft.Inspect <q1,q2,...|all> [sfDir1,sfDir2,...] [reps] [--jobs|--stages|--ops|--plan]
  * }}}
  *   - `--jobs`   adds the rep's jobs by task run time, with call sites;
  *   - `--stages` adds its stages by wall time, with shuffle-read records;
  *   - `--ops`    adds the executed operators by `numOutputRows`;
  *   - `--plan`   runs with adaptive execution off (static plans) and adds
  *     one row per SQL execution: exchanges, sorts, SortAggregate,
  *     ObjectHashAggregate, BNLJ, WholeStageCodegen, unpartitioned windows
  *     (with their expressions), FileScans and reused exchanges.
  * The session is `Bench`'s: `local[SPARK_GRAFT_CPUS]`, all cores by default.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    val names =
      if (pos.head == "all") SparkEntry.queries.keys.toSeq.sorted else pos.head.split(",").toSeq
    val dirs = pos.lift(1).fold(Seq("/root/testdata/sf0.1"))(_.split(",").toSeq)
    val reps = pos.lift(2).fold(1)(_.toInt)
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (flags.contains("--plan")) spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[inspect] warmup failed: $e") }

    for (dir <- dirs; name <- names) {
      try {
        val r = (1 to reps).map { _ =>
          System.gc()
          QueryTrace.query(spark)(SparkEntry.queries(name)(spark, dir))
        }.minBy(_.wallS)
        println(s"""{"query":"$name","dir":"$dir",${r.json}}""")
        if (flags.contains("--jobs"))
          r.jobs.sortBy(-_.taskRunS).take(20).foreach { j =>
            println(f"[jobs]   wall ${j.wallS}%6.2f s  taskRun ${j.taskRunS}%7.2f s  tasks ${j.tasks}%4d  ${j.site}")
          }
        if (flags.contains("--stages"))
          r.stages.sortBy(-_.wallS).take(18).foreach { s =>
            println(f"[stages] #${s.id}%4d wall ${s.wallS}%6.2f s  taskRun ${s.taskRunS}%7.2f s  " +
              f"tasks ${s.tasks}%4d  read ${s.readRecords}%9d  maxTaskRead ${s.maxTaskReadRecords}%8d  " +
              f"maxTaskMs ${s.maxTaskMs}%6d  ${s.name}")
          }
        if (flags.contains("--ops"))
          r.topOps(25).foreach { case (rows, op) => println(f"[ops] rows=$rows%12d  $op") }
        if (flags.contains("--plan"))
          r.executions.zipWithIndex.foreach { case (x, i) =>
            val c = QueryTrace.ShapeKeys.map(k => f"$k=${x.shape.getOrElse(k, 0)}")
            println(f"[plan] $name%-26s #$i%-2d ${x.action}%-16s ${c.mkString(" ")}" +
              x.bareWindows.map(" | " + _).mkString)
          }
      } catch {
        case e: Throwable =>
          println(s"""{"query":"$name","dir":"$dir","error":"${e.toString.take(200).replaceAll("[\"\\\\\n]", "'")}"}""")
      }
    }
    spark.stop()
  }
}
