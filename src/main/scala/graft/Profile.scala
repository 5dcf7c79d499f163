package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-side measurement harness (guide §1: measure first): run ONE
  * registered query with a listener that attributes wall-clock to the
  * Spark jobs it submits — job wall, task time, shuffle bytes, callsite
  * — plus the gaps BETWEEN jobs (driver-side planning / eager
  * non-Spark work), which per-query bench numbers can't separate.
  *
  * Usage: sbt 'runMain graft.Profile <sfDir> <query> [runs]'
  * (a [[GraftSession.local]] session: `SPARK_GRAFT_CPUS` cores, default
  * every core). Diagnostics only; not part of the `SparkEntry` contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // validate the query name BEFORE building a SparkSession: a typo'd
    // name should print the valid list and exit, not crash with a bare
    // NoSuchElementException after a full session spin-up
    val qnameOpt = args.lift(1).filter(SparkEntry.queries.contains)
    if (qnameOpt.isEmpty) {
      System.err.println(
        "usage: runMain graft.Profile <sfDir> <query> [runs]\nqueries:\n  " +
          SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val qname = qnameOpt.get
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.local("graft-profile")
    val fn = SparkEntry.queries(qname)

    final case class Job(id: Int, start: Long) {
      var end: Long = -1L; var site: String = ""
      var stages: Int = 0; var taskMs: Long = 0L
      var shufRead: Long = 0L; var shufWrite: Long = 0L
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = new Job(e.jobId, e.time)
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))
            .orElse(Option(p.getProperty("spark.job.description"))))
          .getOrElse("?")
        jobs.put(e.jobId, j); order.add(j)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId): Unit)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) {
          val m = e.stageInfo.taskMetrics
          j.stages += 1
          j.taskMs += m.executorRunTime
          j.shufRead += m.shuffleReadMetrics.totalBytesRead
          j.shufWrite += m.shuffleWriteMetrics.bytesWritten
          // the stage name carries the RDD callsite ("count at X.scala:N")
          // — the only per-job attribution available when the job-start
          // properties carry no callSite (SQL executions under local mode)
          if (j.site == "?" || j.site.isEmpty)
            j.site = e.stageInfo.name.take(70)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // drain the async listener bus: poll until every recorded job has an
    // end time (bounded) — a fixed sleep undercounts the last job's
    // stage metrics under load and leaves wall=-1 rows
    import scala.jdk.CollectionConverters._
    def drainListener(): Unit = {
      val deadline = System.nanoTime() + 5000000000L // 5 s cap
      while (System.nanoTime() < deadline &&
          order.asScala.exists(_.end <= 0)) Thread.sleep(50)
    }

    // warm up: one full untimed pass (JIT, codegen, fitCached artifacts)
    try { fn(spark, sfDir).queryExecution.toRdd.count() }
    catch { case e: Throwable => println(s"warmup failed: $e") }
    graft.ops.Staged.releaseAll()
    drainListener()
    jobs.clear(); order.clear(); stageToJob.clear()

    // per-run boundaries: inter-RUN intervals (releaseAll, println) must
    // not count into the inter-job gap attribution the tool exists for
    val runBounds = (1 to runs).map { r =>
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      graft.ops.Staged.releaseAll()
      println(f"run $r: wall $wall%.3f s")
      (t0ms, t1ms)
    }

    drainListener()
    val js = order.asScala.toSeq.sortBy(_.start)
    def inRun(t: Long): Boolean = runBounds.exists { case (a, b) => t >= a && t <= b }
    var prevEnd = js.headOption.map(_.start).getOrElse(0L)
    var jobWall = 0L; var gapSum = 0L
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"gap_ms"}%7s ${"stages"}%6s ${"task_ms"}%8s ${"shRd_kB"}%8s ${"shWr_kB"}%8s  site")
    js.foreach { j =>
      // a gap only counts when it lies INSIDE one timed run: the span
      // between runs is harness work, not driver-side planning
      val gap = if (inRun(j.start) && inRun(prevEnd))
        math.max(0L, j.start - prevEnd) else 0L
      val wall = if (j.end > 0) j.end - j.start else -1L
      if (wall > 0) jobWall += wall
      gapSum += gap
      println(f"${j.id}%4d $wall%8d $gap%7d ${j.stages}%6d ${j.taskMs}%8d ${j.shufRead / 1024}%8d ${j.shufWrite / 1024}%8d  ${j.site}")
      prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
    }
    println(f"jobs: ${js.size}, job wall sum $jobWall ms, inter-job gaps $gapSum ms (within timed runs)")
    spark.stop()
  }
}
