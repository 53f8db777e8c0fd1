package graft

import org.apache.spark.sql.SparkSession

/** Per-query JOB/STAGE attribution (dev main, beside Bench/RecallProbe):
  * the guide §1.1 empirical loop for queries whose wall is large but whose
  * shuffle bytes are tiny (q35/q46/q34c/q39 class) — is the time task
  * compute, scheduling overhead across many small jobs, or driver-side
  * gaps (planning, action count)? For each named query: one warm-up pass,
  * then one timed pass with a listener ledgering job count, stage count,
  * task count, summed executor run time, and the wall NOT covered by any
  * running job (driver gaps = planning + between-action driver work).
  * Prints one JSON line per query. Usage:
  *   sbt "runMain graft.JobProfile q46_stats q35_min_by ..."
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val unknown = args.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(",")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong()
    // wall covered by >=1 active job: sum of [first job start, last job
    // end] minus the uncovered gaps — tracked by merging intervals on the
    // listener thread (events are ordered per listener bus)
    val jobActive = new java.util.concurrent.atomic.AtomicLong()
    var activeJobs = 0
    var activeStart = 0L
    val lastEvent =
      new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          synchronized {
            jobs.incrementAndGet()
            if (activeJobs == 0) activeStart = System.nanoTime()
            activeJobs += 1
            lastEvent.set(System.nanoTime())
          }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          synchronized {
            activeJobs -= 1
            if (activeJobs == 0)
              jobActive.addAndGet(System.nanoTime() - activeStart)
            lastEvent.set(System.nanoTime())
          }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          lastEvent.set(System.nanoTime())
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          val m = e.taskMetrics
          if (m != null) taskRunMs.addAndGet(m.executorRunTime): Unit
          lastEvent.set(System.nanoTime())
        }
      })
    def drain(): Unit = {
      val deadline = System.nanoTime() + 1_000_000_000L
      while (System.nanoTime() < deadline &&
          System.nanoTime() - lastEvent.get() < 50_000_000L)
        Thread.sleep(10)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      drain()
      val (j0, s0, t0, r0, a0) = (jobs.get(), stages.get(), tasks.get(),
        taskRunMs.get(), jobActive.get())
      val w0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - w0) / 1e9
      drain()
      val line = f"""{"q":"$name","wall_sec":$wall%.3f,""" +
        s""""jobs":${jobs.get() - j0},"stages":${stages.get() - s0},""" +
        s""""tasks":${tasks.get() - t0},""" +
        f""""task_run_sec_sum":${(taskRunMs.get() - r0) / 1e3}%.3f,""" +
        f""""job_covered_sec":${(jobActive.get() - a0) / 1e9}%.3f,""" +
        f""""driver_gap_sec":${wall - (jobActive.get() - a0) / 1e9}%.3f}"""
      System.err.println(s"[jobprofile] $line")
      out += line
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => }
    }
    println(out.mkString("[", ",", "]"))
    spark.stop()
  }
}
