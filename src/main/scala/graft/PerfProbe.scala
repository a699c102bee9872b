package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Optimization-round measurement harness (spark_optimization_guide §1):
  * for each named declared query it
  *   1. writes `.explain("formatted")` to `plans/<tag>/<name>_<phase>.txt`
  *      (the judge-checkable plan artifact),
  *   2. times the SAME action the bench times (`df.count()`), repeated
  *      `SPARK_GRAFT_PROBE_REPS` times (default 3, min reported), and
  *   3. prints a per-JOB wall-time breakdown (job id, duration, #stages,
  *      total task time) collected by a listener, so the expensive jobs
  *      inside a multi-action operator (pricing aggregates, persist
  *      materializations, broadcast builds) are attributable.
  *
  * Bench-contract note: this main is measurement-only tooling — it never
  * runs in the driver's bench and declares no queries. Same session conf
  * and warmup as [[Bench]] ([[GraftSession]]) so plans and per-query
  * numbers match what the bench executes.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PROBE_TAG", "r21")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val phase = sys.env.getOrElse("SPARK_GRAFT_PROBE_PHASE", "before")
    val names = SparkEntry.only("probe").getOrElse(Seq.empty)
    // experimental conf overrides: SPARK_GRAFT_PROBE_CONF="k=v;k=v"
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_PROBE_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = GraftSession.start(GraftSession.envCores, extraConf.toSeq)
    GraftSession.warmup(spark, sfDir)

    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = -1L, var stages: Int = 0,
                            var taskMs: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    // stage → job recorded at job START (SparkListenerJobStart.stageIds):
    // attributing a finished stage to the most-recently-started job
    // misattributes under overlapping jobs (broadcast builds, persist
    // materializations run concurrently with the main action)
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, d, e.time)
        // first registration wins: a stage shared with an already-running
        // job belongs to the job that actually submitted it
        e.stageIds.foreach(sid =>
          stageToJob.getOrElseUpdate(sid, e.jobId): Unit)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val info = e.stageInfo
          stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.taskMs += info.taskMetrics.executorRunTime
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val planDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(planDir): Unit

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // plan artifact (fresh DF so session-memoized fixtures warm here);
      // the FIRST fn() call is timed separately — it pays any eager
      // fixture construction (tx-table writes, streaming drains) that
      // the bench times inside the query but a warm rep does not
      val tBuild0 = System.nanoTime()
      val df0 = try Some(fn(spark, sfDir)) catch { case e: Throwable =>
        System.err.println(s"[probe] $name build FAILED: $e"); None }
      println(f"[probe] $name build ${(System.nanoTime() - tBuild0) / 1e9}%.3f s (first fn() call)")
      val planTxt =
        try df0.map(_.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
          .getOrElse("build failed")
        catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.write(
        planDir.resolve(s"${name}_$phase.txt"),
        planTxt.getBytes("UTF-8")): Unit
      graft.ext.Dedup.unpersistAll()
      val times = (1 to reps).map { i =>
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(): Unit }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        val snap = jobs.synchronized(jobs.values.toSeq)
        println(f"[probe] $name rep$i $sec%.3f s  jobs=${snap.size}")
        if (i == reps) snap.foreach { j =>
          val dur = if (j.end > 0) j.end - j.start else -1
          println(f"[probe]   job ${j.id}%4d ${dur}%6d ms stages=${j.stages}%3d taskMs=${j.taskMs}%7d  ${j.desc.take(90)}")
        }
        graft.ext.Dedup.unpersistAll()
        sec
      }
      println(f"[probe] $name MIN ${times.min}%.3f s over $reps reps")
    }
    spark.stop()
  }
}
