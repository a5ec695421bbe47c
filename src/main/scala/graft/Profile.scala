package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}

/** Dev profiler (guide §1): runs Bench's session ([[GraftSession]] plus the
  * cache prime) and, for each named query, splits a timed noop save into
  *   - task time:   sum of executor run time over all tasks (from listener)
  *   - stage span:  submission->completion wall of all stages
  *   - driver rest: save wall minus stage span = planning + job bookkeeping
  * so the optimization loop can tell Catalyst/driver overhead from actual
  * data work. Prints one JSON line per query (min over samples) and a
  * per-stage breakdown of the slowest query when asked.
  *
  * Usage: graft.Profile [sfDir] [name ...]  (default: the 22 bench queries)
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_PART_BYTES, SPARK_GRAFT_SAMPLES
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args.head else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.benchNames
    val spark = GraftSession.build("graft-profile", sfDir)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    Tables.prime(spark, sfDir, parts.toInt)

    // per-measurement accumulators, reset before each timed save
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val taskCnt = new java.util.concurrent.atomic.AtomicLong
    val stageSpanMs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        taskMs.addAndGet(si.taskMetrics.executorRunTime)
        taskCnt.addAndGet(si.numTasks.toLong)
        val span = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
        stageSpanMs.addAndGet(span)
        stages.add(f"{\"stage\":${si.stageId},\"tasks\":${si.numTasks}," +
          f"\"spanMs\":$span,\"taskMs\":${si.taskMetrics.executorRunTime}," +
          f"\"shuffleReadMB\":${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%.1f," +
          f"\"gcMs\":${si.taskMetrics.jvmGCTime}}")
      }
    })

    val samples = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "5").toInt
    val built = names.map(n => n -> SparkEntry.queries(n)(spark, sfDir))
    def save(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup x2 like Bench
    built.foreach { case (_, df) => save(df) }
    built.foreach { case (_, df) => save(df) }

    val out = built.map { case (n, df) =>
      val runs = (1 to samples).map { _ =>
        taskMs.set(0); taskCnt.set(0); stageSpanMs.set(0); stages.clear()
        val t0 = System.nanoTime()
        save(df)
        val wall = (System.nanoTime() - t0) / 1e6
        (wall, taskMs.get.toDouble, stageSpanMs.get.toDouble, taskCnt.get,
          stages.toArray(Array.empty[String]).toSeq)
      }
      val best = runs.minBy(_._1)
      println(f"""{"q":"$n","wallMs":${best._1}%.0f,"taskMs":${best._2}%.0f,""" +
        f""""stageSpanMs":${best._3}%.0f,"driverMs":${best._1 - best._3}%.0f,""" +
        f""""tasks":${best._4},"stages":[${best._5.mkString(",")}]}""")
      n -> best._1
    }
    println(f"""{"metric":"profile_total","wallMsSum":${out.map(_._2).sum}%.0f,"parts":$parts}""")
    spark.stop()
  }
}
