package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev profiling tool: run one registered query (warm, pass 2) and print
  * every completed STAGE's wall time, task count, and byte metrics
  * (input / shuffle read / shuffle write), so single-task bottlenecks
  * and over-coalesced exchanges can be attributed precisely —
  * [[ProfileRig]]'s job-level view cannot see inside AQE's per-stage
  * jobs.
  *
  * Usage: runMain graft.StageProfile <sfDir> <queryName> [queryName...]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val lines = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield (a - b) / 1e3).getOrElse(-1.0)
        val cpuS = tm.executorRunTime / 1e3
        def mb(b: Long) = f"${b / 1e6}%8.1f"
        lines.add(
          f"stage ${si.stageId}%4d wall $wall%7.3f s cpu $cpuS%8.3f s tasks ${si.numTasks}%4d " +
            f"in ${mb(tm.inputMetrics.bytesRead)} MB sr ${mb(tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead)} MB " +
            f"sw ${mb(tm.shuffleWriteMetrics.bytesWritten)} MB spill ${mb(tm.diskBytesSpilled)} MB")
        ()
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // pass 1: warm (substrate caches, persisted indexes, JIT)
      val w0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val warm = (System.nanoTime() - w0) / 1e9

      lines.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500)
      spark.sparkContext.removeSparkListener(listener)
      val snap = new java.util.ArrayList[String](lines)
      val stageWall = snap.toArray(Array.empty[String])
        .map(_.split("wall ")(1).trim.split(" ")(0).toDouble).sum
      println(s"===== $name =====")
      println(f"[warm] $warm%.2f s  [timed] $total%.2f s, ${snap.size} stages, " +
        f"stage-wall sum $stageWall%.2f s (driver/gap ${total - stageWall}%.2f s)")
      snap.forEach(println(_))
    }
    spark.stop()
  }
}
