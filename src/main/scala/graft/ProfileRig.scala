package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiling tool: run one registered query (warm, pass 2) and print
  * every Spark job's wall time + call site, so rig overhead can be
  * attributed to specific steps instead of guessed at.
  *
  * Usage: runMain graft.ProfileRig <queryName> [sfDir]
  */
object ProfileRig {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    // pass 1: warm (substrate caches, persisted indexes, JIT)
    val w0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    println(f"[warm] ${(System.nanoTime() - w0) / 1e9}%.2f s")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val stages = j.stageInfos.map(si => s"${si.name}(${si.numTasks})").mkString(" <- ")
        val nTasks = j.stageInfos.map(_.numTasks).sum
        starts.put(j.jobId, (System.nanoTime(), s"tasks=$nTasks  $stages"))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          lines.add(f"job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000)
    lines.forEach(println(_))
    println(f"[timed] $total%.2f s, ${lines.size} jobs")
    spark.stop()
  }
}
