package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Dev-only per-JOB profiler (test scope, never shipped): runs catalog
  * queries under the bench's session shape and prints one line per
  * Spark job — wall seconds, stage count, task count, and the job's
  * origin (callSite) — so a query's wall time decomposes into its
  * driver-sequenced jobs (eager checkpoints, collects, broadcast
  * builds, the final action). Usage:
  *
  *   sbt "Test/runMain graft.tools.JobProf <sfDir> <q1> [q2 ...]"
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = graft.SparkEntry.cpus
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(start: Long, var nStages: Int = 0, var nTasks: Int = 0,
                       var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(System.nanoTime())
        j.nStages = e.stageInfos.size
        j.nTasks = e.stageInfos.map(_.numTasks).sum
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.remove(e.jobId)
        if (j != null) {
          val sec = (System.nanoTime() - j.start) / 1e9
          lines.add(f"  job ${e.jobId}%3d ${sec}%7.3f s  stages=${j.nStages}%2d tasks=${j.nTasks}%5d  ${j.site}")
        }
      }
    })

    // warmup (same shape as Bench)
    graft.Tables.lineitem(spark, dir).count()
    graft.Tables.events(spark, dir).count()
    graft.Tables.documents(spark, dir).count()
    graft.Tables.embeddings(spark, dir).count()
    spark.range(1000000).selectExpr("sum(id % 7)").collect()

    for (name <- names; rep <- 1 to 2) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      lines.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      println(f"== $name rep$rep: ${total}%.2f s ==")
      lines.forEach(l => println(l))
    }
    spark.stop()
  }
}
