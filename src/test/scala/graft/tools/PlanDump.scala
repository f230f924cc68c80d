package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` plus the executed (AQE-final)
  * physical plan of catalog queries to files — the before/after plan
  * evidence for optimization rounds.
  *
  *   sbt "Test/runMain graft.PlanDump <outDir> <suffix> <sfDir> <q1> [q2 …]"
  *
  * writes <outDir>/<query>_<suffix>.txt per query. Uses the bench's own
  * session shape (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus,
  * AQE on) so plan files describe the measured configuration.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val cpus = SparkEntry.cpus
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // execute so the AQE-final plan (coalesced reads, runtime join
      // strategy changes) is what lands in the file
      df.queryExecution.toRdd.foreach(_ => ())
      val fin = df.queryExecution.executedPlan.toString
      val txt = s"== explain(formatted), initial ==\n$formatted\n" +
        s"== executed plan (AQE final) ==\n$fin\n"
      java.nio.file.Files.write(
        outDir.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$suffix.txt")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
