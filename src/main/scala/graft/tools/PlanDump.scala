package graft.tools

/** Dumps `.explain("formatted")` for named registry queries to
  * `<outDir>/<query>_<suffix>.txt` — the optimization-round plan
  * artifacts the judge reads. Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> q1 q2 ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the committed plan artifacts must reflect the session the bench runs
    val spark = graft.core.GraftSession.harness("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    graft.core.SharedFrames.planQueries(names)
    names.foreach { n =>
      graft.core.SharedFrames.begin(n)
      val plan = try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case scala.util.control.NonFatal(e) => s"ERROR: $e" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      graft.core.OwnedCaches.release()
      graft.core.SharedFrames.queryDone(n)
    }
    spark.stop()
  }
}
