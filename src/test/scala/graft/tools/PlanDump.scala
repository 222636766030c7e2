package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: print the physical plan for one or more query keys
  * (the `.explain` snapshots PLANS.md / plans/r19 carry). Not part of
  * the shipped library surface, so it lives in test scope.
  *
  * Usage: Test/runMain graft.tools.PlanDump [--final] <sfDir> <key>[,<key>...] [<outDir> <suffix>]
  *
  * With <outDir>/<suffix>, writes `explain("formatted")` output to
  * <outDir>/<key>_<suffix>.txt per key (the optimization-round evidence
  * files); otherwise prints the executed plan to stdout as before.
  * With --final, each query is executed first (its rows are discarded),
  * so the dump is AQE's final plan rather than the initial one.
  */
object PlanDump {
  def main(argv: Array[String]): Unit = {
    val runFirst = argv.contains("--final")
    val args = argv.filterNot(_ == "--final")
    val dir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "before"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (k <- keys) {
      val df = graft.SparkEntry.queries(k)(spark, dir)
      if (runFirst) df.queryExecution.executedPlan.execute().foreach(_ => ())
      outDir match {
        case Some(od) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(od))
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$od/${k}_$suffix.txt"), formatted)
          println(s"wrote $od/${k}_$suffix.txt")
        case None =>
          println(s"==== $k ====")
          println(df.queryExecution.executedPlan)
      }
    }
    spark.stop()
  }
}
