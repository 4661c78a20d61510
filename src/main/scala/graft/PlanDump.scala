package graft

/** Dump `explain("formatted")` for named declared queries to files —
  * the plan evidence harness for optimization rounds (guide §7.2).
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>`
  * writes `<outDir>/<query>_<suffix>.txt` for each named query.
  * Plans are captured at the same SF dir and session settings as the
  * bench (env `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS`), so Exchange
  * counts and join strategies match what the bench actually runs.
  * Queries that build on-disk indexes inside the query body execute
  * those builds during planning of the final frame — the dumped plan is
  * the final served query's, the same frame the bench's noop sink
  * materializes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
