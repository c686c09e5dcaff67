package graft.tools

/** Dump .explain("formatted") for every SparkEntry query (or a named subset)
  * to an output directory — the before/after plan evidence files the
  * optimization rounds commit under plans/rNN/.
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> [nameRegex]
  * Writes <outDir>/<query>_<suffix>.txt.
  *
  * Queries with side effects (DML/compaction fixtures) run their setup as
  * part of building the DataFrame — the dump reflects the plan of the FINAL
  * declared result, which is what the driver times and oracle-checks.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val nameRe = if (args.length > 3) args(3) else ".*"
    val spark = Probe.localSpark(Probe.cpus)
    new java.io.File(outDir).mkdirs()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.filter(_.matches(nameRe))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name ok (${plan.length} chars)")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
