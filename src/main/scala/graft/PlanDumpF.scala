package graft

/** `.explain("formatted")` dumper for the optimization-round plan records
  * (`plans/rNN/<query>_{before,after}.txt`): arg0 = SF dir, arg1 = output
  * dir, arg2.. = query names ("all" = every declared query). Builds the
  * bench's session (`GraftSession.builder` at `SPARK_GRAFT_CPUS`), so the
  * dumped plans are the plans the bench actually runs.
  */
object PlanDumpF {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names =
      if (args.drop(2).sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    for (q <- names) {
      val txt =
        try SparkEntry.queries(q)(spark, args(0)).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.write(outDir.resolve(s"${q}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.catalog.clearCache()
      System.err.println(s"[plandump] $q -> ${q}_$suffix.txt")
    }
    spark.stop()
  }
}
