package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for named registered queries to
  * <outDir>/<query>_<suffix>.txt — the before/after plan evidence for
  * optimization rounds (plans/rNN/). Usage:
  *   PlanDump <outDir> <suffix> [query ...]   (no queries = all)
  * Runs at $SPARK_GRAFT_SF_DIR (default sf0.01) on local[32] with the
  * bench's shuffle-partition setting so plan shapes match the bench. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val suffix = args.lift(1).getOrElse("now")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.Registry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.create(master = "local[32]", shufflePartitions = 32)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      if (!graft.Registry.queries.contains(n))
        System.err.println(s"[plandump] no such query: $n")
      else
        try {
          val txt = graft.SparkEntry.run(spark, n, sfDir)(
            _.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote $n")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
