package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Physical-plan audit: executes every registered query at a small SF and
  * tabulates the final (AQE-resolved) plan shape — shuffle exchanges,
  * broadcast exchanges, parquet scans (and how many have pushed filters),
  * and whole-stage-codegen spans — into PLANS.md. The table is the
  * reviewable "would this survive a 100× scale-up" summary; PlanSpec pins
  * the individual load-bearing properties as tests. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec => flatten(q.plan)
        case other => Seq(other)
      }
      self ++ p.children.flatMap(flatten) ++
        p.subqueries.flatMap(flatten)
    }

    val rows = graft.Registry.queries.keys.toSeq.sorted.map { name =>
      try graft.SparkEntry.run(spark, name, sfDir) { df =>
        df.collect() // execute THIS QueryExecution so AQE finalizes it
        val ops = flatten(df.queryExecution.executedPlan)
        val shuffles = ops.count(_.isInstanceOf[ShuffleExchangeLike])
        val bcasts = ops.count(_.isInstanceOf[BroadcastExchangeLike])
        val scans = ops.collect { case f: FileSourceScanExec => f }
        val pushed = scans.count(_.metadata.get("PushedFilters").exists(s => s != "[]"))
        val codegen = ops.count(_.isInstanceOf[WholeStageCodegenExec])
        f"| $name | $shuffles | $bcasts | ${scans.size} ($pushed pushed) | $codegen |"
      } catch {
        case e: Throwable => s"| $name | — | — | — | failed: ${e.getClass.getSimpleName} |"
      }
    }

    val md = new StringBuilder
    md.append("# PLANS — physical-plan audit of every registered query\n\n")
    md.append(s"Generated by `graft.tools.PlanAudit` at `$sfDir` ")
    md.append("(AQE-final plans, including subqueries). Columns: shuffle\n")
    md.append("exchanges, broadcast exchanges, parquet scans (how many carry\n")
    md.append("pushed filters), whole-stage-codegen spans. The load-bearing\n")
    md.append("properties (pushdown, broadcast-not-shuffle for bounds/dims,\n")
    md.append("partitioned windows, equi-join candidates) are pinned as tests\n")
    md.append("in `PlanSpec`.\n\n")
    md.append("Queries showing 0 parquet scans read the memoized envelope\n")
    md.append("adapter (`Tables.eventLog`) from the in-memory cache — the\n")
    md.append("ingest-materialized log layout in a real deployment.\n\n")
    md.append("| query | shuffles | broadcasts | scans | codegen spans |\n")
    md.append("|---|---|---|---|---|\n")
    rows.foreach(r => md.append(r + "\n"))
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      md.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote PLANS.md (${rows.size} queries)")
    spark.stop()
  }
}
