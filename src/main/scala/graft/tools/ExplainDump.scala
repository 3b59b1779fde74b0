package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every SparkEntry query to PLANS.md —
  * the plan-level audit trail (pushdown, pruning, broadcast, codegen
  * spans) reviewable without running anything.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = session(8)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for every driver query\n\n")
    sb.append(s"Generated by `graft.tools.ExplainDump` over `$sfDir`. " +
      "Things to check per plan: `PushedFilters`/`ReadSchema` on scans, " +
      "`BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for " +
      "top-k, `(N)`-numbered WholeStageCodegen spans, and absence of " +
      "unexpected `Exchange`s.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch { case e: Throwable =>
        sb.append(s"\n## $name\n\nERROR: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote ${sb.length} chars for " +
      s"${SparkEntry.queries.size} queries")
    spark.stop()
  }
}
