package graft.tools

import java.util.regex.Pattern
import org.apache.spark.sql.execution.ExplainMode

/** Dump formatted physical plans of SparkEntry queries -> PLANS.md, for
  * plan-quality auditing (pushdown, broadcast, whole-stage codegen spans).
  * Run-specific tokens are masked (see [[stable]]), so two runs at one
  * commit write byte-identical files and a plan diff shows only plan
  * changes. Usage: ExplainAudit [sfDir] [outFile] [query...] (no names =
  * every query).
  */
object ExplainAudit {

  /** Masks the tokens of a formatted plan that change from run to run:
    * expression ids (`conv_id#2741`), plan and RDD ids, the counter in
    * lambda variable names (`lambda x_20`), lambda class names
    * (`Foo$$$Lambda$5872/0x00007f5a676ac538`), identity hash codes
    * (`@285836c9`), the random suffix of [[graft.Scratch]] dir names and
    * call-site line numbers (`localCheckpoint at Dedup.scala:552`), which move
    * with any edit above the call.
    */
  def stable(plan: String): String = Seq(
    "(lambda \\w+?)_\\d+(?=#)" -> "$1_N",
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "(?<=RDD)\\[\\d+\\]" -> "[N]",
    "\\$\\$Lambda[$/\\w]*" -> "\\$\\$Lambda",
    "(?<=[\\w$])@[0-9a-f]+\\b" -> "@H",
    Pattern.quote(graft.Scratch.base.getPath) + "/([^/\\]\\s,]*?)\\d+(?=[/\\]\\s,])" -> "<scratch>/$1N",
    "(?<=\\.scala:)\\d+" -> "N"
  ).foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val names = args.drop(2).toSeq
    val spark = graft.SparkEnv.session("graft-explain")
    val queries = graft.SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.tools.ExplainAudit)\n")
    (if (names.isEmpty) queries.keys.toSeq.sorted else names.distinct).foreach { name =>
      try {
        val df = queries(name)(spark, sfDir)
        sb.append(s"\n## $name\n\n```\n")
        sb.append(stable(df.queryExecution.explainString(ExplainMode.fromString("formatted"))))
        sb.append("```\n")
      } catch {
        case e: Throwable => sb.append(s"\n## $name\n\nEXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
