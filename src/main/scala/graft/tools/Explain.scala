package graft.tools

/** Dump `.explain("formatted")` for named judged queries to
  * `plans/<tag>/<name>_<suffix>.txt` — the optimization round's
  * plan-evidence artifact (guide §1: capture the plan shape — Exchange
  * count, join strategy, PushedFilters/ReadSchema — before and after
  * every change).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLAN_DIR=plans/r16 \
  *        SPARK_GRAFT_PLAN_SUFFIX=before runMain graft.tools.Explain <query...>
  *
  * Streaming-composed queries execute their drain during construction
  * (the judged fn returns the post-drain batch frame); the dumped plan
  * covers the batch tail — still the part a plan diff can evidence.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r16")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.HarnessSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // op-level frames (stage builds aren't SparkEntry queries; the plan
    // evidence for a touched stage names it "op:<x>" here)
    val ops: Map[String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame] = Map(
      "op:dsir" -> (s => graft.ops.TextAnalysis.dsirWeights(
        graft.queries.table(s, sfDir, "documents"),
        org.apache.spark.sql.functions.col("lang") === "en")),
      "op:spans" -> (s => graft.ops.Dedup.spanArrays(
        graft.queries.table(s, sfDir, "documents"), minLen = 25))
    )
    // SPARK_GRAFT_PLAN_EXEC=1: execute the plan first (noop-equivalent RDD
    // drain of the exact executedPlan), THEN dump — the AQE FINAL plan,
    // with ReusedExchange / AQEShuffleRead nodes resolved. Exchange-reuse
    // claims are invisible in the initial (isFinalPlan=false) dump because
    // AQE reuses stages at runtime, not at planning.
    val exec = sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1")
    for (name <- args) {
      val df =
        if (ops.contains(name)) ops(name)(spark)
        else graft.SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      if (exec) qe.executedPlan.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val plan = stripLambdaIds(qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name.replace(':', '_')}_$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }

  /** A plan's text without JVM lambda identities: a Scala function in a
    * plan (a UDF, a `mapPartitions` body) prints as
    * `Owner$$$Lambda$8462/0x0000000801a2b040@208bf5f7`, whose class
    * number, address and hash change from run to run, so two dumps of the
    * same plan differ there. Each becomes `Owner$$$Lambda`. */
  def stripLambdaIds(plan: String): String =
    plan.replaceAll("""\$\$Lambda(\$\d+)?/0x[0-9a-fA-F]+@[0-9a-fA-F]+""",
      java.util.regex.Matcher.quoteReplacement("$$Lambda"))
}
