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
      if (exec) df.queryExecution.executedPlan.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val plan = dump(df)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name.replace(':', '_')}_$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }

  /** `df`'s formatted physical plan, [[normalize]]d. */
  def dump(df: org.apache.spark.sql.DataFrame): String =
    normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

  /** A dumped plan made reproducible, so two dumps of the same plan are
    * byte-equal whatever else the session planned first and wherever its
    * stages live: lambda identities stripped ([[stripLambdaIds]]), session
    * counters renumbered ([[renumberIds]]) and the stage root
    * (`java.io.tmpdir`) replaced by `<tmpdir>`. A parent/change plan check
    * is then a plain `diff -r` of two dump directories. */
  def normalize(plan: String): String = {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    renumberIds(stripLambdaIds(plan)).replace(tmp + "/graft_stage", "<tmpdir>/graft_stage")
  }

  /** Session counters renumbered in order of first appearance: expression
    * ids (`vec_id#123L`), `plan_id=` tags, RDD ids (`RDD[42]`) and
    * higher-order-function variables (`lambda x_17`) count up over the
    * whole session, so the same plan dumps with other numbers after other
    * queries were planned. Each family restarts at 0 and keeps equal ids
    * equal. */
  def renumberIds(plan: String): String =
    Seq("""(#)(\d+)""", """(plan_id=)(\d+)""", """(RDD\[)(\d+)""",
        """(lambda [A-Za-z]+_)(\d+)""")
      .foldLeft(plan) { (text, re) =>
        val seen = scala.collection.mutable.HashMap.empty[String, Int]
        re.r.replaceAllIn(text, m =>
          m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size))
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
