package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, queries => Q}

/** JVM side of the benchmark; `perfbench/run.py` launches it once per run,
  * in a fresh JVM, and reads the report it writes.
  *
  * Arguments are `key=value` pairs:
  *   input     generated parquet directory the timed operations read
  *   out       directory the results go to, one parquet dir per row
  *   warehouse, local   the session's warehouse and scratch dirs
  *   ops       comma-separated `SparkEntry.queries` rows and `stage:`
  *             builds, in run order
  *   setups    how many times to set up; the pass runs on the last
  *   trace     1 installs the tracing listeners (the per-layer run)
  *   report    path of the JSON report
  *   spans     path of the span file (trace runs only)
  *
  * One closed-loop client runs exactly one timed pass: each operation
  * starts when the previous one ends. No warm-up pass over the workload
  * precedes it: each operation runs cold, as in a batch job's only run. Between operations, outside the timed
  * windows, the harness clears what a finished operation leaves behind, as
  * `graft.Bench` does, so no operation is measured with another's residue. */
object Harness {
  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class OpRun(name: String, startMs: Long, endMs: Long,
                         buildS: Double, execS: Double, wallS: Double,
                         stealShare: Double, error: String, stageBytes: Long)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }
      .toMap
    val (input, out) = (a("input"), a("out"))
    val ops = a("ops").split(",").toSeq
    val setups = a("setups").toInt
    val trace = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer

    // ---- set-up, `setups` times: the first runs from JVM start, every
    // later one from the stop of the previous session ----
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis()
      spark = setUp(a, cpus, i)
      setupS += (System.currentTimeMillis() - t0) / 1e3
      println(f"[perfbench] set-up $i ${setupS.last}%.3f s")
    }
    if (trace) {
      spark.sparkContext.addSparkListener(tracer.spark)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.register(tracer.sql)
      spark.streams.addListener(tracer.stream)
    }
    var heapPeak = 0L
    val heap = ManagementFactory.getMemoryMXBean

    /** Runs one operation; returns (build s, exec s, error, stage dirs
      * built). A row's build is its query function up to the returned
      * DataFrame (eager collects, checkpoints, stage checks); exec is the
      * result write. A stage's whole build counts as build. */
    def runOp(name: String): (Double, Double, String, Seq[String]) = {
      Q.drainStageLog()
      val t0 = System.nanoTime()
      var t1 = t0
      var err = ""
      try {
        if (name.startsWith("stage:"))
          Q.Stages.all.find(_._1 == name).get._2(spark, input)
        else {
          val df = SparkEntry.queries(name)(spark, input)
          t1 = System.nanoTime()
          df.write.mode("overwrite").parquet(s"$out/$name")
        }
      } catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      val t2 = System.nanoTime()
      if (name.startsWith("stage:")) t1 = t2
      val built = Q.drainStageLog().collect { case (p, true) => p }.distinct
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, err, built)
    }

    /** Post-operation hygiene, outside the timed window. The heap is read
      * after full GCs and before the residue is dropped, so a result the
      * operation keeps in memory (a memory sink, a cached block) counts
      * toward the live set. The pause between the GCs lets Spark's context
      * cleaner drop the broadcasts the first GC released; without it the
      * reading depends on that thread's timing (80 or 146 MB on one input). */
    def afterOp(): Unit = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.streams.active.foreach(q =>
        try q.stop() catch { case _: Throwable => () })
      graft.streaming.StreamOps.drainSinkLog().foreach(n =>
        try spark.catalog.dropTempView(n) catch { case _: Throwable => () })
      try org.apache.spark.sql.graft.bridge.stopStateStores()
      catch { case _: Throwable => () }
    }

    // ---- the timed pass, exactly one, with the stage directories wiped ----
    val runs = ArrayBuffer.empty[OpRun]
    Q.wipeStages()
    val passStart = System.currentTimeMillis()
    for (op <- ops) {
      spark.sparkContext.setJobGroup(s"perfbench:$op", op)
      val s = System.currentTimeMillis()
      val (busy0, steal0) = cpuTicks()
      val w0 = System.nanoTime()
      val (b, e, err, built) = runOp(op)
      val wall = (System.nanoTime() - w0) / 1e9
      val (busy1, steal1) = cpuTicks()
      val end = System.currentTimeMillis()
      val stolen = steal1 - steal0
      val stealShare =
        if (stolen > 0) stolen.toDouble / (busy1 - busy0 + stolen) else 0.0
      spark.sparkContext.clearJobGroup()
      runs += OpRun(op, s, end, b, e, wall, stealShare, err,
        built.map(p => du(Paths.get(p))).sum)
      println(f"[perfbench] $op $wall%.3f s steal $stealShare%.3f $err")
      afterOp()
    }

    val spans = ArrayBuffer.empty[String]
    val triggers = ArrayBuffer.empty[Double]
    val layer = ArrayBuffer.empty[(String, Map[String, Double])]
    if (trace) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spans += Json.obj("kind" -> "pass", "id" -> "pass", "parent" -> "",
        "start" -> passStart, "end" -> System.currentTimeMillis())
      for (r <- runs) {
        val id = s"op:${r.name}"
        val (m, trig, sp) = tracer.summarize(id, r.startMs, r.endMs)
        layer += ((r.name, m))
        triggers ++= trig
        spans += Json.obj("kind" -> "op", "id" -> id, "parent" -> "pass",
          "start" -> r.startMs, "end" -> r.endMs)
        spans ++= sp
      }
    }

    // bytes the pass left in stage, staging, warehouse and result dirs
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val stageRoots = scala.util.Using.resource(Files.list(tmp))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_stage"))
        .toList)
    val diskBytes = stageRoots.map(du).sum + du(Paths.get(a("warehouse"))) +
      du(Paths.get(out))

    val report = Json.obj(
      "setup_s" -> setupS,
      "cpus" -> cpus,
      "heap_live_peak_b" -> heapPeak,
      "disk_bytes" -> diskBytes,
      "ops" -> runs.map(r => Map("name" -> r.name,
        "wall_s" -> r.wallS, "steal_share" -> r.stealShare,
        "build_s" -> r.buildS, "exec_s" -> r.execS,
        "error" -> r.error, "stage_bytes" -> r.stageBytes)),
      "layer" -> layer.map { case (n, m) => Map("name" -> n, "m" -> m) },
      "triggers_ms" -> triggers,
      "oracle" -> SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) })
    Files.writeString(Paths.get(a("report")), report)
    if (trace) Files.writeString(Paths.get(a("spans")), spans.mkString("", "\n", "\n"))
    try spark.stop() catch { case _: Throwable => () }
    // stream and pool threads left by the library must not hold the JVM open
    sys.exit(0)
  }

  /** One set-up: a `local[cpus]` session, a footer touch of every input
    * table, so no operation absorbs another table's first read, and one
    * warm-up query on synthetic data that is no judged row (a join, an
    * aggregate, a window, string and array expressions and a parquet
    * write), so the engine's first job, class loading and first code
    * generation land in set-up rather than in the first operation. Each
    * row's own plans still compile in its timed window. */
  private def setUp(a: Map[String, String], cpus: Int, i: Int): SparkSession = {
    val t0 = System.nanoTime()
    def lap(what: String): Unit =
      println(f"[perfbench]   $what ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // µs parquet timestamps, the logical type DuckDB's oracle produces
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    lap("session")
    for (t <- Tables) Q.table(spark, a("input"), t).schema
    lap("footer touch")
    spark.range(0, 5000, 1, cpus).selectExpr("id", "id % 97 AS k",
        "cast(id AS double) / 7 AS v",
        "concat('w', cast(id % 13 AS string), ' x y') AS s",
        "array(cast(id AS float), 1.0f, 2.0f) AS e")
      .createOrReplaceTempView("perfbench_warm")
    spark.sql("""SELECT k, n, sv, w, q, row_number() OVER (ORDER BY sv) r
               FROM (SELECT a.k, count(*) n, sum(b.v) sv,
                 max(size(split(regexp_replace(lower(a.s), '[^a-z ]', ''), ' '))) w,
                 max(aggregate(transform(a.e, x -> x * x), 0D, (acc, x) -> acc + x)) q
               FROM perfbench_warm a JOIN perfbench_warm b ON a.id = b.id + 1
               GROUP BY a.k)""")
      .write.mode("overwrite").parquet(s"${a("local")}/warm-up-$i")
    spark.catalog.dropTempView("perfbench_warm")
    lap("warm-up")
    spark
  }

  /** Busy and stolen CPU ticks of the machine so far, summed over its CPUs,
    * from the first line of /proc/stat (user nice system idle iowait irq
    * softirq steal ...); (0, 0) where there is none. Steal is time a
    * virtual machine's CPUs were ready to run but the host ran something
    * else. */
  private def cpuTicks(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) return (0L, 0L)
    val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    if (f.length < 8) (0L, 0L)
    else (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** Total size of the regular files under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)
}
