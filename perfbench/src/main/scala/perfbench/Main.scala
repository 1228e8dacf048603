package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** Drives the engine from outside: every timed call goes through a public
  * entry point (`SparkEntry.queries`, `StreamOps`, `Sinks`). `run.py`
  * generates the seeded inputs, launches this main and turns the records it
  * writes into metrics.
  *
  * Usage: perfbench.Main <workload> <inputDir> <outDir> <fixtureDir> <cores>
  *                       <seconds> <trace 0|1> <launchEpochMs>
  * Workloads: olap_mix, pipeline_heavy, collector_ingest, and `digests`
  * (writes every listed key's output and digest; used to derive the
  * expected digests, not timed). */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outDir, fixture, coresS, secondsS, traceS, launchS) = args
    val h = new Harness(inDir, outDir, fixture, coresS.toInt, secondsS.toDouble,
      traceS == "1", launchS.toLong, workload == "collector_ingest")
    try workload match {
      case "olap_mix" => h.olapMix()
      case "pipeline_heavy" => h.pipelineHeavy()
      case "collector_ingest" => Ingest.run(h)
      case "digests" => h.digests()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally h.close()
  }
}

/** Order-insensitive result digest: row count plus the sums of the low and
  * high 32-bit halves of each row's xxhash64. Doubles are rounded to six
  * decimals first, so a last-bit difference from a different summation
  * order does not read as a wrong answer.
  *
  * The digest is observed on the materializing write itself
  * (`Dataset.observe`): computing it in a second pass would run every query
  * twice, which the benchmark's time budget cannot afford. The observed
  * aggregate adds one hash per output row to the write. */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case VariantType | CalendarIntervalType => c.cast(StringType)
    case _ => c
  }

  /** `df` with its columns renamed by position and the digest observed. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(d.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType)): _*)
    d.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(0xFFFFFFFFL)).as("lo"), sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  def read(obs: Observation): String = {
    val m = obs.get
    def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    s"${l("rows")}:${l("lo")}:${l("hi")}"
  }
}

final class Harness(val inDir: String, val outDir: String, val fixture: String,
                    val cores: Int, val seconds: Double, val traced: Boolean,
                    launchEpochMs: Long, streaming: Boolean) {
  val work: String = new File(outDir).getParentFile.getAbsolutePath
  val tracer = new Tracer(traced)
  val origin: Long = System.nanoTime()
  private val opLog = new PrintWriter(s"$outDir/ops.jsonl")
  private val counters = new GroupCounters
  private var setups = Vector.empty[Double]
  private var heapMb = Double.NaN
  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, Json.Raw]
  var spark: SparkSession = _

  /** The session posture: graft.Bench's confs on local[cores]. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.ui.enabled" -> "false",
    "spark.checkpoint.compress" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true") ++
    (if (streaming) Seq("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
     else Nil)

  def lines(name: String): Vector[String] =
    Files.readAllLines(Paths.get(inDir, name)).asScala.toVector.filter(_.nonEmpty)

  def note(key: String, json: String): Unit = extra(key) = Json.Raw(json)

  def now: Double = (System.nanoTime() - origin) / 1e9

  /** Stops the current session (purging its per-session caches), starts a
    * fresh one and runs `probe` on it. The first set-up is timed from the
    * moment the JVM was launched. */
  def setUp(probe: () => Unit): Unit = {
    val t0 = if (setups.isEmpty) launchEpochMs else System.currentTimeMillis()
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    confs.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(counters)
    tracer.span("setup", s"setup${setups.length}", "")(_ => probe())
    setups :+= (System.currentTimeMillis() - t0) / 1e3
    System.err.println(f"[perfbench] set-up ${setups.length} took ${setups.last}%.2f s")
  }

  /** A few light keys, run untimed: opens the fixture files and warms the
    * planner and codegen on a fresh session. */
  def batchProbe(): Unit =
    Seq("q_scan_parquet", "q_agg_groupby")
      .foreach(k => SparkEntry.queries(k)(spark, fixture).write.format("noop")
        .mode("overwrite").save())

  /** Runs one operation: the call into `SparkEntry.queries(key)` (build),
    * with tracing the forced physical plan (plan), then the noop write that
    * computes every output column and observes the digest (exec). Each
    * phase runs under its own job group so the listener can attribute jobs,
    * stages and tasks to it. An exception is recorded, not rethrown. */
  def runOp(opId: String, key: String, cls: String, pass: String): Unit = {
    val sc = spark.sparkContext
    var build, plan, exec = 0.0
    var digest, error: String = null
    var obs: Observation = null
    val start = now
    val (_, wall) = tracer.span("op", key, opId) { parent =>
      try {
        sc.setJobGroup(s"$opId/build", key)
        val (df, b) = tracer.span("build", key, opId, parent)(_ =>
          SparkEntry.queries(key)(spark, fixture))
        build = b
        obs = new Observation(s"digest_$opId")
        val d = Digest.observed(df, obs)
        if (traced) {
          sc.setJobGroup(s"$opId/plan", key)
          plan = tracer.span("plan", key, opId, parent)(_ => d.queryExecution.executedPlan)._2
        }
        sc.setJobGroup(s"$opId/exec", key)
        exec = tracer.span("exec", key, opId, parent)(_ =>
          d.write.format("noop").mode("overwrite").save())._2
      } catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
    }
    // the observed metrics arrive through the listener bus: read them
    // outside the op's wall
    if (error == null) try digest = tracer.span("check", key, opId)(_ => Digest.read(obs))._1
    catch { case e: Throwable => error = s"check: ${e.getClass.getName}: ${e.getMessage}" }
    sc.clearJobGroup()
    opLog.println(Json.obj("op" -> opId, "key" -> key, "cls" -> cls, "pass" -> pass,
      "start_s" -> start, "wall_s" -> wall, "build_s" -> build, "plan_s" -> plan,
      "exec_s" -> exec, "digest" -> Option(digest), "error" -> Option(error)))
    if (error != null) System.err.println(s"[perfbench] $opId $key FAILED: $error")
  }

  /** Closed loop, one client: one untimed call of every pool key
    * (`pool.txt`), then every op of the seeded sequence in `ops.txt`. */
  def olapMix(): Unit = {
    (1 to 3).foreach(_ => setUp(batchProbe))
    lines("pool.txt").zipWithIndex.foreach { case (k, i) => runOp(f"w$i%04d", k, "warmup", "warmup") }
    lines("ops.txt").zipWithIndex.foreach { case (line, i) =>
      val Array(cls, key) = line.split(" ")
      runOp(f"o$i%04d", key, cls, "timed")
    }
    finish()
  }

  /** Closed loop over the heavy keys: an untimed pass on session A, then a
    * timed cold pass on a fresh session B (every shared-frame cache is
    * rebuilt, the JIT is already warm), then timed warm passes on B. */
  def pipelineHeavy(): Unit = {
    val keys = lines("keys.txt")
    def pass(p: String, n: Int): Unit =
      keys.zipWithIndex.foreach { case (k, i) => runOp(f"$p$n%02d_$i%02d", k, "heavy", p) }
    setUp(batchProbe)
    setUp(batchProbe)
    pass("warmup", 0)
    setUp(batchProbe)
    val deadline = now + seconds
    pass("cold", 0)
    var n = 0
    while (n < 2 || now < deadline) { n += 1; pass("warm", n) }
    finish()
  }

  /** Untimed: each listed key's output and digest, plus the oracle SQL of
    * those that have one, laid out for `tools/check.py`. */
  def digests(): Unit = {
    setUp(batchProbe)
    val keys = lines("keys.txt")
    val oracle = keys.distinct.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    Files.createDirectories(Paths.get(s"$outDir/out"))
    Files.writeString(Paths.get(s"$outDir/out/oracle_sql.json"), Json.obj(oracle: _*))
    keys.foreach { k =>
      runOp(k, k, "digest", "digest")
      try SparkEntry.queries(k)(spark, fixture).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/out/$k")
      catch { case e: Throwable => System.err.println(s"[perfbench] $k output: $e") }
    }
    finish()
  }

  /** Used heap after a forced GC, with the measured session still alive so
    * anything it pinned is counted. */
  def finish(): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def close(): Unit = {
    opLog.close()
    if (spark != null) {
      if (traced) org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      spark.stop()
    }
    val run = new PrintWriter(s"$outDir/run.json")
    run.println(Json.obj((Seq(
      "setup_s" -> setups, "live_heap_mb" -> heapMb,
      "confs" -> Json.Raw(Json.obj(confs: _*)),
      "master" -> s"local[$cores]",
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0) ++ extra.toSeq): _*))
    run.close()
    if (traced) {
      val sp = new PrintWriter(s"$outDir/spans.jsonl")
      tracer.jsonLines(origin).foreach(sp.println)
      sp.close()
      val cn = new PrintWriter(s"$outDir/counters.jsonl")
      counters.jsonLines.foreach(cn.println)
      cn.close()
    }
  }
}
