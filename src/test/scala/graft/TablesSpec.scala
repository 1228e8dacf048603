package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables` resolves each path's parquet schema once per session: same
  * schema as an inferring read, no job on a repeat read, fresh
  * attributes per call, and a cached schema that a rewrite, an
  * inference conf or a stopped session invalidates. */
class TablesSpec extends SparkSpec {

  private val fixtures = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs, counted with a listener. A
    * fence job after `body` proves every earlier job start was
    * delivered (the listener bus keeps order). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val phase = "graft.tablesSpec.phase"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(phase)).orNull match {
          case "body" => jobs.incrementAndGet()
          case "fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phase, "body")
      body
      sc.setLocalProperty(phase, "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
    } finally {
      sc.setLocalProperty(phase, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("every fixture table has the schema of an inferring read plus the ts recipe") {
    fixtures.foreach { name =>
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      val expected =
        if (name == "events" && plain.schema("ts").dataType == LongType)
          plain.withColumn("ts", timestamp_micros(expr("ts div 1000"))).schema
        else plain.schema
      assert(Tables.table(spark, sf, name).schema == expected, s"$name schema differs")
    }
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }

  test("a repeat read in one session starts no Spark job") {
    val dir = Files.createTempDirectory("graft_tables_jobs").toString
    Files.copy(Paths.get(s"$sf/nation.parquet"), Paths.get(s"$dir/t.parquet"))
    assert(jobsDuring(Tables.table(spark, dir, "t")) >= 1,
      "the first read of a path infers its schema with a job")
    fixtures.foreach(Tables.table(spark, sf, _))
    assert(jobsDuring(fixtures.foreach(Tables.table(spark, sf, _))) == 0)
    assert(jobsDuring(Tables.table(spark, dir, "t")) == 0)
  }

  test("two reads of one table self-join without ambiguity") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty, "each read must get fresh attributes")
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_totalprice"))
    assert(joined.count() == a.count())
  }

  test("a rewritten path is inferred again") {
    val dir = Files.createTempDirectory("graft_tables_rewrite").toString
    // a Spark-written directory, overwritten with another schema
    spark.range(3).toDF("a").write.parquet(s"$dir/d.parquet")
    assert(Tables.table(spark, dir, "d").schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    assert(Tables.table(spark, dir, "d").schema.fieldNames.toSeq == Seq("b", "c"))
    assert(Tables.rowCount(spark, dir, "d") == 3)
    // a single fixture file replaced in place
    val f = Paths.get(s"$dir/f.parquet")
    Files.copy(Paths.get(s"$sf/nation.parquet"), f)
    assert(Tables.table(spark, dir, "f").schema ==
      spark.read.parquet(s"$sf/nation.parquet").schema)
    assert(Tables.rowCount(spark, dir, "f") == Tables.rowCount(spark, sf, "nation"))
    Files.copy(Paths.get(s"$sf/region.parquet"), f, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.table(spark, dir, "f").schema ==
      spark.read.parquet(s"$sf/region.parquet").schema)
    assert(Tables.rowCount(spark, dir, "f") == Tables.rowCount(spark, sf, "region"))
  }

  test("flipping inferTimestampNTZ.enabled gives the new schema") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    assert(Tables.orders(spark, sf).schema("o_orderdate").dataType == TimestampType)
    try {
      spark.conf.set(key, "true")
      assert(Tables.orders(spark, sf).schema("o_orderdate").dataType == TimestampNTZType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Tables.orders(spark, sf).schema("o_orderdate").dataType == TimestampType)
  }

  test("a write read-back with the written schema equals an inferring read") {
    val dir = Files.createTempDirectory("graft_tables_readback").toString + "/out"
    val meta = new MetadataBuilder().putString("origin", "spec").build()
    val written = spark.range(5).select(
      col("id"),
      col("id").cast("int").as("i", meta),
      col("id").cast("byte").as("b"),
      col("id").cast("short").as("sh"),
      col("id").cast(ops.Util.D).as("dec"),
      (col("id") / 3).as("dbl"),
      concat(lit("k"), col("id")).as("str"),
      lit(true).as("flag"),
      lit("x").cast("binary").as("bin"),
      expr("timestamp_micros(id)").as("ts"),
      expr("timestamp_ntz'2024-01-01 00:00:00'").as("ts_ntz"),
      expr("date'2024-01-01'").as("day"),
      array(col("id").cast("float")).as("vec"),
      struct(col("id").as("x"), lit("y").as("y")).as("st"),
      map(lit("k"), col("id")).as("m"))
    assert(!written.schema("id").nullable, "the spec needs a non-nullable column")
    written.write.mode("overwrite").parquet(dir)
    val back = ops.Util.readBack(spark, written, dir)
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  // Last in the suite: it stops the shared session (SparkSpec rebuilds it).
  test("a stopped session's entries are evicted") {
    val old = spark
    Tables.nation(old, sf)
    assert(Tables.cachedPaths(old).contains(s"$sf/nation.parquet"))
    old.stop()
    val fresh = SparkSpec.session
    assert(fresh ne old)
    assert(Tables.nation(fresh, sf).count() == Tables.rowCount(fresh, sf, "nation"))
    assert(Tables.cachedPaths(old).isEmpty, "a stopped session's schemas must be purged")
    assert(Tables.cachedPaths(fresh) == Set(s"$sf/nation.parquet"))
  }
}
