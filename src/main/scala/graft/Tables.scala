package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._

/** Fixture-table load recipes (SURVEY.md §1.2).
  *
  * The only non-trivial load is `events`: its `ts` column is parquet
  * TIMESTAMP(NANOS), which Spark 4.x refuses outright
  * ([PARQUET_TYPE_ILLEGAL]). We read it as a raw long
  * (`spark.sql.legacy.parquet.nanosAsLong=true`) and truncate ns→µs with
  * INTEGER division — `ts div 1000` — matching DuckDB's internal µs
  * truncation exactly. (A double-based `col/1000` would lose precision:
  * 2024 epochs are ~1.7e18 ns, beyond double's 2^53 integer range, and
  * round-trips off by ±1µs for a noticeable fraction of rows.)
  *
  * Schemas are resolved once per session: the first read of a path
  * infers its parquet schema (a one-task footer job), every later read
  * passes that schema in, so it gets fresh attributes and a fresh file
  * listing but launches no job. A cached schema is dropped when the
  * path's files change (names, lengths, modification times) or when a
  * conf that changes parquet inference does ([[inferenceConfs]]).
  */
object Tables {
  /** Runtime confs every session needs before the first `events` read. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** The session confs that change what parquet schema inference
    * returns for the same files. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** A path's files (name, length, modification time) plus the values
    * of [[inferenceConfs]]: a cached schema holds while this is equal. */
  private type Stamp = (Vector[(String, Long, Long)], Seq[Option[String]])

  /** One resolved path: the inferred schema, valid while its stamp is
    * unchanged, and its row count, computed on first ask. */
  private final class Resolved(val stamp: Stamp, val schema: StructType,
                               count: () => Long) {
    lazy val rows: Long = count()
  }

  /** Keyed by (session, path) under the shared [[ops.Util.purged]]
    * eviction rule, so a stopped session's entries are dropped and a
    * fresh session never reuses them. One entry per path: a rewrite or
    * a conf flip replaces it. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Resolved]

  private def stamp(s: SparkSession, path: String): Stamp = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // getFileStatus/listStatus, not listFiles: a LocatedFileStatus loads
    // owner and permissions, which costs ~3 ms per file on the local FS
    // against ~0.02 ms for the plain status
    def files(st: org.apache.hadoop.fs.FileStatus): Vector[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toVector.flatMap(files)
      else Vector((st.getPath.toString, st.getLen, st.getModificationTime))
    (files(fs.getFileStatus(p)).sortBy(_._1), inferenceConfs.map(s.conf.getOption))
  }

  private def resolve(s: SparkSession, path: String): Resolved = {
    configure(s)
    val now = stamp(s, path)
    ops.Util.purged(resolved).compute((s, path), (_, old) =>
      if (old != null && old.stamp == now) old
      else {
        val schema = s.read.parquet(path).schema
        new Resolved(now, schema, () => s.read.schema(schema).parquet(path).count())
      })
  }

  /** The paths `s` holds a resolved schema for (eviction checks). */
  private[graft] def cachedPaths(s: SparkSession): Set[String] =
    resolved.keySet.asScala.collect { case (k, path) if k eq s => path }.toSet

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(resolve(spark, path).schema).parquet(path)
    // Driver fixture sets store ts as TIMESTAMP(NANOS) → read as raw
    // ns longs (nanosAsLong) and µs-truncate; the locally generated
    // sf1 set already stores TIMESTAMP(µs) (Spark can't write nanos),
    // which reads as a timestamp directly — same values either way.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Session-scoped fixture row counts — the stand-in for catalog
    * statistics (a real deployment reads these from the metastore, not
    * by re-scanning). Used by the size-gated broadcast sites to derive
    * their estRows: a parquet count() is metadata-cheap but still a
    * job, and every gated operator re-paying it per invocation is pure
    * overhead. Held on the path's resolved entry, so it shares the
    * schema's session scope and invalidation. */
  def rowCount(s: SparkSession, sf: String, name: String): Long =
    resolve(s, s"$sf/$name.parquet").rows

  def lineitem(s: SparkSession, sf: String): DataFrame = table(s, sf, "lineitem")
  def orders(s: SparkSession, sf: String): DataFrame   = table(s, sf, "orders")
  def customer(s: SparkSession, sf: String): DataFrame = table(s, sf, "customer")
  def supplier(s: SparkSession, sf: String): DataFrame = table(s, sf, "supplier")
  def part(s: SparkSession, sf: String): DataFrame     = table(s, sf, "part")
  def nation(s: SparkSession, sf: String): DataFrame   = table(s, sf, "nation")
  def region(s: SparkSession, sf: String): DataFrame   = table(s, sf, "region")
  def events(s: SparkSession, sf: String): DataFrame   = table(s, sf, "events")
  def documents(s: SparkSession, sf: String): DataFrame  = table(s, sf, "documents")
  def embeddings(s: SparkSession, sf: String): DataFrame = table(s, sf, "embeddings")
}
