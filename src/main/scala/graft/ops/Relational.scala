package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Util.{dsum, morton}

/** SURVEY.md §2.1–2.2 (scans/filters), §2.6 (sort/top-k), §2.7 (set ops).
  *
  * Scale notes (100 TB): every query here is a single scan + narrow
  * transforms — no shuffle except where an orderBy is semantically
  * required for the deterministic output contract. Filters and column
  * pruning push into the Parquet reader (verified via explain:
  * PushedFilters / ReadSchema).
  */
object Relational {

  // ---- §2.1 scans / sources / sinks ----

  /** Full-scan projection; column pruning reaches the parquet reader. */
  def qScanParquet(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Predicate + projection pushdown: at 100 TB the date filter skips
    * whole row groups via parquet min/max stats. */
  def qScanPushdown(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .where(col("l_shipdate") <= lit("1995-06-30").cast("timestamp") &&
             col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  /** JSON field extraction from the events.props string column. */
  def qScanJsonCol(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .select(col("event_id"),
              get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** CSV source: header + explicit schema (never inferSchema at scale —
    * inference is a full extra pass over the data). Roundtrip through
    * /tmp so the op exercises both the writer and the reader; the
    * oracle aggregates the original table (the format is an execution
    * detail). */
  def qSourceCsv(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("supplier_csv", sf)
    Tables.supplier(s, sf)
      .select("s_suppkey", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").option("header", "true").csv(dir)
    s.read
      .schema("s_suppkey LONG, s_nationkey LONG, s_acctbal DOUBLE")
      .option("header", "true")
      .csv(dir)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"), dsum(col("s_acctbal")).as("total_bal"))
      .orderBy("s_nationkey")
  }

  /** JSON-lines source with an explicit schema (same no-inference rule
    * as CSV; a malformed line lands in the PERMISSIVE null row rather
    * than failing the scan). */
  def qSourceJsonl(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("customer_jsonl", sf)
    Tables.customer(s, sf)
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").json(dir)
    s.read
      .schema("c_custkey LONG, c_nationkey LONG, c_acctbal DOUBLE")
      .json(dir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** Sink roundtrip: write a table to parquet, read it back. */
  def qSinkParquet(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("nation", sf)
    val nation = Tables.nation(s, sf)
    nation.write.mode("overwrite").parquet(dir)
    Util.readBack(s, nation, dir).orderBy("n_nationkey")
  }

  /** Hive-style partitioned sink + partition-pruned read-back: the
    * 100 TB layout move (one directory per o_orderstatus; a status
    * filter afterwards prunes whole directories — `PartitionFilters`
    * in the scan, zero data files touched for excluded statuses). */
  def qSinkPartitioned(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("orders_by_status", sf)
    Tables.orders(s, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .where(col("o_orderstatus") =!= "P") // prunes the P directory
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Schema evolution read — the 100 TB lake reality that a table's
    * files span writer generations: generation 1 wrote (doc_id, lang),
    * generation 2 added n_chars. `mergeSchema` unions the footers and
    * fills the missing column with NULL for old files; the aggregate
    * then audits coverage per lang (rows, rows carrying the new
    * column, coalesced sum). Generation membership is the md5 bucket
    * (≤ '7' → old writer), so the oracle can state the same result
    * directly from the fixture. */
  def qScanMergeSchema(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("docs_evolving", sf)
    val bucket = Util.md5Bucket(col("doc_id"))
    val d = Tables.documents(s, sf)
    d.where(bucket <= "7").select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    d.where(bucket > "7").select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
           // generation membership re-derived from the SAME bucket
           // expression that routed the write — not from n_chars
           // nullness, which would silently couple parity to the
           // fixture never having NULL n_chars
           sum(when(bucket > "7", 1L).otherwise(0L)).as("n_new_schema"),
           sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
      .orderBy("lang")
  }

  /** Small-file compaction — the lake-maintenance op every long-running
    * ingest needs: a fragmented table (64 tiny files here, the
    * micro-batch-per-file pathology) is rewritten as a few right-sized
    * files via a coalesced write, then AUDITED: same per-type counts
    * and exact value sums, file count actually reduced (asserted
    * in-query — the output row carries both file counts). coalesce(4)
    * not repartition(4): compaction must not shuffle, only concatenate
    * partitions on read. */
  def qSinkCompact(s: SparkSession, sf: String): DataFrame = {
    // per-(JVM, sf) scratch dir, OVERWRITTEN each invocation: a fixed
    // shared path would let concurrent JVMs (verify + bench + tests)
    // interleave overwrite-writes and read each other's half-written
    // layouts, while a fresh temp dir per call leaked one RAM-backed
    // parquet copy of events per invocation on the tmpfs scratch
    // (round-7 ADVICE) — the pid key gives isolation, the fixed name
    // gives boundedness. Dirs left by dead JVMs are swept on entry.
    val root = java.nio.file.Paths.get(Util.scratchRoot)
    java.nio.file.Files.createDirectories(root)
    Util.sweepDeadPidDirs(root.toFile, "graft_sink_compact")
    val base = Util.sinkDir(
      s"graft_sink_compact_p${ProcessHandle.current().pid()}", sf)
    val frag = s"$base/events_fragmented"
    val compact = s"$base/events_compacted"
    val e = Tables.events(s, sf).select("event_id", "event_type", "value")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    Util.readBack(s, e, frag).coalesce(4).write.mode("overwrite").parquet(compact)
    def nFiles(dir: String): Long =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".parquet")).toLong
    Util.readBack(s, e, compact)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .withColumn("n_files_before", lit(nFiles(frag)))
      // ≤ 4, not == 4: the compaction read may pack 64 tiny files into
      // fewer than 4 partitions already, and coalesce never raises the
      // count — the invariant is the CEILING, which the oracle can state
      .withColumn("compaction_ok",
        lit(if (nFiles(compact) >= 1 && nFiles(compact) <= 4) 1L else 0L))
      .orderBy("event_type")
  }

  /** Dynamic partition pruning — the at-scale scan feature static
    * pruning can't reach: the fact side is partitioned by status, the
    * probe-side filter lives on a DIMENSION (here a filtered status
    * spine), and Catalyst injects a runtime `dynamicpruning` subquery
    * into the fact scan's PartitionFilters so non-qualifying
    * directories are never read (pinned in PlanShapeSpec). At 100 TB
    * this is the difference between scanning one partition and all of
    * them whenever the partition predicate arrives via a join. */
  def qScanDpp(s: SparkSession, sf: String): DataFrame = {
    // per-sf dir, rewritten UNCONDITIONALLY per invocation like every
    // other sink op: an exists-cache here would pin the verified output
    // to a previous fixture generation (the oracle always reads the
    // fresh fixture) and race concurrent JVMs into a corrupted layout
    // that the guard then makes permanent. The write is ~0.3 s.
    val dir = Util.sinkDir("orders_by_status_dpp_") +
      sf.replaceAll("[^a-zA-Z0-9.]", "_")
    Tables.orders(s, sf)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    // two constraints shape this dim (both observed empirically):
    //  - a literal filter ON the join key ('st = F') gets transitively
    //    constant-folded into a STATIC partition filter — DPP never
    //    fires because Catalyst already pruned at plan time;
    //  - a literal-free predicate (cnt*4 > tot) fails Catalyst's
    //    isLikelySelective heuristic — no DPP either.
    // A literal filter on a NON-join column (high-value orders) is the
    // shape DPP exists for: which partitions qualify is only known at
    // runtime, and the scan gets a `dynamicpruning` subquery filter.
    val dim = Tables.orders(s, sf)
      .where(col("o_totalprice") > 400000.0)
      .select(col("o_orderstatus").as("st")).distinct()
    s.read.parquet(dir)
      .join(dim, col("o_orderstatus") === col("st"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  // ---- §2.2 projection / filter ----

  def qProjectExpr(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
              (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
              concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("line_id"))
      .orderBy("l_orderkey", "l_linenumber")

  def qFilterConj(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .where((col("o_totalprice") > 150000 && col("o_orderstatus") === "O") ||
             (!(col("o_orderpriority") === "1-URGENT") && col("o_totalprice") < 20000))
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")

  def qFilterIn(s: SparkSession, sf: String): DataFrame =
    Tables.part(s, sf)
      .where(col("p_size").isin(1, 5, 9, 23, 36, 42, 49) &&
             col("p_brand").isin("Brand#1", "Brand#7", "Brand#13",
                                 "Brand#20", "Brand#22", "Brand#5"))
      .select("p_partkey", "p_brand", "p_size")
      .orderBy("p_partkey")

  def qFilterLike(s: SparkSession, sf: String): DataFrame =
    Tables.part(s, sf)
      .where(col("p_name").like("%bolt%") ||
             col("p_type").rlike("^(ECO|PRO)"))
      .select("p_partkey", "p_name", "p_type")
      .orderBy("p_partkey")

  def qFilterBetween(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .where(col("ts").between(lit("2024-01-10 00:00:00").cast("timestamp"),
                               lit("2024-01-20 00:00:00").cast("timestamp")) &&
             col("value").between(50, 150))
      .select("event_id", "ts", "value")
      .orderBy("event_id")

  /** Three-valued logic: NULLIF-made nulls, COALESCE, null-safe equality. */
  def qFilterNullSemantics(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
              coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag"),
              (nullif(col("l_returnflag"), lit("A")) <=> nullif(col("l_linestatus"), lit("F"))).as("nse"))
      .where(col("l_linenumber") <= 3)
      .orderBy("l_orderkey", "l_linenumber")

  // ---- §2.6 sort / top-k ----

  /** Multi-key sort with an explicitly null-producing key, NULLS LAST. */
  def qSortMulti(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .select(col("o_orderkey"),
              nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")).as("prio"),
              col("o_totalprice"))
      .orderBy(asc_nulls_last("prio"), desc("o_totalprice"), asc("o_orderkey"))

  /** Global top-k: TakeOrderedAndProject (per-partition heap — no full
    * sort, no single-node shuffle of the whole table at 100 TB). */
  def qTopkGlobal(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  /** Top-3 orders per customer via ranked window. */
  def qTopkPerGroup(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(s, sf)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  // ---- §2.7 set operations ----

  def qUnionAll(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
      .select(col("c_name").as("name"), col("c_nationkey").as("nationkey"),
              col("c_acctbal").as("acctbal"))
    val su = Tables.supplier(s, sf)
      .select(col("s_name").as("name"), col("s_nationkey").as("nationkey"),
              col("s_acctbal").as("acctbal"))
    c.unionByName(su).orderBy("name")
  }

  def qUnionDistinct(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf).select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, sf).select(col("s_nationkey").as("nationkey"))
    c.union(su).distinct().orderBy("nationkey")
  }

  def qIntersect(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
      .where(col("c_acctbal") > 9000).select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, sf)
      .where(col("s_acctbal") > 0).select(col("s_nationkey").as("nationkey"))
    c.intersect(su).orderBy("nationkey")
  }

  /** Orderkeys present in lineitem whose order is not open/pending —
    * guaranteed non-empty (status 'F' exists at every sf). */
  def qExcept(s: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(s, sf).select(col("l_orderkey").as("orderkey")).distinct()
    val o = Tables.orders(s, sf).where(col("o_orderstatus") =!= "F")
      .select(col("o_orderkey").as("orderkey"))
    l.except(o).orderBy("orderkey")
  }

  /** EXCEPT ALL — multiset difference (completes §2.7's bag algebra):
    * each orderkey survives (its lineitem multiplicity − its orders
    * multiplicity) times, so multi-line orders keep n−1 copies where
    * the DISTINCT variant would drop them entirely. Planned as one
    * count-per-key aggregate + generate, not a sort-based dedup. */
  def qExceptAll(s: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(s, sf).select(col("l_orderkey").as("orderkey"))
    val o = Tables.orders(s, sf).select(col("o_orderkey").as("orderkey"))
    l.exceptAll(o).orderBy("orderkey")
  }

  /** INTERSECT ALL — multiset intersection: min(multiplicity) copies
    * of each nation key across the two account-filtered sides. */
  def qIntersectAll(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
      .where(col("c_acctbal") > 5000).select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, sf)
      .where(col("s_acctbal") > 0).select(col("s_nationkey").as("nationkey"))
    c.intersectAll(su).orderBy("nationkey")
  }

  /** CDC MERGE / upsert as a plain-parquet pattern: apply an update
    * batch (derived deterministically here: every 97th order escalates
    * to status 'X' with a 10% price bump) to the base snapshot via one
    * FULL OUTER join + field coalesce — matched rows take the update,
    * unmatched keep the base, insert-only rows (none in this batch)
    * would pass through the update side. This is the merge shape
    * `foreachBatch` sinks run at scale when no table format provides
    * MERGE INTO; the join shuffles on the key both sides and AQE
    * broadcast-converts when the update batch is small (it usually is).
    * Output: post-merge per-status accounting. */
  def qUpsertSnapshot(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.orders(s, sf)
    val updates = base.where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("u_key"),
              lit("X").as("u_status"),
              (col("o_totalprice") * lit(1.1)).as("u_price"))
    base.join(updates, col("o_orderkey") === col("u_key"), "full_outer")
      .select(coalesce(col("o_orderkey"), col("u_key")).as("okey"),
              coalesce(col("u_status"), col("o_orderstatus")).as("status"),
              coalesce(col("u_price"), col("o_totalprice")).as("price"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("price")).as("total_price"))
      .orderBy("status")
  }

  /** SCD Type-2 history build from a change stream — the dimension-
    * maintenance staple: per user, consecutive runs of the same state
    * (event_type as the tracked attribute) compress to one versioned
    * row with `valid_from_us` / `valid_to_us` (next version's start;
    * NULL = current row, the open interval). The gaps-and-islands
    * recipe in its scale-safe form: ONE (user_id) window shuffle
    * computes the change flag and the running version number, a hash
    * agg folds runs, and the `valid_to` back-fill is a second window
    * over the already-compressed run table (≈#changes rows, strictly
    * smaller than the input). Timestamps surface as exact integer
    * epoch-µs — no timestamp-precision cross-engine hazard. At 100 TB
    * this is the standard CDC-compaction shape: everything is keyed by
    * the entity id, so the whole history build is one hash-partitioned
    * pass with per-key sorted windows. */
  def qCdcScd2(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(w)
    val chg = when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L)
    val runs = Tables.events(s, sf)
      .withColumn("version", sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
           expr("unix_micros(min(ts))").as("valid_from_us"),
           count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy("user_id").orderBy(col("version"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("version"), col("state"),
              col("valid_from_us"), col("valid_to_us"),
              col("n_events"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** Column profiler — the ANALYZE/data-quality audit every ingest runs
    * before a table goes live: per column, row count, NULL count, exact
    * distinct count, and min/max (numerics + timestamps as DOUBLE —
    * epoch-µs fits exactly in a double's 2^53 integer range; strings in
    * their own columns).
    *
    * Shape: one COLUMN-PRUNED pass PER COLUMN, unioned — each branch
    * scans exactly one parquet column (columnar storage makes the 7
    * branches together read ~the same bytes as one full scan), partial-
    * aggregates `groupBy(value)` map-side, shuffles only the per-column
    * DISTINCT VALUES (tiny), and folds to one row. All branches live in
    * ONE union so they schedule as one job, stages overlapping. This
    * replaced the single-pass 7-way multi-distinct (Catalyst Expand)
    * formulation: the ×7 row amplification shuffled 7 copies of the
    * table and was the profiler's whole cost (5.7 s → ~1 s at sf0.1);
    * per-column passes are also the shape that survives 100 TB, where
    * an Expand of the full fact table is 700 TB of shuffle. The fixture
    * has no NULLs anywhere, so the profiled projection DECLARES one
    * derived column (`nullif(o_orderstatus,'F')`) to exercise NULL
    * accounting. */
  def qProfileColumns(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.orders(s, sf)
      .withColumn("status_nf", expr("nullif(o_orderstatus, 'F')"))
    val num = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val str = Seq("o_orderstatus", "o_orderpriority", "status_nf")
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    sealed trait Kind; object KNum extends Kind; object KDate extends Kind; object KStr extends Kind
    def pass(c: String, kind: Kind): DataFrame = {
      // distinct values + multiplicities: the partial agg runs in the
      // scan tasks, so only |distinct| rows shuffle
      val perVal = base.select(col(c).as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      val (minD, maxD, minS, maxS) = kind match {
        case KNum => (min(col("v")).cast("double"), max(col("v")).cast("double"), nullS, nullS)
        // o_orderdate reads as TIMESTAMP_NTZ; session tz is UTC so the
        // cast to TIMESTAMP is identity and unix_micros mirrors epoch_us.
        case KDate => (unix_micros(min(col("v")).cast("timestamp")).cast("double"),
                       unix_micros(max(col("v")).cast("timestamp")).cast("double"), nullS, nullS)
        case KStr => (nullD, nullD, min(col("v")), max(col("v")))
      }
      perVal.agg(
          sum(col("cnt")).as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
          minD.as("min_d"), maxD.as("max_d"), minS.as("min_s"), maxS.as("max_s"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
                col("n_distinct"), col("min_d"), col("max_d"),
                col("min_s"), col("max_s"))
    }
    (num.map(pass(_, KNum)) ++ Seq(pass("o_orderdate", KDate)) ++ str.map(pass(_, KStr)))
      .reduce(_ unionAll _)
      .orderBy("col_name")
  }

  /** ORC source round-trip — the second columnar lake format (Spark's
    * native ORC reader is vectorized with predicate pushdown and column
    * pruning, same as parquet). Write once from the fixture, read back
    * with a pushed `p_size` filter and a pruned 3-column projection,
    * aggregate. The oracle states the identical result straight from
    * the parquet fixture — the format must be a lossless carrier. */
  /** Z-order clustered layout (the multi-dimensional generalization of
    * `q_sink_partitioned`'s single-column layout): events range-
    * partitioned and sorted by the Morton interleave of (user_id,
    * epoch-day), one file per range — so per-file min/max stats
    * constrain BOTH dimensions at once, and a range predicate on
    * either column (or both) skips files. A user-sorted layout serves
    * user predicates only: every file spans the whole month, so a
    * day-window scan reads all of them; the z-order layout reads ~half
    * (property-tested: 9/16 vs 16/16 files at sf0.001). The graded
    * query is the read-back day-window aggregate — layout must not
    * change results, only which files a scan touches. */
  def qSinkZorder(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("events_zorder", sf)
    val ev = Tables.events(s, sf)
    // morton interleaves LOW 16 bits only — min/max-scale both
    // dimensions into the 2^16 domain first, or a user_id past 65535
    // would alias modulo 2^16 and silently stop co-clustering that
    // dimension (results stay right; pruning degrades). The stats pass
    // is one tiny agg — the same range scan a lakehouse OPTIMIZE
    // ZORDER performs before clustering.
    val st = ev.agg(
      min(col("user_id")), max(col("user_id")),
      min(expr("unix_micros(ts) div 86400000000")),
      max(expr("unix_micros(ts) div 86400000000"))).head()
    val (uLo, uSpan) = (st.getLong(0), math.max(1L, st.getLong(1) - st.getLong(0)))
    val (dLo, dSpan) = (st.getLong(2), math.max(1L, st.getLong(3) - st.getLong(2)))
    val clustered = ev
      .withColumn("u16", expr(s"((user_id - $uLo) * 65535) div $uSpan"))
      .withColumn("d16",
        expr(s"(((unix_micros(ts) div 86400000000) - $dLo) * 65535) div $dSpan"))
      .withColumn("z", morton(col("u16"), col("d16")))
      .drop("u16", "d16")
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
    clustered.write.mode("overwrite").parquet(dir)
    Util.readBack(s, clustered, dir)
      .where(col("ts") >= lit("2024-01-11").cast("timestamp") &&
             col("ts") < lit("2024-01-21").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  /** The from-scratch DataSource V2 connector, graded end-to-end
    * ([[graft.sources.TelemetrySource]] — deterministic telemetry
    * generator with FILTER PUSHDOWN and COLUMN PRUNING): the series
    * range predicate narrows generation at the source (16 of 64
    * series ever materialize) and only (series_id, value) is read.
    * The oracle reproduces the pure-integer generator with
    * `generate_series`, so the connector sits under the same hash
    * gate as every operator. `sf` is unused — the source IS the data. */
  def qSourceDsv2(s: SparkSession, sf: String): DataFrame =
    s.read.format("graft.sources.TelemetrySource")
      .option("series", "64").option("samples", "100")
      .load()
      .where(col("series_id").between(8, 23))
      .groupBy(col("series_id"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(28,2)")).cast("double").as("total"))
      .orderBy("series_id")

  /** Aggregate pushdown through the DSv2 connector: an ungrouped
    * COUNT/MIN/MAX over the generator's closed-form columns COMPLETE-
    * pushes into the source (zero samples generated — the zone-map
    * answer shape; PlanShapeSpec pins the aggregate's absence from the
    * Spark plan), composed with filter pushdown: the `series_id`
    * range narrows [lo, hi] first, and the pushed aggregate answers
    * over the narrowed range. The oracle states the same closed forms
    * via generate_series. */
  def qSourceDsv2Agg(s: SparkSession, sf: String): DataFrame =
    s.read.format("graft.sources.TelemetrySource")
      .option("series", "64").option("samples", "100")
      .load()
      .where(col("series_id").between(8, 23))
      .agg(count(lit(1)).as("n"),
           min(col("series_id")).as("min_sid"),
           max(col("series_id")).as("max_sid"),
           min(col("sample_idx")).as("min_idx"),
           max(col("sample_idx")).as("max_idx"),
           min(col("ts_us")).as("min_ts"),
           max(col("ts_us")).as("max_ts"))

  /** Limit pushdown through the DSv2 connector (completes the pushdown
    * matrix: filters, columns, aggregates, limit): LIMIT 1234 reaches
    * the source, whose readers stop GENERATING after 1234 rows per
    * partition — against a trillion-sample range that is the
    * difference between a peek and a scan. Partial pushdown (the
    * standard contract): Spark keeps the exact global cut on top. A
    * bare LIMIT's row CHOICE is nondeterministic by definition, so the
    * graded surface is the cardinality; the plan pin
    * (PlanShapeSpec) asserts the limit reached the scan. */
  def qSourceDsv2Limit(s: SparkSession, sf: String): DataFrame =
    s.read.format("graft.sources.TelemetrySource")
      .option("series", "64").option("samples", "100")
      .load()
      .limit(1234)
      .agg(count(lit(1)).as("n"))

  /** DSv2 WRITE path round-trip (round 8 — completes the connector
    * matrix: the read half covered filters/columns/aggregates/limit,
    * nothing wrote through V2). The MERGE-shaped upsert
    * (`q_upsert_snapshot`'s full-outer coalesce rule) is PUBLISHED
    * through the connector's `SupportsWrite`/`BatchWrite`:
    * mode("overwrite") arrives as OverwriteByExpression(AlwaysTrue) →
    * SupportsOverwrite → TRUNCATE+APPEND (the atomic snapshot swap a
    * warehouse MERGE ends with), then a late-delta batch goes through
    * the same protocol as a plain APPEND, and the readback runs
    * through the store table's V2 scan with column pruning. Graded by
    * the same hash gate as every operator: the oracle recomputes
    * merge ∪ delta in SQL — any lost/duplicated/reordered-then-
    * mis-published row under the distributed commit protocol breaks
    * the hash. PlanShapeSpec pins the OverwriteByExpressionExec /
    * AppendDataExec nodes and the truncate-vs-append commit kinds.
    * Store key is per-(JVM, sf): concurrent verify/bench/test JVMs
    * never interleave publishes. */
  def qSourceDsv2Write(s: SparkSession, sf: String): DataFrame = {
    val fmt = "graft.sources.TelemetrySource"
    val ddl = "okey BIGINT, status STRING, price DOUBLE"
    val key = s"upsert_p${ProcessHandle.current().pid()}_" +
      sf.replaceAll("[^a-zA-Z0-9.]", "_")
    val base = Tables.orders(s, sf)
    val updates = base.where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("u_key"),
              lit("X").as("u_status"),
              (col("o_totalprice") * lit(1.1)).as("u_price"))
    val merged = base.join(updates, col("o_orderkey") === col("u_key"), "full_outer")
      .select(coalesce(col("o_orderkey"), col("u_key")).as("okey"),
              coalesce(col("u_status"), col("o_orderstatus")).as("status"),
              coalesce(col("u_price"), col("o_totalprice")).as("price"))
    merged.write.format(fmt).option("store", key).option("ddl", ddl)
      .mode("overwrite").save()
    val delta = base.where(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey").as("okey"), lit("L").as("status"),
              col("o_totalprice").as("price"))
    delta.write.format(fmt).option("store", key).option("ddl", ddl)
      .mode("append").save()
    s.read.format(fmt).option("store", key).option("ddl", ddl).load()
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("price")).as("total_price"))
      .orderBy("status")
  }

  /** Sequence-continuity audit — dropped-message detection on a
    * monotonically-assigned id (the ingest invariant "no event ids
    * vanished between producer and table"): global min/max/count give
    * the expected-density check, consecutive-id deltas count the gap
    * runs and the widest one. ALL-INTEGER.
    *
    * Scale shape (round-13): the old plan lagged over ONE
    * unpartitioned window — a single task sorting every id at any
    * scale. Now ids bucket by VALUE range (bucket = (id−min) div w,
    * w sized so ≤4096 buckets — a pure function of the row, so the
    * two passes can never disagree on membership and nothing needs a
    * checkpoint), the lag window runs partition-LOCAL per bucket, and
    * the ≤4096-row per-bucket (min,max) frame — CONSTANT-sized by
    * construction, the one annotated driver collect — stitches the
    * cross-bucket boundary gaps. Value bucketing is skew-safe here
    * because distinct ids in a width-w value range are ≤ w rows, and
    * near-density is the audit's own premise (the missing fraction is
    * what it measures); a span-inflating outlier id degrades bucket
    * COUNT, not correctness. */
  def qAuditSequenceGaps(s: SparkSession, sf: String): DataFrame = {
    val ids = Tables.events(s, sf).select(col("event_id"))
    val span = ids.agg(min(col("event_id")).as("min_id"),
                       max(col("event_id")).as("max_id"),
                       count(lit(1)).as("n_rows"))
    val w = Util.idiv(col("max_id") - col("min_id"), lit(4096L)) + lit(1L)
    val bucketed = ids.crossJoin(broadcast(span))
      .withColumn("bkt", Util.idiv(col("event_id") - col("min_id"), w))
    val wB = Window.partitionBy("bkt").orderBy("event_id")
    val local = bucketed
      .withColumn("prev", lag(col("event_id"), 1).over(wB))
      .where(col("prev").isNotNull && col("event_id") - col("prev") > 1)
      .agg(count(lit(1)).as("n_gaps"),
           max(col("event_id") - col("prev") - 1).as("widest_gap"))
    // ≤4096 rows by construction — constant-size driver collect; the
    // stitch pairs CONSECUTIVE NON-EMPTY buckets (empties vanish from
    // the groupBy), exactly the adjacencies the bucket-local lag missed
    val edges = bucketed.groupBy(col("bkt"))
      .agg(min(col("event_id")).as("bmn"), max(col("event_id")).as("bmx"))
      .collect()
      .sortBy(_.getLong(0))
    var (bGaps, bWidest) = (0L, 0L)
    edges.sliding(2).foreach {
      case Array(a, b) =>
        val d = b.getLong(1) - a.getLong(2) // next bucket's min − this bucket's max
        if (d > 1) { bGaps += 1; bWidest = math.max(bWidest, d - 1) }
      case _ => ()
    }
    span.crossJoin(local)
      .withColumn("missing",
        col("max_id") - col("min_id") + 1 - col("n_rows"))
      .withColumn("n_gaps", coalesce(col("n_gaps"), lit(0L)) + lit(bGaps))
      .withColumn("widest_gap",
        greatest(coalesce(col("widest_gap"), lit(0L)), lit(bWidest)))
      .select(col("min_id"), col("max_id"), col("n_rows"), col("missing"),
              col("n_gaps"), col("widest_gap"))
  }

  /** Referential-integrity audit between the text and embedding tables
    * — the multimodal-pipeline hygiene check (every doc should have a
    * vector and vice versa; silent drift here poisons joins downstream):
    * FULL OUTER on the key, one row per disposition (matched /
    * doc-only / vector-only) with counts. ALL-INTEGER; one key-shuffle
    * join. */
  def qAuditReferential(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf).select(col("doc_id"))
    val e = Tables.embeddings(s, sf).select(col("vec_id"))
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .withColumn("disposition",
        when(col("doc_id").isNotNull && col("vec_id").isNotNull, "matched")
          .when(col("vec_id").isNull, "doc_only")
          .otherwise("vector_only"))
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n"))
      .orderBy("disposition")
  }

  /** Temporal join against an SCD2 history — the dimensional-modeling
    * query an SCD2 table exists to serve: the dimension is the user's
    * CHANNEL state (runs of click/view touches compressed by the
    * [[qCdcScd2]] gaps-and-islands rule over the touch substream), and
    * every OUTCOME fact (purchase/error/signup) joins the version that
    * was current at its event time (`valid_from ≤ t < valid_to`,
    * half-open on integer µs; NULL `valid_to` = the open current
    * version) — "which channel state were users in when they
    * purchased/errored". Outcomes before any touch have no version
    * and drop (mirrored inner-join rule). The at-scale shape is what
    * makes SCD2 work on a 100 TB fact stream: the join key IS the
    * entity id, so facts and history co-partition on user_id and the
    * interval test is a post-join FILTER over that user's own few
    * versions — no bucket replication, no range explosion. */
  def qJoinScd2AsOf(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val touches = Tables.events(s, sf)
      .where(col("event_type").isin("click", "view"))
    val prev = lag(col("event_type"), 1).over(w)
    val chg = when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L)
    val hist = touches
      .withColumn("version", sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
           expr("unix_micros(min(ts))").as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(
        Window.partitionBy("user_id").orderBy(col("version"))))
      .select(col("user_id"), col("state"),
              col("valid_from_us"), col("valid_to_us"))
    val facts = Tables.events(s, sf)
      .where(col("event_type").isin("purchase", "error", "signup"))
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us"))
    facts.join(hist,
        facts("user_id") === hist("user_id") &&
        col("us") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("us") < col("valid_to_us")))
      .groupBy(col("state"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(facts("user_id")).as("n_users"))
      .orderBy("state", "event_type")
  }

  /** Versioned-snapshot time travel on plain parquet — the poor-man's
    * form of the lakehouse feature this environment can't ship
    * (no Delta/Iceberg jars offline; SURVEY §6): every publish writes
    * a NEW immutable `v=N` directory and flips a tiny manifest file,
    * so readers pin any historical version by path and a crashed
    * publish can never corrupt a served snapshot (the qUpsertSnapshot
    * swap discipline, generalized to retained history). The op
    * publishes v1 (the raw status rollup), publishes v2 (the rollup
    * after the deterministic qUpsertSnapshot update batch), then
    * TIME-TRAVEL READS both through the manifest and emits the
    * version diff — the "what changed between yesterday's snapshot
    * and today's" audit. Counts exact, money on the decimal path;
    * the diff joins two ≤|status|-row frames. */
  def qSinkTimetravel(s: SparkSession, sf: String): DataFrame = {
    // per-sf base (the qScanDpp suffix discipline): the multi-file
    // manifest protocol makes a cross-sf race SILENT — a MANIFEST from
    // one run resolving v= dirs from another yields a wrong-but-
    // plausible diff, not a failure — so the path must never be shared
    val base = Util.sinkDir("orders_tt_") +
      sf.replaceAll("[^a-zA-Z0-9.]", "_")
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("price")).as("total_price"))
    val orders = Tables.orders(s, sf)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
              col("o_totalprice").as("price"))
    val updates = orders.where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("u_key"), lit("X").as("u_status"),
              (col("price") * lit(1.1)).as("u_price"))
    val v2src = orders.join(updates, col("o_orderkey") === col("u_key"), "left")
      .select(coalesce(col("u_status"), col("status")).as("status"),
              coalesce(col("u_price"), col("price")).as("price"))
    rollup(orders).write.mode("overwrite").parquet(s"$base/v=1")
    rollup(v2src).write.mode("overwrite").parquet(s"$base/v=2")
    // manifest flip is the LAST step of a publish: readers resolve
    // versions only through it, so a crash before this line leaves
    // the previous manifest (and every version it names) intact
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/MANIFEST"),
      "current=2\nversions=1,2\n".getBytes("UTF-8"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/MANIFEST")), "UTF-8")
    val cur = manifest.linesIterator.find(_.startsWith("current="))
      .map(_.stripPrefix("current=").trim.toInt)
      .getOrElse(sys.error("manifest missing current version"))
    val curDf = s.read.parquet(s"$base/v=$cur")
      .select(col("status"), col("n_orders").as("n_cur"),
              col("total_price").as("total_cur"))
    val prevDf = s.read.parquet(s"$base/v=${cur - 1}")
      .select(col("status"), col("n_orders").as("n_prev"),
              col("total_price").as("total_prev"))
    prevDf.join(curDf, Seq("status"), "full_outer")
      .select(col("status"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        (coalesce(col("n_cur"), lit(0L)) - coalesce(col("n_prev"), lit(0L)))
          .as("delta_n"))
      .orderBy("status")
  }

  /** Shuffle-key skew audit — the capacity-planning readout a 100 TB
    * deployment runs BEFORE picking join/agg keys: for each candidate
    * shuffle key of the fact stream (user_id, event_type, day), the
    * distinct-key count, the heaviest key's row share (the straggler
    * predictor: one key's share IS the lower bound on that shuffle's
    * critical path), and the Herfindahl concentration of the key
    * distribution — both in 1e-6 fixed point by pure integer/decimal
    * arithmetic (Σn² exact in DECIMAL(38,0), one `div`). Shape: one
    * hash agg per candidate key over the key's own cardinality, folded
    * to a 1-row profile each, 3-row union — the per-key passes share
    * the scan the same way q_profile_columns' per-column passes do. */
  def qAuditKeySkew(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    def profile(keyName: String, key: org.apache.spark.sql.Column): DataFrame =
      e.groupBy(key.cast("string").as("k")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"),
             sum(col("n")).as("n_rows"),
             max(col("n")).as("max_key_rows"),
             sum(col("n").cast(org.apache.spark.sql.types.DataTypes
               .createDecimalType(38, 0)) * col("n")).as("sum_sq"))
        .select(lit(keyName).as("key_col"), col("n_keys"), col("n_rows"),
                col("max_key_rows"),
                expr("1000000 * max_key_rows div n_rows").as("max_share_ppm"),
                expr("""CAST(1000000 * sum_sq
                        div (CAST(n_rows AS DECIMAL(38,0)) * n_rows)
                        AS BIGINT)""").as("hhi_ppm"))
    profile("user_id", col("user_id"))
      .unionByName(profile("event_type", col("event_type")))
      .unionByName(profile("day", expr("unix_micros(ts) div 86400000000")))
      .orderBy("key_col")
  }

  /** `binaryFile` source — how raw media assets actually enter a
    * multimodal pipeline: one opaque file per asset on the lake, read
    * as (path, length, content) rows. One blob per document is written
    * distributedly (`foreach` — executor-side I/O, the media-asset
    * layout), read back through the binaryFile reader, ids recovered
    * from paths, and byte accounting aggregated; the oracle states the
    * same bytes straight from the fixture — the file round-trip must
    * be lossless. Content column is pruned by the scan when unused. */
  def qSourceBinaryfile(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("doc_blobs", sf)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    Tables.documents(s, sf).select(col("doc_id"), col("text"))
      .foreach { row =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, row.getLong(0).toString + ".bin"),
          row.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ()
      }
    s.read.format("binaryFile").load(dir)
      .select(regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
              col("length"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_files"), sum(col("length")).as("total_bytes"))
      .orderBy("bucket")
  }

  /** Dynamic partition overwrite — the incremental-backfill write: a
    * corrected batch for ONE partition must replace exactly that
    * partition and leave every other untouched (static overwrite mode
    * would wipe the whole table — the classic lake foot-gun this
    * option exists to fix). The 'P' partition is rewritten with doubled
    * prices (×2 is exact on any double); the read-back aggregate
    * proves the other partitions survived byte-identical, which is
    * precisely what the oracle's CASE states. */
  def qSinkDynamicOverwrite(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("orders_dyn", sf)
    val base = Tables.orders(s, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("o_orderstatus"))
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val patch = base.where(col("o_orderstatus") === "P")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try patch.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.read.parquet(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Incremental rollup maintenance — the materialized-view pattern a
    * telemetry warehouse lives on (ClickHouse SummingMergeTree /
    * AggregatingMergeTree analog): the standing per-(type, day) rollup
    * absorbs ONE new day by unioning the stored partials with the new
    * day's partial and re-aggregating — raw history is never
    * re-scanned. Exactness of the merge is q_agg_reagg's losslessness
    * (counts and decimal sums are associative), which is why the
    * oracle can state the DIRECT full aggregate. Here both phases run
    * in-query for determinism: build the rollup from days < max(day),
    * then merge day max(day)'s partial and read the result back. */
  def qRollupIncremental(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("rollup_incr", sf)
    val e = Tables.events(s, sf)
      .withColumn("day", date_trunc("day", col("ts")))
    val maxDay = e.agg(max(col("day")).as("maxd"))
    val withMax = e.crossJoin(broadcast(maxDay))
    def partial(df: DataFrame) = df
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(Util.D)).as("sum_dec"))
    // phase 1: the standing rollup (everything before the new day)
    val standing = partial(withMax.where(col("day") < col("maxd")))
    standing.write.mode("overwrite").parquet(dir)
    // phase 2: merge ONE new day's partial into the stored rollup
    val stored = Util.readBack(s, standing, dir)
    val newDay = partial(withMax.where(col("day") === col("maxd")))
    stored.unionByName(newDay)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_events")).as("n_events"),
           sum(col("sum_dec")).cast("double").as("total_value"))
      .orderBy("event_type", "day")
  }

  /** Corrupt-file tolerance — the lake reality that a writer crash or
    * a bad upload leaves a non-parquet blob inside a table directory.
    * A garbage file is planted deterministically next to the real
    * ones; `ignoreCorruptFiles` makes the scan skip what it cannot
    * read instead of failing the whole query (at 100 TB a single bad
    * object must not kill a fleet-wide scan). The aggregate must equal
    * the fixture's — the corrupt file contributes nothing. */
  def qScanCorrupt(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("nation_corrupt", sf)
    Tables.nation(s, sf).write.mode("overwrite").parquet(dir)
    val junk = new java.io.FileOutputStream(s"$dir/part-junk.parquet")
    try junk.write("NOT A PARQUET FILE".getBytes("UTF-8")) finally junk.close()
    s.read.option("ignoreCorruptFiles", "true").parquet(dir)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"))
      .orderBy("n_regionkey")
  }

  def qSourceOrc(s: SparkSession, sf: String): DataFrame = {
    val dir = Util.sinkDir("part_orc", sf)
    Tables.part(s, sf)
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .where(col("p_size") >= 10)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("total_price"))
      .orderBy("p_brand")
  }
}
