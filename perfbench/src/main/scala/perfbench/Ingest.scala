package perfbench

import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.stream.{BatchSink, IdempotentParquetSink, Sinks, StreamOps}
import graft.stream.StreamOps.Event

/** Times `write` around the sink the pipeline would use, so every micro-
  * batch's sink commit is stamped on the benchmark's clock. */
final class TimedSink(inner: BatchSink, log: (Long, Long, Long) => Unit) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    inner.write(batch, batchId)
    log(batchId, t0, System.nanoTime())
  }
}

/** Collector ingest: `StreamOps.streamingRates` → `Sinks.sinkTo` →
  * `IdempotentParquetSink` turns seeded cumulative-counter samples into
  * rates. Each tier is a fresh query over a prefix of the same samples (its
  * length comes with the tier), so the sink contents on the samples the
  * tiers share must not depend on the tier. A rate tier is open loop: one
  * generator thread appends the samples to a MemoryStream on a fixed
  * schedule; sample i is due at t0 + i / rate, and its latency is counted
  * from then. A burst tier appends its samples in equal bursts, each once
  * the one before it is committed, and so measures how fast a backlog
  * drains. */
object Ingest {
  /** The generator wakes every 10 ms and appends every sample that has come
    * due, as one block (one stream offset). */
  private val TickNs = 10000000L

  private final class Progress extends StreamingQueryListener {
    val byRun = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    /** (batch id, trigger start epoch ms, trigger ms) per run, for spans. */
    val triggers = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val ops = p.stateOperators
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (p.numInputRows > 0) triggers.getOrElseUpdate(p.runId.toString, mutable.ArrayBuffer.empty) +=
        ((p.batchId, startMs, p.durationMs.getOrDefault("triggerExecution", 0L).longValue))
      byRun.getOrElseUpdate(p.runId.toString, mutable.ArrayBuffer.empty) += Json.obj(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_epoch_ms" -> startMs,
        "end_offset" -> p.sources.headOption.map(s => Option(s.endOffset).getOrElse("-1")),
        "duration_ms" -> Json.Raw(Json.obj(p.durationMs.asScala.toSeq
          .map { case (k, v) => k -> v.longValue }: _*)),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum)
    }
  }

  def run(h: Harness): Unit = {
    val events = h.lines("events.csv").map { l =>
      val Array(id, user, tsMs, v) = l.split(',')
      Event(id.toLong, new Timestamp(tsMs.toLong), user.toLong, "counter", v.toDouble)
    }
    val tiers = h.lines("rates.txt").map(_.split(' ') match {
      case Array(n, r, count, bursts) => (n, r.toDouble, count.toInt, bursts.toInt)
    })
    val root = s"${h.work}/ingest"
    val warm = events.take(2000)
    var warmRuns = 0
    (1 to 3).foreach { _ =>
      h.setUp { () =>
        warmRuns += 1
        val in = memoryStream(h)
        val q = start(h, in, s"$root/warm$warmRuns", (_, _, _) => ())
        in.addData(warm)
        q.processAllAvailable()
        q.stop()
      }
    }
    val progress = new Progress
    h.spark.streams.addListener(progress)
    val epochAtOrigin = System.currentTimeMillis() - (System.nanoTime() - h.origin) / 1000000L
    val records = tiers.map { case (name, rate, count, bursts) =>
      val offered = events.take(count)
      System.err.println(
        if (bursts > 0) s"[perfbench] tier $name: $count samples in $bursts bursts"
        else f"[perfbench] tier $name at $rate%.0f samples/s")
      val sinkLog = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val in = memoryStream(h)
      val (q, buildS) = h.tracer.span("build", name, name)(_ =>
        start(h, in, s"$root/$name", (b, t0, t1) => sinkLog.synchronized { sinkLog += ((b, t0, t1)) }))
      val blocks = mutable.ArrayBuffer.empty[(Long, Int, Int, Long)]
      val t0 = System.nanoTime() + 20000000L
      if (bursts > 0) {
        // closed loop: each burst goes in once the one before it is committed,
        // so every burst is one micro-batch of the same size
        val size = (offered.length + bursts - 1) / bursts
        (0 until offered.length by size).foreach { lo =>
          val hi = math.min(offered.length, lo + size)
          val off = in.addData(offered.slice(lo, hi)).json.toLong
          blocks += ((off, lo, hi, System.nanoTime()))
          q.processAllAvailable()
        }
      } else {
        val gen = new Thread(() => {
          var i = 0
          while (i < offered.length) {
            val now = System.nanoTime()
            val due = if (now < t0) 0 else math.min(offered.length, ((now - t0) / 1e9 * rate).toInt + 1)
            if (due > i) {
              val off = in.addData(offered.slice(i, due)).json.toLong
              blocks += ((off, i, due, System.nanoTime()))
              i = due
            }
            if (i < offered.length) LockSupport.parkNanos(TickNs)
          }
        }, "perfbench-generator")
        gen.start()
        gen.join()
      }
      System.err.println(s"[perfbench] tier $name offered ${offered.length} samples")
      q.processAllAvailable()
      q.stop()
      org.apache.spark.PerfbenchShim.drainListeners(h.spark.sparkContext)
      val runId = q.runId.toString
      val prog = progress.synchronized(progress.byRun.getOrElse(runId, Nil).toList)
      val sinks = sinkLog.synchronized(sinkLog.toList)
      sinks.foreach { case (b, s0, s1) => h.tracer.record("sink_write", s"$name/$b", name, s0, s1) }
      progress.synchronized(progress.triggers.getOrElse(runId, Nil).toList).foreach {
        case (b, startMs, ms) =>
          val t0 = h.origin + (startMs - epochAtOrigin) * 1000000L
          h.tracer.record("trigger", s"$name/$b", name, t0, t0 + ms * 1000000L)
      }
      Json.obj("tier" -> name, "rate" -> rate, "n" -> offered.length, "bursts" -> bursts,
        "run_id" -> runId, "build_s" -> buildS, "t0_s" -> (t0 - h.origin) / 1e9,
        "origin_epoch_ms" -> epochAtOrigin,
        "sink_dir" -> s"$root/$name/sink",
        "blocks" -> blocks.toList.map { case (o, lo, hi, t) =>
          List(o, lo, hi, (t - h.origin) / 1e9) },
        "sink" -> sinks.map { case (b, s0, s1) => List(b, (s0 - h.origin) / 1e9, (s1 - h.origin) / 1e9) },
        "progress" -> prog.map(Json.Raw))
    }
    h.note("tiers", records.mkString("[", ",", "]"))
    h.finish()
  }

  private def memoryStream(h: Harness): MemoryStream[Event] = {
    val spark = h.spark
    import spark.implicits._
    MemoryStream[Event](spark, h.cores)
  }

  private def start(h: Harness, in: MemoryStream[Event], dir: String,
                    log: (Long, Long, Long) => Unit): StreamingQuery = {
    val sink = new TimedSink(new IdempotentParquetSink(s"$dir/sink"), log)
    Sinks.sinkTo(StreamOps.streamingRates(in.toDS()).toDF(), sink, s"$dir/ckpt").start()
  }
}
