package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

final case class Span(id: Int, parent: Int, kind: String, name: String,
                      op: String, t0: Long, t1: Long)

/** In-memory span log. Spans are written out once, when the run ends, so
  * recording one costs an allocation and two clock reads. With tracing off
  * nothing is recorded; callers still get their timings back. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  // ids are handed out when a span starts; a parent is appended after its
  // children, so its position in `spans` is not its id
  private var nextId = 0

  /** Runs `body`, returning its value and its duration in seconds. */
  def span[T](kind: String, name: String, op: String, parent: Int = -1)
             (body: Int => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    val v = body(id)
    val t1 = System.nanoTime()
    if (on) spans += Span(id, parent, kind, name, op, t0, t1)
    (v, (t1 - t0) / 1e9)
  }

  /** Records a span whose bounds were measured elsewhere. */
  def record(kind: String, name: String, op: String, t0: Long, t1: Long,
             parent: Int = -1): Unit =
    if (on) { spans += Span(nextId, parent, kind, name, op, t0, t1); nextId += 1 }

  def jsonLines(origin: Long): Iterator[String] = spans.iterator.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "op" -> s.op,
      "start_s" -> (s.t0 - origin) / 1e9, "end_s" -> (s.t1 - origin) / 1e9)
  }
}

/** Job, stage and task counters keyed by the job group the harness set
  * around each phase of each operation (`<op id>/<phase>`). Streaming
  * queries set their own group (the query's run id). */
final class GroupCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }
  private val byGroup = mutable.LinkedHashMap.empty[String, C]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def c(g: String): C = byGroup.getOrElseUpdate(g, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    c(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val x = c(stageGroup.getOrElse(e.stageId, "none"))
    x.tasks += 1
    if (m != null) {
      x.runMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jsonLines: Iterator[String] = synchronized {
    byGroup.toList.iterator.map { case (g, x) =>
      Json.obj("group" -> g, "jobs" -> x.jobs, "stages" -> x.stages,
        "tasks" -> x.tasks, "executor_run_s" -> x.runMs / 1e3,
        "executor_cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3,
        "fetch_wait_s" -> x.fetchWaitMs / 1e3,
        "shuffle_write_bytes" -> x.shuffleWrite,
        "shuffle_read_bytes" -> x.shuffleRead, "spill_bytes" -> x.spill)
    }
  }
}

/** Minimal JSON writer for the flat records the harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  /** Pre-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
