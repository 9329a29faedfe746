package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task totals of one job group (one span, or one streaming query). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskMaxMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Attributes every job, and every task of its stages, to the job group that
  * was set on the submitting thread (`spark.jobGroup.id`). Also keeps task
  * time per stage, for the scoring stages `Linker.ScoringStageIds` names. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()

  private def stats(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.JobGroupKey))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
    val st = stats(g)
    st.synchronized { st.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val d = e.taskInfo.duration
    stageTaskMs.merge(e.stageId, d, (a, b) => a + b)
    val st = stats(Option(stageGroup.get(e.stageId)).getOrElse(""))
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      st.taskMs += d
      st.taskMaxMs = math.max(st.taskMaxMs, d)
      if (m != null) {
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def group(g: String): GroupStats = Option(groups.get(g)).getOrElse(new GroupStats)

  def taskMsOfStages(ids: Iterable[Int]): Long =
    ids.iterator.map(i => Option(stageTaskMs.get(i)).map(_.longValue).getOrElse(0L)).sum
}

/** One traced call: name, interval, the span that caused it and the trace
  * (one workload operation) it belongs to. `group` is the job group its
  * Spark jobs ran under. */
final case class Span(id: Int, name: String, trace: String, parent: Int,
    startNs: Long, endNs: Long, group: String, rows: Long = -1L)

/** Records spans in memory around calls into the library. Each span sets its
  * own job group, so the listener attributes Spark work to the innermost
  * span; the enclosing span's group is restored on exit. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List.empty[Int]
  private var traceId = ""

  def trace[T](id: String)(f: => T): T = {
    traceId = id
    try f finally traceId = ""
  }

  def span[T](name: String)(f: => T): T = spanRows(name, (_: T) => -1L)(f)

  /** Run `f` as span `name` of the current trace; `rows` extracts a row
    * count from the result. Outside a trace it only runs `f`. */
  def spanRows[T](name: String, rows: T => Long)(f: => T): T =
    if (!enabled || traceId.isEmpty) f
    else {
      val id = nextId
      nextId += 1
      val group = s"perfbench-span-$id"
      val parent = stack.headOption.getOrElse(0)
      val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      stack = id :: stack
      val t0 = System.nanoTime()
      try {
        val r = f
        val n = rows(r) // materializes inside the span
        spans += Span(id, name, traceId, parent, t0, System.nanoTime(), group, n)
        r
      } finally {
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      }
    }

  /** Id of the innermost open span, 0 at top level. */
  def current: Int = stack.headOption.getOrElse(0)

  /** A span whose interval was measured elsewhere (streaming triggers).
    * Returns its id, or 0 when not tracing. */
  def record(name: String, startNs: Long, endNs: Long, group: String,
      parent: Int): Int =
    if (!enabled || traceId.isEmpty) 0
    else {
      spans += Span(nextId, name, traceId, parent, startNs, endNs, group)
      nextId += 1
      nextId - 1
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}

object Trace {
  /** Per-span rows for the report, with task totals from the listener. */
  def rows(spans: Seq[Span], listener: GroupListener): Seq[Map[String, Any]] =
    spans.map { s =>
      val g = listener.group(s.group)
      Map("id" -> s.id, "name" -> s.name, "trace" -> s.trace,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "rows" -> s.rows, "jobs" -> g.jobs, "tasks" -> g.tasks,
        "task_ms" -> g.taskMs, "task_max_ms" -> g.taskMaxMs,
        "shuffle_write_bytes" -> g.shuffleWriteBytes,
        "spill_bytes" -> g.spillBytes)
    }

  def stageIds(set: java.util.Set[Integer]): Seq[Int] =
    set.asScala.iterator.map(_.intValue).toSeq
}
