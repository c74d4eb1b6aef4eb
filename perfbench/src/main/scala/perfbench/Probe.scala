package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable.ArrayBuffer

/** Counts Spark work from outside the engine: jobs, stages, tasks and
  * the task metrics, plus the wall time of the SQL executions that
  * write an index artifact (`graft_idx_*` tables saved as tables). */
final class LayerListener extends SparkListener {
  private val c = Map(Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "task_run_ms", "task_cpu_ns",
    "gc_ms", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.input_bytes", "index_build_ms").map(_ -> new AtomicLong): _*)
  private val buildStarts = new ConcurrentHashMap[Long, java.lang.Long]()

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("exec.input_bytes", m.inputMetrics.bytesRead)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) &&
          Seq("SaveAsV1TableCommand", "CreateDataSourceTableAsSelectCommand")
            .exists(s.physicalPlanDescription.contains) &&
          s.physicalPlanDescription.contains("graft_idx_") =>
      buildStarts.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      val t0 = buildStarts.remove(x.executionId)
      if (t0 != null) add("index_build_ms", x.time - t0)
    case _ =>
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the id of the enclosing span, -1 at the root. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int, query: String)

/** In-memory span recorder, written out once when the run ends. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def span[T](name: String, parent: Int, op: Int, query: String)(f: Int => T): T = {
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    try f(id)
    finally spans += Span(id, name, t0, System.nanoTime(), parent, op, query)
  }

  /** Records an interval measured elsewhere (a streaming micro-batch). */
  def record(name: String, startNs: Long, endNs: Long, op: Int, query: String): Unit = {
    spans += Span(nextId, name, startNs, endNs, -1, op, query)
    nextId += 1
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    sb += '"'
    sb.toString
  }
}
