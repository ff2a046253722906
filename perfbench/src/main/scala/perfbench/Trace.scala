package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read from `nanoTime` so that short
  * spans keep their precision; anchored once to `currentTimeMillis`, the
  * clock Spark stamps its listener events with. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000
}

/** One traced interval. `parent` names the span that caused it:
  * `span:<id>` for a benchmark span, `stage:<id>` for work done inside a
  * Spark task (resolved to the stage's job when the trace is written). */
final case class Span(id: Long, name: String, layer: String,
                      startUs: Long, endUs: Long, parent: String)

/** Spans of the traced run. They stay in memory and are written out when
  * the run ends. Nothing here records anything unless [[on]] is set, so the
  * untraced run pays only the `nanoTime` reads of its own op timer. */
object Tracer {
  @volatile var on = false
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  /** The innermost open benchmark span of the driver thread. */
  private val current = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  def newId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = if (on) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()
  def enter(id: Long): Option[Long] = { val prev = current.get(); current.set(Some(id)); prev }
  def leave(prev: Option[Long]): Unit = current.set(prev)

  /** Parent of a span opened now on this thread: the Spark stage when
    * called from inside a task, else the thread's open benchmark span. */
  def parentHere: String = Option(TaskContext.get()) match {
    case Some(tc) => s"stage:${tc.stageId()}"
    case None     => current.get().fold("")(id => s"span:$id")
  }
}

/** JDBC calls as the benchmark sees them: a `Connection` proxy it hands to
  * `graft.Pipeline.run` as `jdbcConnect`. Every call into the driver is
  * timed; statements, commits, rollbacks and inserted rows are counted.
  * In local mode the writer tasks run in this JVM, so the counters are
  * global. Statement-level calls (execute, commit, ...) become spans;
  * per-row parameter binding is timed but not spanned. */
object JdbcTrace {
  val dbNanos = new AtomicLong
  val statements = new AtomicLong
  val commits = new AtomicLong
  val rollbacks = new AtomicLong
  val rowsInserted = new AtomicLong
  val identityRowsWritten = new AtomicLong

  def reset(): Unit = Seq(dbNanos, statements, commits, rollbacks, rowsInserted,
    identityRowsWritten).foreach(_.set(0))

  private val spanned = Set("execute", "executeUpdate", "executeQuery",
    "executeBatch", "commit", "rollback", "prepareStatement", "createStatement")

  def wrap(c: Connection): Connection = proxy(classOf[Connection], c, "")

  private def proxy[T](iface: Class[T], target: AnyRef, sql: String): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target, sql)).asInstanceOf[T]

  private def inserted(sql: String, rows: Long): Unit =
    if (sql.trim.toUpperCase.startsWith("INSERT")) {
      rowsInserted.addAndGet(rows)
      if (sql.contains("\"tb_identity\"")) identityRowsWritten.addAndGet(rows)
    }

  private final class Handler(target: AnyRef, sql: String) extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      val parent = Tracer.parentHere
      val t0 = Clock.nowUs
      val n0 = System.nanoTime()
      val out =
        try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      dbNanos.addAndGet(System.nanoTime() - n0)
      if (spanned(name))
        Tracer.record(Span(Tracer.newId(), s"jdbc.$name", "sink", t0, Clock.nowUs, parent))
      val argSql = if (args != null && args.nonEmpty) args(0) match {
        case s: String => s
        case _         => sql
      } else sql
      name match {
        case "executeBatch" =>
          statements.incrementAndGet()
          inserted(sql, out.asInstanceOf[Array[Int]].filter(_ > 0).map(_.toLong).sum)
        case "executeUpdate" =>
          statements.incrementAndGet()
          inserted(argSql, out.asInstanceOf[Integer].longValue)
        case "execute" | "executeQuery" => statements.incrementAndGet()
        case "commit"   => commits.incrementAndGet()
        case "rollback" => rollbacks.incrementAndGet()
        case _ => ()
      }
      out match {
        case ps: PreparedStatement => proxy(classOf[PreparedStatement], ps, argSql)
        case st: Statement         => proxy(classOf[Statement], st, "")
        case other                 => other
      }
    }
  }
}

/** What Spark reports about one job: its call site, the benchmark span
  * that was open when it was submitted, and the task metrics of its
  * stages. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
                   val span: Option[Long], val op: Option[Long], val execution: Option[String],
                   val stages: Seq[Int]) {
  var endMs: Long = startMs
  var succeeded = false
}

final class StageAgg {
  var submittedMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outBytes = 0L
}

/** Spark's public listeners, recording jobs, stages and tasks, and each
  * query execution's planning phases (`QueryPlanningTracker`). */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** Planning time of query executions not yet claimed by an operation. */
  private var planningMs = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // the result stage (highest id) is named after the job's call site
    val site = prop("callSite.short")
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
    val rec = new JobRec(e.jobId, e.time, site,
      prop(Workload.SpanProperty).map(_.toLong), prop(Workload.OpProperty).map(_.toLong),
      prop("spark.sql.execution.id"), e.stageIds)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submittedMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (s.submittedMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inRecords += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    claimPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    claimPlanning(qe)

  private def claimPlanning(qe: QueryExecution): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  /** Planning time reported since the last call (drain the bus first). */
  def takePlanningMs(): Long = synchronized { val p = planningMs; planningMs = 0; p }

  def jobOfStage(stageId: Int): Option[Int] = synchronized(stageJob.get(stageId))

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); planningMs = 0
  }
}
