package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path, sfDir: String, srcRoot: Path)

/** One timed operation of a workload: a call into the program plus the
  * check of its output. A failed operation (throw, rollback, wrong output)
  * keeps its error and never contributes a time. */
final case class Op(kind: String, name: String, group: String, seconds: Double,
                    ok: Boolean, error: String = "", rows: Long = 0, bytesIn: Long = 0,
                    bytesOut: Long = 0, spanId: Long = 0, planningMs: Long = 0)

object Workload {
  /** Spark local properties that tie a job to the benchmark span (and the
    * top-level operation) that submitted it. */
  val SpanProperty = "perfbench.span"
  val OpProperty = "perfbench.op"

  /** The session every workload runs in: configured like graft's
    * `graft.Bench` (local[cpus], shuffle partitions = cpus, graft's SQL
    * extensions, nanosecond timestamps read as longs), with every file
    * Spark leaves behind kept inside the run's work directory. */
  def sessionConf(cpus: Int, work: Path): ListMap[String, String] = ListMap(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString,
    "spark.local.dir" -> work.resolve("spark-local").toString)

  def session(conf: ListMap[String, String]): SparkSession = {
    val b = SparkSession.builder()
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Bytes of the regular files under `p` modified at or after `sinceMs`. */
  def bytesWrittenSince(p: Path, sinceMs: Long): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs - 1000)
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** The frame shared by the workloads: a Spark session, the operation
  * timer, the op log and — in a traced run — the listeners and spans. */
abstract class Workload(val args: Args, val spark: SparkSession) {
  import Workload._

  val trace: Option[SparkTrace] =
    if (args.trace) Some(new SparkTrace) else None
  trace.foreach { t =>
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  val ops = mutable.ArrayBuffer.empty[Op]
  /** Per-op planning milliseconds (traced runs), by op span id. */
  val planningMs = mutable.HashMap.empty[Long, Long]
  /** Per-layer counts a workload adds on top of the listeners'. */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  var timedStartUs = 0L
  var timedEndUs = 0L
  var firstOpEpochMs = 0L

  /** Untimed preparation: corpus, warm-up, history load. */
  def setup(): Unit
  /** The timed operations. */
  def run(): Unit
  /** The workload's shape, for the record. */
  def describe: ListMap[String, Any]

  /** Latency samples the op percentiles are taken over. */
  def latencyKinds: Set[String]
  /** Ops whose rows per second is the workload's throughput. */
  def throughputKinds: Set[String] = latencyKinds

  /** Starts the timed phase: listeners and counters are reset so that they
    * cover only timed work. */
  def startTimed(): Unit = {
    trace.foreach { t => org.apache.spark.PerfbenchBus.drain(spark.sparkContext); t.reset() }
    JdbcTrace.reset()
    graft.sink.SinkGauge.reset()
    counts.clear()
    Tracer.clear()
    Tracer.on = args.trace
    firstOpEpochMs = System.currentTimeMillis()
    timedStartUs = Clock.nowUs
  }

  def endTimed(): Unit = {
    timedEndUs = Clock.nowUs
    trace.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    Tracer.on = false
  }

  /** Runs `body` as a benchmark span named `name`. Jobs it submits carry
    * the span id, and the enclosing op id, in their local properties. */
  def span[T](name: String, layer: String)(body: => T): (T, Long, Double) = {
    val id = Tracer.newId()
    val parent = Tracer.parentHere
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProperty)
    val prevOp = sc.getLocalProperty(OpProperty)
    if (prevOp == null) sc.setLocalProperty(OpProperty, id.toString)
    sc.setLocalProperty(SpanProperty, id.toString)
    val prev = Tracer.enter(id)
    val t0 = Clock.nowUs
    val n0 = System.nanoTime()
    try {
      val out = body
      (out, id, (System.nanoTime() - n0) / 1e9)
    } finally {
      Tracer.record(Span(id, name, layer, t0, Clock.nowUs, parent))
      Tracer.leave(prev)
      sc.setLocalProperty(SpanProperty, prevProp)
      sc.setLocalProperty(OpProperty, prevOp)
    }
  }

  /** One top-level operation: `body` is timed, `check` (untimed) decides
    * whether its output is right. A throw in either marks it failed. */
  def op[T](kind: String, name: String, group: String, layer: String)(body: => T)(
      check: (T, Double, Long) => Op): Op = {
    val res = try {
      val (out, id, secs) = span(s"$kind:$name", layer)(body)
      trace.foreach { t =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        planningMs(id) = t.takePlanningMs()
      }
      try check(out, secs, id)
      catch { case NonFatal(e) => Op(kind, name, group, secs, ok = false, error = err(e), spanId = id) }
    } catch {
      case NonFatal(e) => Op(kind, name, group, 0, ok = false, error = err(e))
    }
    if (!res.ok) System.err.println(s"[perfbench] FAILED $kind $name: ${res.error}")
    ops += res
    res
  }

  def err(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  def bail(msg: String): Nothing = throw new IllegalStateException(msg)
}
