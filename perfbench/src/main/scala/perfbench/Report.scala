package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Maps a Spark job to the program module that submitted it, by the source
  * file of its call site (`callSite.short`, "<op> at <File>.scala:<line>";
  * the line is never used). Files are located in the program's source
  * tree, so the mapping follows the package layout:
  *
  *  - `graft/ingest/…` → ingest, `graft/identity/…` → identity,
  *    `graft/sink/…` → sink;
  *  - `graft/Pipeline.scala` is split by operation: `parquet` → storage,
  *    `isEmpty` (the edge probe) → identity, a `localCheckpoint` after an
  *    identity job of the same run → identity (the closure's own
  *    checkpoint), anything else (the read checkpoint, its count, the
  *    watermark max) → ingest;
  *  - any other program file, or the benchmark's own files, inside a
  *    query or artifact operation → queries / artifacts;
  *  - a job submitted from Spark's own threads (adaptive query stages,
  *    broadcasts: the call site is a JDK file) takes the layer of the job
  *    with a program call site in the same SQL execution, else of the next
  *    such job of the same operation — the one its output feeds;
  *  - everything else → unattributed.
  */
final class Attribution(srcRoot: Path) {
  private val dirOf: Map[String, String] = {
    val base = srcRoot.resolve("src/main/scala")
    if (!Files.isDirectory(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> base.relativize(p.getParent).toString).toMap
      finally s.close()
    }
  }

  /** A job submitted from one of Spark's own threads, not by program code. */
  def isAsync(callSite: String): Boolean = site(callSite)._2.endsWith(".java")

  def site(callSite: String): (String, String) = callSite.split(" at ", 2) match {
    case Array(op, where) => (op.trim, where.split(":")(0).trim)
    case _                => (callSite.trim, "")
  }

  /** @param opLayer the layer of the benchmark operation the job ran in
    * @param identitySeen whether an identity job already ran in that op */
  def layer(callSite: String, opLayer: String, identitySeen: Boolean): String = {
    val (op, file) = site(callSite)
    dirOf.get(file) match {
      case Some("graft/ingest")   => "ingest"
      case Some("graft/identity") => "identity"
      case Some("graft/sink")     => "sink"
      case Some("graft") if file == "Pipeline.scala" => op match {
        case "parquet"                         => "storage"
        case "isEmpty"                         => "identity"
        case "localCheckpoint" if identitySeen => "identity"
        case _                                 => "ingest"
      }
      case _ if opLayer == "queries" || opLayer == "artifacts" => opLayer
      case _ => "unattributed"
    }
  }
}

/** Turns a finished workload into its record: end-to-end metrics (from the
  * op log), per-layer metrics (from the listeners, the JDBC proxy and the
  * spans of a traced run), the sample counts and the trace itself. */
final class Report(w: Workload, attribution: Attribution) {
  private val ok = w.ops.filter(_.ok)
  private val lat = ok.filter(o => w.latencyKinds(o.kind))
  private val thr = ok.filter(o => w.throughputKinds(o.kind))
  private def sum(xs: Iterable[Double]) = xs.foldLeft(0.0)(_ + _)

  val tail: Option[Stats.Tail] = Option.when(lat.nonEmpty)(Stats.tail(lat.map(_.seconds).toSeq))

  def endToEnd: ListMap[String, Double] = {
    val attempted = math.max(1, w.ops.size)
    val secs = lat.map(_.seconds).toSeq
    val stored = w match {
      case r: RegistryBench => r.storedBytesRatio
      case _ => sum(lat.map(_.bytesOut.toDouble)) / math.max(1.0, sum(lat.map(_.bytesIn.toDouble)))
    }
    ListMap(
      "ok_ratio" -> ok.size.toDouble / attempted,
      "total_s" -> sum(ok.map(_.seconds)),
      "op_p50_s" -> (if (secs.isEmpty) Double.NaN else Stats.median(secs)),
      "op_tail_s" -> tail.fold(Double.NaN)(_.value),
      "rows_per_s" -> sum(thr.map(_.rows.toDouble)) / math.max(1e-9, sum(thr.map(_.seconds))),
      "stored_bytes_ratio" -> stored,
      "peak_rss_mb" -> Report.peakRssMb)
  }

  private val spans = Tracer.all
  private val spanById = spans.map(s => s.id -> s).toMap
  private def topOf(id: Long): Long = {
    var cur = id
    var p = spanById.get(cur).map(_.parent).getOrElse("")
    while (p.startsWith("span:")) { cur = p.drop(5).toLong; p = spanById.get(cur).map(_.parent).getOrElse("") }
    cur
  }
  private val opSpans = w.ops.filter(_.spanId > 0).flatMap(o => spanById.get(o.spanId).map(o -> _))

  /** Job → layer, attributed in job order so that "an identity job already
    * ran in this op" is known when a Pipeline checkpoint is seen. */
  private lazy val jobLayer: Map[Int, String] = w.trace.fold(Map.empty[Int, String]) { t =>
    val opLayer = opSpans.map { case (_, s) => s.id -> s.layer }.toMap
    val seen = mutable.HashSet.empty[Long]
    val direct = t.jobs.values.toSeq.sortBy(_.id).map { j =>
      val top = j.op.orElse(j.span).map(topOf)
      val l = attribution.layer(j.callSite, top.flatMap(opLayer.get).getOrElse(""),
        top.exists(seen.contains))
      if (l == "identity") top.foreach(seen += _)
      j.id -> l
    }.toMap
    val jobs = t.jobs.values.toSeq.sortBy(_.id)
    val byExecution = jobs
      .flatMap(j => j.execution.map(_ -> direct(j.id)).filter(_._2 != "unattributed")).toMap
    def nextInOp(j: JobRec): Option[String] = jobs.find(k => k.id > j.id && k.op == j.op &&
      direct(k.id) != "unattributed").map(k => direct(k.id))
    direct.map { case (id, l) =>
      val j = t.jobs(id)
      id -> (if (l != "unattributed" || !attribution.isAsync(j.callSite)) l
             else j.execution.flatMap(byExecution.get).orElse(nextInOp(j)).getOrElse(l))
    }
  }

  private def jobsIn(layer: String) = w.trace.toSeq.flatMap(_.jobs.values).filter(j => jobLayer.get(j.id).contains(layer))
  private def jobSecs(layer: String) = sum(jobsIn(layer).map(j => (j.endMs - j.startMs) / 1e3))
  private def stageSum(layer: String)(f: StageAgg => Long): Double =
    w.trace.fold(0.0)(t => jobsIn(layer).flatMap(_.stages).distinct.flatMap(t.stages.get).map(f(_).toDouble).sum)

  /** Self time per layer over the timed phase. Inside each op, every
    * instant goes to the innermost thing running on the driver's
    * timeline: the latest-started Spark job or driver-side JDBC call,
    * else the op's own driver work ("driver"). Time between ops is the
    * harness's own (checks, loop). The parts sum to the wall time. */
  def selfTimes: ListMap[String, Double] = {
    val self = mutable.LinkedHashMap("ingest" -> 0.0, "identity" -> 0.0, "sink" -> 0.0,
      "storage" -> 0.0, "queries" -> 0.0, "artifacts" -> 0.0, "driver" -> 0.0,
      "unattributed" -> 0.0)
    var gap = 0.0
    val jobs = w.trace.toSeq.flatMap(_.jobs.values)
    val driverJdbc = spans.filter(s => s.name.startsWith("jdbc.") && s.parent.startsWith("span:"))
    opSpans.foreach { case (_, op) =>
      val kids: Seq[(Long, Long, String, Boolean)] =
        jobs.filter(j => j.op.orElse(j.span).map(topOf).contains(op.id))
          .map(j => (j.startMs * 1000, j.endMs * 1000, jobLayer(j.id), true)) ++
        driverJdbc.filter(s => topOf(s.parent.drop(5).toLong) == op.id)
          .map(s => (s.startUs, s.endUs, "sink", false))
      val clipped = kids.map { case (a, b, l, j) =>
        (math.max(a, op.startUs), math.min(math.max(a, b), op.endUs), l, j) }.filter(k => k._2 > k._1)
      val cuts = (clipped.flatMap(k => Seq(k._1, k._2)) ++ Seq(op.startUs, op.endUs)).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val active = clipped.filter(k => k._1 <= a && k._2 >= b)
        val secs = (b - a) / 1e6
        self(if (active.isEmpty) "driver" else active.maxBy(_._1)._3) += secs
        if (!active.exists(_._4)) gap += secs
      }
    }
    val wall = (w.timedEndUs - w.timedStartUs) / 1e6
    driverGapS = gap
    ListMap(self.toSeq.map { case (k, v) => s"self.${k}_s" -> v }: _*) ++ ListMap(
      "self.harness_s" -> (wall - sum(self.values)),
      "self.wall_s" -> wall)
  }
  private var driverGapS = 0.0

  def perLayer(families: Seq[String], artifactKeys: Seq[String]): ListMap[String, Double] = {
    val t = w.trace
    val stagesAll = t.toSeq.flatMap(_.stages.values)
    def st(f: StageAgg => Long) = stagesAll.map(f(_).toDouble).sum
    val self = selfTimes
    val c = w.counts
    def cnt(k: String) = c.getOrElse(k, 0.0)
    val linesRead = stageSum("ingest")(_.inRecords)
    val written = JdbcTrace.identityRowsWritten.get.toDouble
    val planningMs = sum(w.ops.map(o => (o.planningMs + w.planningMs.getOrElse(o.spanId, 0L)).toDouble))
    ListMap(
      "sink.db_s" -> JdbcTrace.dbNanos.get / 1e9,
      "sink.job_s" -> jobSecs("sink"),
      "sink.rows_inserted" -> JdbcTrace.rowsInserted.get.toDouble,
      "sink.statements" -> JdbcTrace.statements.get.toDouble,
      "sink.commits" -> JdbcTrace.commits.get.toDouble,
      "sink.rollbacks" -> JdbcTrace.rollbacks.get.toDouble,
      "sink.peak_writers" -> graft.sink.SinkGauge.peakWriters.toDouble,
      "sink.identity_rows_written" -> written,
      "sink.identity_rows_changed" -> cnt("sink.identity_rows_changed"),
      "sink.identity_write_ratio" -> (if (written > 0) cnt("sink.identity_rows_changed") / written else 0.0),
      "ingest.job_s" -> jobSecs("ingest"),
      "ingest.lines_read" -> linesRead,
      "ingest.rows_out" -> cnt("ingest.rows_out"),
      "ingest.useful_ratio" -> (if (linesRead > 0) cnt("ingest.rows_out") / linesRead else 0.0),
      "ingest.input_bytes" -> stageSum("ingest")(_.inBytes),
      "identity.job_s" -> jobSecs("identity"),
      "identity.edges_in" -> cnt("identity.edges_in"),
      "identity.assignments_out" -> cnt("identity.assignments_out"),
      "storage.parquet_write_s" -> jobSecs("storage"),
      "storage.bytes_written" -> stageSum("storage")(_.outBytes),
      "spark.planning_s" -> planningMs / 1e3,
      "spark.driver_gap_s" -> driverGapS,
      "spark.jobs" -> t.fold(0.0)(_.jobs.size.toDouble),
      "spark.stages" -> stagesAll.count(_.tasks > 0).toDouble,
      "spark.tasks" -> st(_.tasks),
      "spark.task_wait_s" -> st(_.waitMs) / 1e3,
      "spark.task_run_s" -> st(_.runMs) / 1e3,
      "spark.task_cpu_s" -> st(_.cpuNs) / 1e9,
      "spark.gc_s" -> st(_.gcMs) / 1e3,
      "spark.shuffle_read_bytes" -> st(_.shuffleRead),
      "spark.shuffle_write_bytes" -> st(_.shuffleWrite),
      "spark.spill_bytes" -> st(_.spill)) ++
    ListMap(families.flatMap(f => Seq(
      s"queries.$f.build_s" -> cnt(s"queries.$f.build_s"),
      s"queries.$f.execute_s" -> cnt(s"queries.$f.execute_s"))): _*) ++
    ListMap(artifactKeys.map(k => s"artifacts.$k.build_s" -> cnt(s"artifacts.$k.build_s")): _*) ++
    ListMap("artifacts.build_s" -> sum(ok.filter(_.kind == "artifact").map(_.seconds))) ++
    self ++
    ListMap("trace.spans" -> (spans.size + t.fold(0)(_.jobs.size)).toDouble,
      "trace.op_p50_s" -> endToEnd("op_p50_s"))
  }

  private def stageTotal(j: JobRec)(f: StageAgg => Long): Long =
    w.trace.fold(0L)(t => j.stages.flatMap(t.stages.get).map(f).sum)

  /** The trace: benchmark spans, Spark jobs (as spans under the op that
    * submitted them) and JDBC calls, one JSON object a line. */
  def writeSpans(p: Path): Unit = {
    val jobSpanOf: Map[Int, String] = w.trace.fold(Map.empty[Int, String])(
      _.jobs.values.map(j => j.id -> s"job:${j.id}").toMap)
    def resolve(parent: String): String =
      if (parent.startsWith("stage:"))
        w.trace.flatMap(_.jobOfStage(parent.drop(6).toInt)).flatMap(jobSpanOf.get).getOrElse(parent)
      else parent
    val lines = spans.sortBy(_.startUs).map(s => Json(ListMap(
      "run" -> Tracer.runId, "id" -> s"span:${s.id}", "name" -> s.name, "layer" -> s.layer,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> resolve(s.parent)))) ++
      w.trace.toSeq.flatMap(_.jobs.values).map(j => Json(ListMap(
        "run" -> Tracer.runId, "id" -> s"job:${j.id}", "name" -> j.callSite,
        "layer" -> jobLayer.getOrElse(j.id, "unattributed"),
        "start_us" -> j.startMs * 1000, "end_us" -> j.endMs * 1000,
        "parent" -> j.span.fold("")(id => s"span:$id"), "ok" -> j.succeeded,
        "tasks" -> stageTotal(j)(_.tasks), "task_wait_ms" -> stageTotal(j)(_.waitMs),
        "input_records" -> stageTotal(j)(_.inRecords))))
    Files.write(p, lines.asJava)
  }
}

object Report {
  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val status = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
    status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
