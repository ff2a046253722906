package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

/** One benchmark run in a fresh JVM: set-up, the timed phase, the record.
  *
  * {{{
  * perfbench.Main --workload <etl_incremental|registry> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <record.json>
  *   [--sf-dir <tables>] [--src-root <checkout>] [--pins <registry.tsv>]
  *   [--stamp <json>]
  * }}}
  *
  * The record holds the run's stamp, its op counts and failures, the
  * end-to-end metrics and, when traced, the per-layer metrics; the trace
  * itself goes next to it. `perfbench/run.py` launches this and prints
  * the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val args = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")),
      kv.getOrElse("sf-dir", ""),
      Paths.get(kv.getOrElse("src-root", ".")).toAbsolutePath)
    Files.createDirectories(args.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val conf = Workload.sessionConf(cpus, args.work)
    val spark = Workload.session(conf)
    try {
      val w: Workload = args.workload match {
        case "etl_incremental" => new EtlIncremental(args, spark)
        case "registry"        => new RegistryBench(args, spark, Pins.read(Paths.get(need("pins"))))
        case other             => sys.error(s"unknown workload $other")
      }
      val t0 = System.nanoTime()
      w.setup()
      System.err.println(f"[perfbench] set-up done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      w.startTimed()
      w.run()
      w.endTimed()
      System.err.println(f"[perfbench] timed phase done in ${(w.timedEndUs - w.timedStartUs) / 1e6}%.1f s")
      write(args, w, conf, cpus, kv.getOrElse("stamp", "{}"))
    } finally spark.stop()
  }

  private def write(args: Args, w: Workload, conf: ListMap[String, String], cpus: Int,
                    stamp: String): Unit = {
    val report = new Report(w, new Attribution(args.srcRoot))
    val families = graft.queries.Registry.byFamily.map(_._1)
    val artifactKeys = graft.queries.ArtifactFamilies.ensures(w.spark, "", "").map(_._1)
    val failures = w.ops.filterNot(_.ok).map(o => ListMap("op" -> s"${o.kind}:${o.name}", "error" -> o.error))
    val record = ListMap[String, Any](
      "workload" -> args.workload,
      "seed" -> args.seed,
      "seconds" -> args.seconds,
      "trace" -> args.trace,
      "stamp" -> RawJson(stamp),
      "run" -> ListMap(
        "cpus" -> cpus,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "session" -> conf.filterNot(_._1.endsWith(".dir")),
        "derby" -> Derby.Mode,
        "client" -> "closed loop, one client",
        "identity_driver_finish_edges" -> graft.identity.Components.DefaultDriverFinishEdges),
      "workload_shape" -> w.describe,
      "first_op_epoch_ms" -> w.firstOpEpochMs,
      "attempted" -> w.ops.size,
      "failed" -> w.ops.count(!_.ok),
      "failures" -> failures,
      "tail" -> report.tail.fold(ListMap.empty[String, Any])(t =>
        ListMap("percentile" -> t.percentile, "samples" -> t.samples)),
      "end_to_end" -> report.endToEnd,
      "per_layer" -> (if (args.trace) report.perLayer(families, artifactKeys) else ListMap.empty),
      "ops" -> w.ops.map(o => ListMap("kind" -> o.kind, "name" -> o.name, "group" -> o.group,
        "seconds" -> o.seconds, "ok" -> o.ok, "span" -> s"span:${o.spanId}",
        "planning_ms" -> (o.planningMs + w.planningMs.getOrElse(o.spanId, 0L)))))
    if (args.trace) report.writeSpans(Paths.get(args.out.toString.stripSuffix(".json") + ".spans.jsonl"))
    Files.writeString(args.out, Json(record) + "\n")
  }
}

/** A pre-rendered JSON value, embedded as is. */
final case class RawJson(json: String)
