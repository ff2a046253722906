package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Single-node throughput bench for the reference's OWN workload — the
  * end-to-end `process-files` ingest (lenient NDJSON parse + repair →
  * typed events parquet → identity closure), the comparison BASELINE.md's
  * performance model calls for. The reference processes one row at a time
  * with a network round-trip per statement (its tuning surface is the
  * INSERT batch size); this main measures the Spark pipeline's rows/sec
  * on the same shape of data so the single-node comparison is a number,
  * not an argument.
  *
  * Data is generated deterministically (no RNG): every 50th line is an
  * alias event (`_p2`), every 29th carries an `updated email` edge pair,
  * every 97th is dirty (unescaped inner quote — exercises the repair
  * path), every 997th is blank (skipped). Run:
  *   SPARK_GRAFT_ROWS=500000 runMain graft.BenchPipeline
  * Prints one JSON line with rows, seconds, rows/sec, and the identity
  * closure size.
  */
object BenchPipeline {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "500000").toInt
    val files = 32
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("graft-bench-pipe")
    val in = base.resolve("in"); Files.createDirectory(in)
    BenchData.writeCorpus(in, rows, files)

    val out = base.resolve("out").toString
    // one untimed tiny run so JIT/codegen/parquet-writer setup is not
    // charged to the measured pass (the graft.Bench warmup discipline)
    val warm = base.resolve("warm"); Files.createDirectory(warm)
    Files.writeString(warm.resolve("1.json"),
      """{"_p":"w","_n":"pageview","_t":"1700000000"}""" + "\n")
    Pipeline.run(spark, warm.toString, base.resolve("warmout").toString, None)

    val t0 = System.nanoTime()
    val (nEvents, _) = Pipeline.run(spark, in.toString, out, None)
    val sec = (System.nanoTime() - t0) / 1e9
    val nIdentity = Pipeline.identitySnapshot(spark, out).count()
    println(f"""{"metric":"pipeline_rows_per_sec","value":${nEvents / sec}%.0f,"rows":$nEvents,"sec":$sec%.2f,"identity_rows":$nIdentity}""")
    spark.stop()
  }
}

/** Deterministic reference-shaped NDJSON corpus shared by BenchPipeline
  * (batch) and BenchStreamPipeline/StreamPipelineE2ESpec (streaming):
  * every 50th line an alias event, every 29th an 'updated email' edge
  * pair, every 97th dirty (unescaped inner quote — the repair path),
  * every 997th blank (skipped). No RNG — both paths see byte-identical
  * input. */
private[graft] object BenchData {
  def writeCorpus(in: java.nio.file.Path, rows: Int, files: Int): Unit = {
    val perFile = rows / files
    var id = 0
    (1 to files).foreach { f =>
      val sb = new StringBuilder(perFile * 96)
      (0 until perFile).foreach { _ =>
        id += 1
        val p = s"user${id % 20000}"
        val ts = 1700000000L + id % 2000000
        if (id % 997 == 0) sb.append("\n")
        else if (id % 97 == 0)
          // unescaped inner quote: the strict parser rejects, repair fixes
          sb.append(s"""{"_p":"$p","_n":"said "hi" loudly","_t":"$ts"}""" + "\n")
        else if (id % 50 == 0)
          sb.append(s"""{"_p":"$p","_p2":"anon${id % 35000}","_n":"alias","_t":"$ts"}""" + "\n")
        else if (id % 29 == 0)
          sb.append(s"""{"_p":"$p","_n":"updated email","_t":"$ts","new_email":"u${id % 20000}-at-ex","previous_email":"u${(id + 7) % 20000}-at-ex"}""" + "\n")
        else
          sb.append(s"""{"_p":"$p","_n":"pageview","_t":"$ts","page":"/p/${id % 1000}","ua-type":"bot$id"}""" + "\n")
      }
      java.nio.file.Files.writeString(in.resolve(s"$f.json"), sb.toString)
    }
  }
}
