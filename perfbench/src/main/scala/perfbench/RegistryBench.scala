package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}

/** An order-independent digest of a query result over every column and
  * every row: row count, XOR of the per-row xxhash64, and the sums of its
  * high and low 32-bit halves. It is folded while the query's own physical
  * plan is executed (`queryExecution.toRdd`, so no sort or column is
  * optimised away), which makes computing it the query's one full
  * materialisation. */
final case class Digest(rows: Long, xor: Long, hi: Long, lo: Long) {
  override def toString: String = f"$rows:$xor%016x:$hi%x:$lo%x"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val refs = qe.executedPlan.output.zipWithIndex
      .map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val parts = qe.toRdd.mapPartitions { it =>
      val hash = UnsafeProjection.create(Seq(new XxHash64(refs)))
      var (n, x, hi, lo) = (0L, 0L, 0L, 0L)
      it.foreach { r =>
        val h = hash(r).getLong(0)
        n += 1; x ^= h; hi += h >>> 32; lo += h & 0xffffffffL
      }
      Iterator((n, x, hi, lo))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ ^ _),
      parts.map(_._3).sum, parts.map(_._4).sum)
  }
}

/** A registered query the workload runs, with the digest its result must
  * have. `pinned` is empty when no verified digest exists — the query then
  * still runs and counts as failed. */
final case class Pin(name: String, family: String, pinned: Option[String])

object Pins {
  /** `name<TAB>family<TAB>digest` lines; `-` as digest = not verified. */
  def read(p: Path): Seq[Pin] =
    Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, f, d) = l.split("\t")
        Pin(n, f, Option(d).filter(_ != "-"))
      }

  /** Empty when `got` is the pinned digest, else why the query failed. */
  def verdict(p: Pin, got: Digest): String = p.pinned match {
    case None => "no digest verified against DuckDB at this scale"
    case Some(want) if want != got.toString => s"digest $got, pinned $want"
    case _ => ""
  }
}

/** `registry`: a fixed slice of graft's query registry, reads only. The
  * timed phase first builds every artifact family cold through
  * `ArtifactFamilies.ensures` into a fresh directory, then runs each
  * listed query (`Q.run`, then one full materialisation that folds the
  * result digest) in the listed order. The order is fixed, not shuffled by
  * the seed: in a fresh JVM the first query to use an operator pays its
  * code generation, so a shuffled order moved the median by a quarter from
  * seed to seed. A query whose digest differs from its pin, or that has no
  * verified pin, counts as failed. */
final class RegistryBench(a: Args, s: SparkSession, pins: Seq[Pin]) extends Workload(a, s) {
  val queries: Map[String, graft.queries.Q] = graft.queries.Registry.all.map(q => q.name -> q).toMap
  val artifactDir: Path = args.work.resolve("artifacts")
  def latencyKinds: Set[String] = Set("query")

  /** No warm-up: the artifact builds run first, in a fixed order, and take
    * the JVM's first-use costs the same way on every run. (Warming up on
    * sf0.001 first cost 45 s a run and made the queries only 10% faster.) */
  def setup(): Unit = {
    val missing = pins.map(_.name).filterNot(queries.contains)
    if (missing.nonEmpty) bail(s"pinned queries not in the registry: ${missing.mkString(",")}")
    if (!Files.isDirectory(Paths.get(args.sfDir))) bail(s"no tables at ${args.sfDir}")
  }

  def run(): Unit = {
    graft.queries.ArtifactFamilies.ensures(spark, args.sfDir, artifactDir.toString)
      .foreach { case (key, ensure) =>
        op("artifact", key, key, "artifacts")(ensure()) { (reused, secs, id) =>
          add(s"artifacts.$key.build_s", secs)
          Op("artifact", key, key, secs, ok = !reused,
            error = if (reused) "a fresh artifact directory reported a reused snapshot" else "",
            spanId = id)
        }
      }
    pins.foreach { p =>
      op("query", p.name, p.family, "queries") {
        val (df, _, b) = span(s"build:${p.name}", "queries")(queries(p.name).run(spark, args.sfDir))
        val (d, _, e) = span(s"execute:${p.name}", "queries")(Digest.of(df))
        val plan = df.queryExecution.tracker.phases.values.map(_.durationMs).sum
        (d, b, e, plan)
      } { case ((d, b, e, plan), secs, id) =>
        add(s"queries.${p.family}.build_s", b)
        add(s"queries.${p.family}.execute_s", e)
        val err = Pins.verdict(p, d)
        Op("query", p.name, p.family, secs, err.isEmpty, err, rows = d.rows, spanId = id,
          planningMs = plan)
      }
    }
  }

  /** Snapshot bytes of the artifact families ÷ bytes of the input tables. */
  def storedBytesRatio: Double =
    Workload.treeBytes(artifactDir).toDouble / Workload.treeBytes(Paths.get(args.sfDir))

  def describe: ListMap[String, Any] = ListMap(
    "sf_dir" -> args.sfDir, "queries" -> pins.size,
    "families" -> pins.map(_.family).distinct.size,
    "unverified" -> pins.count(_.pinned.isEmpty))
}

/** Prints, for every registered query, its family, its time and its result
  * digest at the given scale — the input for choosing and pinning the
  * registry workload's queries. */
object Calibrate {
  def main(argv: Array[String]): Unit = {
    val Array(sfDir, work, out) = argv.take(3)
    val only = argv.lift(3).map(_.split(",").toSet)
    val spark = Workload.session(Workload.sessionConf(
      Runtime.getRuntime.availableProcessors(), Paths.get(work)))
    graft.queries.ArtifactFamilies.ensures(spark, sfDir, s"$work/artifacts").foreach(_._2())
    val fam = graft.queries.Registry.familyOf
    val lines = graft.queries.Registry.all.filter(q => only.forall(_(q.name))).map { q =>
      val t0 = System.nanoTime()
      val d = try Digest.of(q.run(spark, sfDir)).toString catch {
        case e: Throwable => System.err.println(s"${q.name}: $e"); "-"
      }
      s"${q.name}\t${fam(q.name)}\t${(System.nanoTime() - t0) / 1e9}\t$d\t${q.oracle.isDefined}"
    }
    Files.write(Paths.get(out), lines.asJava)
    spark.stop()
  }
}
