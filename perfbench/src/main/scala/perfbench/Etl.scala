package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, SQLException}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Embedded in-memory Derby (from the Spark jars), the stand-in warehouse.
  * No durability: nothing is flushed to disk, a dropped database is gone. */
object Derby {
  val Mode = "derby-10.16 embedded in-memory, no durability"

  def url(db: String): String = s"jdbc:derby:memory:$db;create=true"

  def open(db: String): Connection = DriverManager.getConnection(url(db))

  /** The `jdbcConnect` handed to `graft.Pipeline.run`; when traced, every
    * connection goes through [[JdbcTrace]]. */
  def connect(db: String, traced: Boolean): () => Connection =
    if (traced) () => JdbcTrace.wrap(DriverManager.getConnection(url(db)))
    else () => DriverManager.getConnection(url(db))

  def drop(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  def eventCount(db: String): Long = query(db, """SELECT COUNT(*) FROM "tb_event"""") { rs =>
    rs.next(); rs.getLong(1)
  }

  /** `tb_identity` as alias → id, failing on an alias stored twice. */
  def identity(db: String): Map[String, String] =
    query(db, """SELECT "alias", "id" FROM "tb_identity"""") { rs =>
      val m = mutable.HashMap.empty[String, String]
      while (rs.next()) {
        val a = rs.getString(1)
        if (m.contains(a)) throw new IllegalStateException(s"tb_identity holds alias $a twice")
        m(a) = rs.getString(2)
      }
      m.toMap
    }

  private def query[T](db: String, sql: String)(f: java.sql.ResultSet => T): T = {
    val c = open(db)
    try {
      val st = c.createStatement()
      try { val rs = st.executeQuery(sql); try f(rs) finally rs.close() }
      finally st.close()
    } finally c.close()
  }
}

/** `etl_incremental`: the reference's `process-files` job through
  * `graft.Pipeline.run` — NDJSON files → events and identity closure
  * (parquet) → `tb_event` and `tb_identity` in Derby → watermark file —
  * first as a bulk load, then under its incremental contract.
  *
  * Set-up only writes a seeded history. The timed phase first loads it
  * cold (into an empty Derby, no watermark yet, in a fresh JVM — as the
  * reference's job runs, one process per invocation), then runs small
  * delta files through `Pipeline.run` with the watermark, into the same
  * output directory and database; every other delta carries bridging
  * aliases between people already seen. The number of deltas is fixed by
  * `--seconds`, not by how fast they go. */
final class EtlIncremental(a: Args, s: SparkSession) extends Workload(a, s) {
  val HistoryFiles = 6
  val HistoryLinesPerFile = 2500
  val DeltaLines = 400
  val NominalDeltaS = 2.5
  val maxVarchar = 4000
  val corpus = new Corpus(args.seed)
  val inDir: Path = Files.createDirectories(args.work.resolve("in"))
  val out: Path = args.work.resolve("out")
  val wm: Path = args.work.resolve("watermark")
  val db = "incremental"
  lazy val history: Seq[CorpusFile] =
    corpus.files(1, HistoryFiles, HistoryLinesPerFile, lateFrom = HistoryFiles / 2)
  val loaded = mutable.ArrayBuffer.empty[CorpusFile]
  def deltas: Int = math.max(3, math.round(args.seconds / NominalDeltaS).toInt)

  def latencyKinds: Set[String] = Set("delta")
  override def throughputKinds: Set[String] = Set("cold")

  def setup(): Unit = history.foreach(_.write(inDir))

  def run(): Unit = {
    load("cold", "history", history)
    (1 to deltas).foreach { i =>
      load("delta", s"delta$i", Seq(corpus.file(HistoryFiles + i, DeltaLines, lateFrom = 1,
        bridges = if (i % 2 == 0) 3 else 0)))
    }
  }

  /** Writes `batch`, runs one `Pipeline.run` over `inDir`, then checks the
    * rows it reports, `tb_event`'s count, all of `tb_identity` and the
    * watermark against the generator's expectations. */
  private def load(kind: String, name: String, batch: Seq[CorpusFile]): Op = {
    val before = Expected.of(loaded.toSeq).closure
    batch.foreach(_.write(inDir))
    loaded ++= batch
    val want = Expected.of(loaded.toSeq)
    val batchEvents = batch.map(_.events.toLong).sum
    val startMs = System.currentTimeMillis()
    op(kind, name, "etl", "pipeline") {
      graft.Pipeline.run(spark, inDir.toString, out.toString, Some(wm.toString),
        Some(Derby.connect(db, args.trace)), jdbcMaxVarchar = maxVarchar)._1
    } { (landed, secs, id) =>
      val events = Derby.eventCount(db)
      val ident = Derby.identity(db)
      val mark = graft.ingest.WatermarkStore.read(wm.toString)
      val problems = Seq(
        Option.when(landed != batchEvents)(s"Pipeline.run reported $landed events, want $batchEvents"),
        Option.when(events != want.events)(s"tb_event holds $events rows, want ${want.events}"),
        Option.when(ident != want.closure)(
          s"tb_identity differs from the closure (${ident.size} rows, want ${want.closure.size})"),
        Option.when(!mark.contains(want.maxFile.toLong))(s"watermark $mark, want ${want.maxFile}")
      ).flatten
      if (args.trace) {
        add("identity.edges_in", (before.size + batch.flatMap(_.edges).distinct.size).toDouble)
        add("identity.assignments_out", want.closure.size)
        add("sink.identity_rows_changed", want.closure.count { case (k, v) => !before.get(k).contains(v) })
        add("ingest.rows_out", landed.toDouble)
      }
      Op(kind, name, "etl", secs, problems.isEmpty, problems.mkString("; "),
        rows = batchEvents, bytesIn = batch.map(_.bytes).sum,
        bytesOut = Workload.bytesWrittenSince(out, startMs), spanId = id)
    }
  }

  def describe: ListMap[String, Any] = ListMap(
    "history_files" -> HistoryFiles, "history_events" -> history.map(_.events).sum,
    "history_ndjson_bytes" -> history.map(_.bytes).sum,
    "history_identity_edges" -> history.map(_.edges.size).sum,
    "history_identity_nodes" -> Expected.of(history).closure.size,
    "deltas" -> deltas, "delta_lines" -> DeltaLines, "bridging_deltas" -> deltas / 2)
}
