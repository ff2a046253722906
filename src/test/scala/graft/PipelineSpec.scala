package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ingest.NdjsonReader
import graft.sources.Maintenance

object PipelineSpec {
  // separate in-memory Derby DB from JdbcSinkDerbySpec's; static so the
  // connect closure shipped to executors captures nothing else
  def connect(): java.sql.Connection =
    java.sql.DriverManager.getConnection("jdbc:derby:memory:graftpipe;create=true")

  def connectNoEdgeDelta(): java.sql.Connection =
    java.sql.DriverManager.getConnection("jdbc:derby:memory:graftpipenoedge;create=true")

  def query[A](connect: () => java.sql.Connection, sql: String)(
      f: java.sql.ResultSet => A): List[A] = {
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(sql)
      try Iterator.continually(rs).takeWhile(_.next()).map(f).toList
      finally rs.close()
    } finally conn.close()
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def put(dir: String, name: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, name), lines.mkString("\n"))

  test("batch pipeline: ingest, identity closure, watermark advance, delta rerun") {
    val in = Files.createTempDirectory("pipe-in").toString
    val out = Files.createTempDirectory("pipe-out").toString
    val wmf = Files.createTempDirectory("pipe-wm").resolve("last").toString

    put(in, "1.json",
      """{"_p": "anon-1", "_n": "view", "_t": "1700000000"}""",
      """{"_p": "alice", "_p2": "anon-1", "_n": "signup", "_t": "1700000100"}""")
    put(in, "2.json",
      """{"_p": "bob", "_n": "view", "_t": "1700000200"}""")

    val (n1, prevWm1) = Pipeline.run(spark, in, out, Some(wmf))
    assert(n1 == 3 && prevWm1 == -1L)

    val events = spark.read.parquet(s"$out/events")
    assert(events.count() == 3)
    assert(events.columns.contains("event_date"))

    // identity closure: alice <-> anon-1 in one cluster, canonical = min
    val ids = spark.read.parquet(s"$out/identity")
      .select("alias_id", "canonical_id").as[(String, String)].collect().toMap
    assert(ids("alice") == "alice" && ids("anon-1") == "alice")

    // second run: nothing new -> no ingest
    val (n2, prevWm2) = Pipeline.run(spark, in, out, Some(wmf))
    assert(n2 == 0 && prevWm2 == 2L)

    // delta file -> only its rows are appended
    put(in, "3.json",
      """{"_p": "carol", "_n": "view", "_t": "1700000300"}""")
    val (n3, _) = Pipeline.run(spark, in, out, Some(wmf))
    assert(n3 == 1)
    assert(spark.read.parquet(s"$out/events").count() == 4)
    // no alias edges in the delta -> identity table untouched
    val ids3 = spark.read.parquet(s"$out/identity")
      .select("alias_id", "canonical_id").as[(String, String)].collect().toMap
    assert(ids3 == ids)

    // delta with a NEW cluster {dave, anon-9}: prior assignments survive
    put(in, "4.json",
      """{"_p": "dave", "_p2": "anon-9", "_n": "alias", "_t": "1700000400"}""")
    Pipeline.run(spark, in, out, Some(wmf))
    val ids4 = spark.read.parquet(s"$out/identity")
      .select("alias_id", "canonical_id").as[(String, String)].collect().toMap
    assert(ids4("alice") == "alice" && ids4("anon-1") == "alice")
    // canonical = min STRING of the component: "anon-9" < "dave"
    assert(ids4("dave") == "anon-9" && ids4("anon-9") == "anon-9")

    // delta with a BRIDGING edge: the two existing clusters merge
    // (the reference's G2 LIMIT-1 resolve misses this)
    put(in, "5.json",
      """{"_p": "anon-1", "_p2": "anon-9", "_n": "alias", "_t": "1700000500"}""")
    Pipeline.run(spark, in, out, Some(wmf))
    val ids5 = spark.read.parquet(s"$out/identity")
      .select("alias_id", "canonical_id").as[(String, String)].collect().toMap
    assert(ids5.values.toSet == Set("alice"),
      s"bridge must merge both clusters to min id, got $ids5")
    assert(ids5.keySet == Set("alice", "anon-1", "dave", "anon-9"))
  }

  test("'updated email' events fold email edges into the closure") {
    val in = Files.createTempDirectory("pipe-em-in").toString
    val out = Files.createTempDirectory("pipe-em-out").toString
    // the reference's full-rebuild folds (person—new_email) and
    // (new_email—previous_email) edges (KissmetricsToDatabase.php:426-436)
    put(in, "1.json",
      """{"_p": "anon-7", "_p2": "user@x.com", "_n": "alias", "_t": "1700000000"}""",
      """{"_p": "user@x.com", "_n": "updated email", "_t": "1700000100", "new_email": "u2@x.com", "previous_email": "user@x.com"}""")
    Pipeline.run(spark, in, out, None)
    val ids = spark.read.parquet(s"$out/identity")
      .select("alias_id", "canonical_id").as[(String, String)].collect().toMap
    // all four ids collapse to one cluster, canonical = min string
    assert(ids.keySet == Set("anon-7", "user@x.com", "u2@x.com"))
    assert(ids.values.toSet == Set("anon-7"))
  }

  test("jdbc mode loads tb_event and refreshes tb_identity (Derby e2e)") {
    val in = Files.createTempDirectory("pipe-jdbc-in").toString
    val out = Files.createTempDirectory("pipe-jdbc-out").toString
    val wmf = Files.createTempDirectory("pipe-jdbc-wm").resolve("last").toString
    val connect: () => java.sql.Connection = PipelineSpec.connect _

    def query[A](sql: String)(f: java.sql.ResultSet => A): List[A] =
      PipelineSpec.query(connect, sql)(f)

    put(in, "1.json",
      """{"_p": "alice", "_p2": "anon-1", "_n": "alias", "_t": "1700000000"}""",
      """{"_p": "dave", "_p2": "anon-9", "_n": "alias", "_t": "1700000100"}""")
    Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    assert(query("""SELECT count(*) FROM "tb_event"""")(_.getLong(1)) == List(2L))
    val ids1 = query("""SELECT "alias", "id" FROM "tb_identity"""")(
      r => r.getString(1) -> r.getString(2)).toMap
    assert(ids1("alice") == "alice" && ids1("anon-1") == "alice")
    assert(ids1("dave") == "anon-9")

    // delta bridges the two clusters: events APPEND, identity REFRESHES
    // (stale dave -> anon-9 must not survive)
    put(in, "2.json",
      """{"_p": "anon-1", "_p2": "anon-9", "_n": "alias", "_t": "1700000200"}""")
    Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    assert(query("""SELECT count(*) FROM "tb_event"""")(_.getLong(1)) == List(3L))
    val ids2 = query("""SELECT "alias", "id" FROM "tb_identity"""")(
      r => r.getString(1) -> r.getString(2)).toMap
    assert(ids2.values.toSet == Set("alice"), s"stale assignments: $ids2")
    assert(ids2.keySet == Set("alice", "anon-1", "dave", "anon-9"))
  }

  /** Input records read by file-scan stages of the jobs `body` runs on this
    * thread (tagged by job group), i.e. the lines of every NDJSON or parquet
    * file it opened. */
  private def fileScanRecords(body: => Unit): Long = {
    val group = s"scan-${System.nanoTime()}"
    val stageGroup = mutable.Map.empty[Int, String]
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => stageGroup.synchronized(e.stageIds.foreach(stageGroup(_) = g)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val mine = stageGroup.synchronized(stageGroup.get(info.stageId).contains(group))
        if (mine && info.rddInfos.exists(_.name == "FileScanRDD"))
          records.addAndGet(info.taskMetrics.inputMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "fileScanRecords")
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    records.get()
  }

  test("a delta never opens a file at or below the watermark") {
    val in = Files.createTempDirectory("pipe-prune-in").toString
    val out = Files.createTempDirectory("pipe-prune-out").toString
    val wmf = Files.createTempDirectory("pipe-prune-wm").resolve("last").toString
    def views(file: Int, n: Int): Seq[String] = (1 to n).map(i =>
      s"""{"_p": "p$file-$i", "_n": "view", "_t": "${1700000000 + file * 100 + i}"}""")
    (1 to 5).foreach(f => put(in, s"$f.json", views(f, 20): _*))
    val cold = fileScanRecords(Pipeline.run(spark, in, out, Some(wmf)))
    assert(cold == 100, "the cold load reads every history line once")

    val delta = views(6, 7) :+
      """{"_p": "p6-x", "_n": "view", "_t": "1700000700", "note": "say "hi" "}"""
    put(in, "6.json", delta: _*)
    val read = fileScanRecords {
      val (n, prevWm) = Pipeline.run(spark, in, out, Some(wmf))
      assert(n == 8 && prevWm == 5L)
    }
    assert(read == delta.size,
      s"the delta read $read lines, want only the ${delta.size} of 6.json")

    // pruning never changes what lands: the pruned read equals an unpruned
    // read of every file with only the per-row watermark filter applied
    val pruned = NdjsonReader.readEvents(spark, in, Some(5L))
    val unpruned = NdjsonReader.events(
      NdjsonReader.rawLines(spark, in).filter(col("file_no") > 5L))
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(r => r).view.mapValues(_.length).toMap
    assert(bag(pruned) == bag(unpruned))
    val landed = spark.read.parquet(s"$out/events").filter(col("file_no") === 6L)
      .drop("event_date").select(pruned.columns.map(col): _*)
    assert(bag(landed) == bag(pruned))
    val files = pruned.select("file").distinct().as[String].collect()
    assert(files.length == 1 && files.head.endsWith("/6.json"), files.mkString(", "))
  }

  test("jdbc mode: a delta with no identity edges leaves tb_identity unchanged (Derby)") {
    val in = Files.createTempDirectory("pipe-noedge-in").toString
    val out = Files.createTempDirectory("pipe-noedge-out").toString
    val wmf = Files.createTempDirectory("pipe-noedge-wm").resolve("last").toString
    val connect: () => java.sql.Connection = PipelineSpec.connectNoEdgeDelta _
    def events(): Long =
      PipelineSpec.query(connect, """SELECT count(*) FROM "tb_event"""")(_.getLong(1)).head
    def identity(): Map[String, String] =
      PipelineSpec.query(connect, """SELECT "alias", "id" FROM "tb_identity"""")(
        r => r.getString(1) -> r.getString(2)).toMap

    put(in, "1.json",
      """{"_p": "alice", "_p2": "anon-1", "_n": "alias", "_t": "1700000000"}""",
      """{"_p": "dave", "_p2": "anon-9", "_n": "alias", "_t": "1700000100"}""",
      """{"_p": "erin", "_n": "updated email", "_t": "1700000150", "new_email": "e@x", "previous_email": "erin"}""")
    Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    val ids1 = identity()
    assert(ids1 == Map("alice" -> "alice", "anon-1" -> "alice",
      "anon-9" -> "anon-9", "dave" -> "anon-9", "e@x" -> "e@x", "erin" -> "e@x"))

    // no alias, an empty _p2, and an 'updated email' without new_email:
    // none is an edge, so no closure runs and tb_identity is reloaded
    // from the existing snapshot
    put(in, "2.json",
      """{"_p": "bob", "_n": "view", "_t": "1700000200"}""",
      """{"_p": "carol", "_p2": "", "_n": "alias", "_t": "1700000300"}""",
      """{"_p": "alice", "_n": "updated email", "_t": "1700000400", "previous_email": "alice"}""")
    val (n2, _) = Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    assert(n2 == 3)
    assert(events() == 6L)
    assert(identity() == ids1)
    val cols = PipelineSpec.query(connect,
      """SELECT c.COLUMNNAME FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t
         ON c.REFERENCEID = t.TABLEID WHERE t.TABLENAME = 'tb_identity'
         ORDER BY c.COLUMNNUMBER""")(_.getString(1))
    assert(cols == List("alias", "id"))
  }

  test("compaction reduces file count, preserves rows") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    spark.range(1000).repartition(16).write.parquet(dir)
    val before = spark.read.parquet(dir).count()
    val (nBefore, nAfter) = Maintenance.compact(spark, dir)
    assert(nBefore == 16)
    assert(nAfter == 1)
    assert(spark.read.parquet(dir).count() == before)
  }

  test("compaction preserves hive partition layout (pruning survives)") {
    import org.apache.spark.sql.functions.{col, pmod}
    val dir = Files.createTempDirectory("compactp").toString + "/t"
    spark.range(1000)
      .withColumn("event_date", pmod(col("id"), org.apache.spark.sql.functions.lit(3)))
      .repartition(8)
      .write.partitionBy("event_date").parquet(dir)
    assert(Maintenance.detectPartitionColumns(dir) == Seq("event_date"))
    Maintenance.compact(spark, dir)
    // partition dirs still exist -> scans with event_date filters prune
    val partDirs = new java.io.File(dir).listFiles
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_date=")).sorted
    assert(partDirs.toSeq == Seq("event_date=0", "event_date=1", "event_date=2"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.columns.contains("event_date"))
    assert(back.filter(col("event_date") === 1).count() == 333)
  }
}
