package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DatabaseMetaData, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Random

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

  def query[A](connect: () => java.sql.Connection, sql: String)(
      f: java.sql.ResultSet => A): List[A] = {
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(sql)
      try Iterator.continually(rs).takeWhile(_.next()).map(f).toList
      finally rs.close()
    } finally conn.close()
  }

  /** `tb_identity` as alias → id (empty before the table exists), failing
    * on an alias stored twice. */
  def tbIdentity(connect: () => java.sql.Connection): Map[String, String] = {
    val exists = {
      val conn = connect()
      try {
        val rs = conn.getMetaData.getTables(null, null, "tb_identity", null)
        try rs.next() finally rs.close()
      } finally conn.close()
    }
    if (!exists) return Map.empty
    val rows = query(connect, """SELECT "alias", "id" FROM "tb_identity"""")(
      r => r.getString(1) -> r.getString(2))
    assert(rows.map(_._1).distinct.size == rows.size, s"an alias stored twice: $rows")
    rows.toMap
  }

  /** A connection factory for in-memory Derby database `db` whose
    * connections report to [[JdbcLog]]. */
  def logged(db: String): () => java.sql.Connection = () =>
    JdbcLog.wrap(classOf[Connection],
      java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true"))

  /** What the connections of [[logged]] were handed: every string argument
    * (SQL text, a metadata table name) of every call on a connection, a
    * statement or the metadata, and the rows INSERTs into `tb_identity`
    * reported. Local mode runs the writer tasks in this JVM, so one
    * global log sees them all. */
  object JdbcLog {
    val seen = new ConcurrentLinkedQueue[String]
    val identityInserted = new AtomicLong

    def reset(): Unit = { seen.clear(); identityInserted.set(0) }

    def mentioning(table: String): List[String] =
      seen.asScala.filter(_.contains(table)).toList

    def wrap[T](iface: Class[T], target: AnyRef): T =
      Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
        new InvocationHandler {
          override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
            val as = Option(args).getOrElse(Array.empty[AnyRef])
            as.foreach { case s: String => seen.add(s); case _ => () }
            val out =
              try m.invoke(target, as: _*)
              catch { case e: InvocationTargetException => throw e.getCause }
            as.headOption match {
              case Some(sql: String) if m.getName == "executeUpdate" &&
                  sql.trim.startsWith("INSERT INTO \"tb_identity\"") =>
                identityInserted.addAndGet(out.asInstanceOf[Integer].longValue)
              case _ => ()
            }
            out match {
              case ps: PreparedStatement => wrap(classOf[PreparedStatement], ps)
              case st: Statement         => wrap(classOf[Statement], st)
              case md: DatabaseMetaData  => wrap(classOf[DatabaseMetaData], md)
              case other                 => other
            }
          }
        }).asInstanceOf[T]
  }

  /** Union-find oracle of the identity closure: every node of `edges` →
    * the least node of its component (ASCII ids, so String order is the
    * UTF-8 byte order the pipeline uses). */
  def closure(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Alias events, one per `(person, alias)` edge. */
  def aliasLines(edges: Seq[(String, String)], t0: Long): Seq[String] =
    edges.zipWithIndex.map { case ((p, a), i) =>
      s"""{"_p": "$p", "_p2": "$a", "_n": "alias", "_t": "${t0 + i}"}"""
    }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def put(dir: String, name: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, name), lines.mkString("\n"))

  private def snapshot(out: String): Map[String, String] =
    Pipeline.identitySnapshot(spark, out).as[(String, String)].collect().toMap

  /** Every identity fact, stale ones included. */
  private def facts(out: String): Seq[(String, String)] =
    spark.read.parquet(s"$out/identity").select("alias_id", "canonical_id")
      .as[(String, String)].collect().toSeq

  private def factFiles(out: String): Set[java.nio.file.Path] =
    if (!Files.exists(Paths.get(out, "identity"))) Set.empty
    else {
      val s = Files.list(Paths.get(out, "identity"))
      try s.iterator().asScala.filter(_.getFileName.toString.contains("part-")).toSet
      finally s.close()
    }

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
    val ids = snapshot(out)
    assert(ids("alice") == "alice" && ids("anon-1") == "alice")

    // second run: nothing new -> no ingest (and the batch observation on
    // the empty checkpoint still arrives)
    val (n2, prevWm2) = within(2.minutes)(Pipeline.run(spark, in, out, Some(wmf)))
    assert(n2 == 0 && prevWm2 == 2L)

    // delta file -> only its rows are appended
    put(in, "3.json",
      """{"_p": "carol", "_n": "view", "_t": "1700000300"}""")
    val (n3, _) = Pipeline.run(spark, in, out, Some(wmf))
    assert(n3 == 1)
    assert(spark.read.parquet(s"$out/events").count() == 4)
    // no alias edges in the delta -> identity table untouched
    val ids3 = snapshot(out)
    assert(ids3 == ids)

    // delta with a NEW cluster {dave, anon-9}: prior assignments survive
    put(in, "4.json",
      """{"_p": "dave", "_p2": "anon-9", "_n": "alias", "_t": "1700000400"}""")
    Pipeline.run(spark, in, out, Some(wmf))
    val ids4 = snapshot(out)
    assert(ids4("alice") == "alice" && ids4("anon-1") == "alice")
    // canonical = min STRING of the component: "anon-9" < "dave"
    assert(ids4("dave") == "anon-9" && ids4("anon-9") == "anon-9")

    // delta with a BRIDGING edge: the two existing clusters merge
    // (the reference's G2 LIMIT-1 resolve misses this)
    put(in, "5.json",
      """{"_p": "anon-1", "_p2": "anon-9", "_n": "alias", "_t": "1700000500"}""")
    Pipeline.run(spark, in, out, Some(wmf))
    val ids5 = snapshot(out)
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
    val ids = snapshot(out)
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
    val ids1 = PipelineSpec.tbIdentity(connect)
    assert(ids1("alice") == "alice" && ids1("anon-1") == "alice")
    assert(ids1("dave") == "anon-9")

    // delta bridges the two clusters: events APPEND, identity REFRESHES
    // (stale dave -> anon-9 must not survive)
    put(in, "2.json",
      """{"_p": "anon-1", "_p2": "anon-9", "_n": "alias", "_t": "1700000200"}""")
    Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    assert(query("""SELECT count(*) FROM "tb_event"""")(_.getLong(1)) == List(3L))
    val ids2 = PipelineSpec.tbIdentity(connect)
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
    val connect = PipelineSpec.logged("graftpipenoedge")
    def events(): Long =
      PipelineSpec.query(connect, """SELECT count(*) FROM "tb_event"""")(_.getLong(1)).head
    def identity(): Map[String, String] = PipelineSpec.tbIdentity(connect)

    put(in, "1.json",
      """{"_p": "alice", "_p2": "anon-1", "_n": "alias", "_t": "1700000000"}""",
      """{"_p": "dave", "_p2": "anon-9", "_n": "alias", "_t": "1700000100"}""",
      """{"_p": "erin", "_n": "updated email", "_t": "1700000150", "new_email": "e@x", "previous_email": "erin"}""")
    Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    val ids1 = identity()
    assert(ids1 == Map("alice" -> "alice", "anon-1" -> "alice",
      "anon-9" -> "anon-9", "dave" -> "anon-9", "e@x" -> "e@x", "erin" -> "e@x"))

    // no alias, an empty _p2, and an 'updated email' without new_email:
    // none is an edge, so no closure runs and neither tb_identity nor the
    // identity facts are touched
    put(in, "2.json",
      """{"_p": "bob", "_n": "view", "_t": "1700000200"}""",
      """{"_p": "carol", "_p2": "", "_n": "alias", "_t": "1700000300"}""",
      """{"_p": "alice", "_n": "updated email", "_t": "1700000400", "previous_email": "alice"}""")
    val files = factFiles(out)
    PipelineSpec.JdbcLog.reset()
    val (n2, _) = Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
    assert(n2 == 3)
    assert(PipelineSpec.JdbcLog.mentioning("tb_event").nonEmpty, "the log saw the tb_event load")
    assert(PipelineSpec.JdbcLog.mentioning("tb_identity").isEmpty,
      PipelineSpec.JdbcLog.mentioning("tb_identity").mkString("\n"))
    assert(factFiles(out) == files, "no facts appended")
    assert(events() == 6L)
    assert(identity() == ids1)
    val cols = PipelineSpec.query(connect,
      """SELECT c.COLUMNNAME FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t
         ON c.REFERENCEID = t.TABLEID WHERE t.TABLENAME = 'tb_identity'
         ORDER BY c.COLUMNNUMBER""")(_.getString(1))
    assert(cols == List("alias", "id"))
  }

  test("a bridging delta appends exactly its new and re-pointed aliases") {
    val in = Files.createTempDirectory("pipe-delta-in").toString
    val out = Files.createTempDirectory("pipe-delta-out").toString
    val wmf = Files.createTempDirectory("pipe-delta-wm").resolve("last").toString
    val connect = PipelineSpec.logged("graftpipedelta")
    def run() = Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)

    val history = Seq("alice" -> "anon-1", "dave" -> "anon-9", "anon-9" -> "zoe",
      "erin" -> "anon-5", "gus" -> "hal")
    put(in, "1.json", PipelineSpec.aliasLines(history, 1700000000L): _*)
    run()
    val before = facts(out)
    assert(before.toMap == PipelineSpec.closure(history) && before.size == before.toMap.size)

    // anon-1—zoe bridges {alice, anon-1} and {anon-9, dave, zoe}: dave,
    // anon-9 and zoe re-point to alice; ivy joins erin's cluster; {jo, kim}
    // is new; {gus, hal} is untouched
    val bridge = Seq("anon-1" -> "zoe", "ivy" -> "erin", "kim" -> "jo")
    put(in, "2.json", PipelineSpec.aliasLines(bridge, 1700000100L): _*)
    PipelineSpec.JdbcLog.reset()
    run()
    val want = PipelineSpec.closure(history ++ bridge)
    val changed = want.filter { case (a, c) => !before.toMap.get(a).contains(c) }
    assert(changed.keySet == Set("dave", "anon-9", "zoe", "ivy", "jo", "kim"))
    val appended = facts(out).diff(before)
    assert(appended.sorted == changed.toSeq.sorted)
    assert(PipelineSpec.JdbcLog.identityInserted.get == changed.size)
    assert(snapshot(out) == want)
    assert(PipelineSpec.tbIdentity(connect) == want)
  }

  test("crash after the tb_identity upsert, before the facts append: a rerun matches a clean run") {
    val batches = Seq(
      Seq("alice" -> "anon-1", "dave" -> "anon-9"),
      Seq("erin" -> "anon-5", "anon-9" -> "zoe"),
      Seq("anon-1" -> "zoe", "erin" -> "fay"))
    def setup(tag: String) = (Files.createTempDirectory(s"pipe-$tag-in").toString,
      Files.createTempDirectory(s"pipe-$tag-out").toString,
      Files.createTempDirectory(s"pipe-$tag-wm").resolve("last").toString,
      PipelineSpec.logged(s"graftpipe$tag"))

    val (cIn, cOut, cWm, cConnect) = setup("clean")
    val (in, out, wmf, connect) = setup("crash")
    batches.zipWithIndex.foreach { case (edges, i) =>
      val name = s"${i + 1}.json"
      put(cIn, name, PipelineSpec.aliasLines(edges, 1700000000L + 100 * i): _*)
      Pipeline.run(spark, cIn, cOut, Some(cWm), Some(cConnect), jdbcMaxVarchar = 4000)
      put(in, name, PipelineSpec.aliasLines(edges, 1700000000L + 100 * i): _*)
      val kept = factFiles(out)
      Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
      if (i == batches.size - 1) {
        // the kill: the last batch upserted tb_identity, but its facts and
        // its watermark never landed
        (factFiles(out) -- kept).foreach(Files.delete)
        Files.writeString(Paths.get(wmf), i.toString)
        Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
      }
    }
    val want = PipelineSpec.closure(batches.flatten)
    assert(snapshot(cOut) == want && PipelineSpec.tbIdentity(cConnect) == want)
    assert(snapshot(out) == snapshot(cOut))
    assert(PipelineSpec.tbIdentity(connect) == PipelineSpec.tbIdentity(cConnect))
  }

  test("seeded deltas with bridges: snapshot = tb_identity = union-find after each") {
    val in = Files.createTempDirectory("pipe-rand-in").toString
    val out = Files.createTempDirectory("pipe-rand-out").toString
    val wmf = Files.createTempDirectory("pipe-rand-wm").resolve("last").toString
    val connect = PipelineSpec.logged("graftpiperand")
    val rnd = new Random(7)
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    (1 to 8).foreach { f =>
      // ids from a small pool, so later deltas bridge earlier clusters; a
      // quarter of the deltas carry no edge at all
      val edges = if (f % 4 == 3) Seq.empty
        else Seq.fill(1 + rnd.nextInt(5))(s"u${rnd.nextInt(30)}" -> s"u${rnd.nextInt(30)}")
      seen ++= edges
      put(in, s"$f.json", (s"""{"_p": "v$f", "_n": "view", "_t": "${1700000000L + 100 * f}"}""" +:
        PipelineSpec.aliasLines(edges, 1700000001L + 100 * f)): _*)
      Pipeline.run(spark, in, out, Some(wmf), Some(connect), jdbcMaxVarchar = 4000)
      val want = PipelineSpec.closure(seen.toSeq).filter { case (a, _) =>
        seen.exists { case (p, q) => p != q && (p == a || q == a) } }
      assert(snapshot(out) == want, s"snapshot after delta $f")
      assert(PipelineSpec.tbIdentity(connect) == want, s"tb_identity after delta $f")
    }
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
