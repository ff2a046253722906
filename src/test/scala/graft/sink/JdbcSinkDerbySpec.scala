package graft.sink

import java.sql.DriverManager

import graft.SparkSpec

/** Live end-to-end sink test against embedded Derby (ships with Spark):
  * create, partition-parallel transactional insert, schema-evolve on a
  * second write with new columns, read back over plain JDBC.
  */
object JdbcSinkDerbySpec {
  // top-level so the connect closure shipped to executors captures nothing
  // but this static reference (the spec instance is not serializable)
  val url = "jdbc:derby:memory:graftdb;create=true"
  def connect(): java.sql.Connection = DriverManager.getConnection(url)
}

class JdbcSinkDerbySpec extends SparkSpec {
  import spark.implicits._
  import JdbcSinkDerbySpec.url

  test("writeEvolving creates, inserts, evolves, appends") {
    val connect: () => java.sql.Connection = JdbcSinkDerbySpec.connect _

    val batch1 = Seq(("alice", 1L), ("bob", 2L)).toDF("person", "n")
    JdbcSink.writeEvolving(batch1, "tb_event", connect, maxVarchar = 4000)

    val batch2 = Seq(("carol", 3L, 9.5)).toDF("person", "n", "score")
    JdbcSink.writeEvolving(batch2, "tb_event", connect, maxVarchar = 4000)

    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "person", "n", "score" FROM "tb_event" ORDER BY "n"""")
      val rows = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2),
          Option(r.getObject(3)).map(_.asInstanceOf[Double])))
        .toList
      assert(rows == List(
        ("alice", 1L, None), // pre-evolution rows read NULL for the new col
        ("bob", 2L, None),
        ("carol", 3L, Some(9.5))))
    } finally conn.close()
  }

  test("writeIdempotent: replaying the same batch inserts nothing (T2)") {
    import org.apache.spark.sql.functions.{concat_ws, md5}
    val connect: () => java.sql.Connection = JdbcSinkDerbySpec.connect _

    def batch(rows: Seq[(String, Long)]) = rows.toDF("person", "n")
      .withColumn("md5hash", md5(concat_ws("", $"person", $"n")))

    val b1 = batch(Seq(("alice", 1L), ("bob", 2L)))
    assert(JdbcSink.writeIdempotent(b1, "tb_idem", connect, maxVarchar = 4000) == 2L)
    // full replay of the same batch: the no-re-insert-on-replay contract
    assert(JdbcSink.writeIdempotent(b1, "tb_idem", connect, maxVarchar = 4000) == 0L)
    // partial overlap: only the genuinely new row lands
    val b2 = batch(Seq(("bob", 2L), ("carol", 3L)))
    assert(JdbcSink.writeIdempotent(b2, "tb_idem", connect, maxVarchar = 4000) == 1L)

    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT count(*), count(DISTINCT "md5hash") FROM "tb_idem"""")
      assert(rs.next())
      assert(rs.getLong(1) == 3L && rs.getLong(2) == 3L)
      // staging table dropped after the load
      val meta = conn.getMetaData.getTables(null, null, "tb_idem_staging", null)
      try assert(!meta.next(), "staging table left behind") finally meta.close()
    } finally conn.close()
  }

  test("writeReplacing: replacing by key twice equals once; keys unique, column order kept") {
    val connect: () => java.sql.Connection = JdbcSinkDerbySpec.connect _
    def table(): List[(String, String)] = {
      val conn = connect()
      try {
        val rs = conn.createStatement().executeQuery(
          """SELECT "alias", "id" FROM "tb_repl" ORDER BY "alias"""")
        try Iterator.continually(rs).takeWhile(_.next())
          .map(r => r.getString(1) -> r.getString(2)).toList
        finally rs.close()
      } finally conn.close()
    }

    val base = Seq(("a", "a"), ("b", "a"), ("c", "c"), ("e", "c")).toDF("alias", "id")
    assert(JdbcSink.writeReplacing(base, "tb_repl", connect, keyCol = "alias",
      maxVarchar = 4000) == 4L)
    // c is re-pointed, d is new, the other keys are not staged
    val up = Seq(("c", "a"), ("d", "a")).toDF("alias", "id")
    assert(JdbcSink.writeReplacing(up, "tb_repl", connect, keyCol = "alias",
      maxVarchar = 4000) == 2L)
    val once = table()
    assert(once == List("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "c"))
    assert(JdbcSink.writeReplacing(up, "tb_repl", connect, keyCol = "alias",
      maxVarchar = 4000) == 2L)
    assert(table() == once, "a replayed replace must not change the table")

    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT c.COLUMNNAME FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t
           ON c.REFERENCEID = t.TABLEID WHERE t.TABLENAME = 'tb_repl'
           ORDER BY c.COLUMNNUMBER""")
      val cols = try Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
        finally rs.close()
      assert(cols == List("alias", "id"))
      val meta = conn.getMetaData.getTables(null, null, "tb_repl_staging", null)
      try assert(!meta.next(), "staging table left behind") finally meta.close()
    } finally conn.close()
  }

  test("numeric bind types round-trip (Float, BigDecimal, Short, Byte)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val connect: () => java.sql.Connection = JdbcSinkDerbySpec.connect _
    val schema = StructType(Seq(
      StructField("k", StringType),
      StructField("f", FloatType),
      StructField("d", DecimalType(10, 2)),
      StructField("s", ShortType),
      StructField("b", ByteType)))
    val df = spark.createDataFrame(
      java.util.List.of(
        Row("x", 1.5f, new java.math.BigDecimal("12.34"), 7.toShort, 3.toByte)),
      schema)
    // Derby is strict: setString into DOUBLE/NUMERIC columns would throw —
    // this test fails if bind() falls through to the string case.
    JdbcSink.writeEvolving(df, "tb_types", connect, maxVarchar = 4000)
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "f", "d", "s", "b" FROM "tb_types"""")
      assert(rs.next())
      assert(rs.getDouble(1) == 1.5)
      assert(rs.getBigDecimal(2) == new java.math.BigDecimal("12.34"))
      assert(rs.getLong(3) == 7L && rs.getLong(4) == 3L)
    } finally conn.close()
  }
}
