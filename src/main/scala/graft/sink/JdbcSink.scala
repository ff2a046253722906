package graft.sink

import java.sql.Connection

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.model.Sanitize

/** O6-O9 — the reference's Redshift sink, re-centred on Spark's execution
  * model:
  *
  *  - batched multi-row INSERT (`/root/reference/src/KissmetricsToDatabase.php:810-849`)
  *    → per-partition `PreparedStatement.addBatch` (partition-parallel, one
  *    connection per partition instead of one per process);
  *  - transaction-per-file (`/root/reference/src/Operations/FileImporter.php:142-163`)
  *    → transaction-per-partition/batch with explicit commit/rollback;
  *  - schema evolution: diff DataFrame schema vs live table columns, emit
  *    `ALTER TABLE ADD` (`/root/reference/src/Operations/FileImporter.php:28-69`)
  *    — but ONCE per batch on the driver, never per row.
  *
  * SQL generation is pure and unit-tested; the connection factory is
  * injected so the same code drives Redshift/Postgres in production and a
  * stub in tests. For Parquet-native pipelines none of this is needed —
  * `df.write.parquet` with `mergeSchema` replaces the whole ALTER dance.
  */
object JdbcSink {

  /** Quote + sanitize an identifier (reference key-sanitize rules). */
  def ident(name: String): String =
    "\"" + Sanitize.key(name).replace("\"", "") + "\""

  /** Spark type → portable SQL type (reference stores everything VARCHAR;
    * we keep real types and only fall back to the default for strings).
    * `maxVarchar` is dialect-dependent: 65535 on Redshift, 32672 on Derby.
    * `defaultType` is the reference's `DB_DEFAULT_FIELD_TYPE` knob
    * (`/root/reference/src/KissmetricsToDatabase.php:250`): the SQL type
    * used for dynamically-discovered (string) columns — e.g. `TEXT` on
    * Postgres instead of a sized VARCHAR. None keeps `VARCHAR(maxVarchar)`.
    */
  def sqlType(dt: DataType, maxVarchar: Int = 65535,
              defaultType: Option[String] = None): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType => "DOUBLE PRECISION"
    case BooleanType            => "BOOLEAN"
    case DateType               => "DATE"
    case _: TimestampType       => "TIMESTAMP"
    case d: DecimalType         => s"NUMERIC(${d.precision},${d.scale})"
    case _                      => defaultType.getOrElse(s"VARCHAR($maxVarchar)")
  }

  def createTableSql(table: String, schema: StructType,
                     maxVarchar: Int = 65535,
                     defaultType: Option[String] = None): String =
    schema.fields
      .map(f => s"${ident(f.name)} ${sqlType(f.dataType, maxVarchar, defaultType)}")
      .mkString(s"CREATE TABLE IF NOT EXISTS ${ident(table)} (", ", ", ")")

  /** Columns present in the frame but missing from the live table. */
  def diffColumns(schema: StructType, existing: Seq[String]): Seq[StructField] = {
    val have = existing.map(Sanitize.key(_).toLowerCase).toSet
    schema.fields.toSeq.filterNot(f => have(Sanitize.key(f.name).toLowerCase))
  }

  def alterTableSql(table: String, newCols: Seq[StructField],
                    maxVarchar: Int = 65535,
                    defaultType: Option[String] = None): Seq[String] =
    newCols.map(f =>
      s"ALTER TABLE ${ident(table)} ADD COLUMN ${ident(f.name)} " +
        sqlType(f.dataType, maxVarchar, defaultType))

  def insertSql(table: String, schema: StructType): String = {
    val cols = schema.fields.map(f => ident(f.name)).mkString(", ")
    val qs = schema.fields.map(_ => "?").mkString(", ")
    s"INSERT INTO ${ident(table)} ($cols) VALUES ($qs)"
  }

  /** Live column introspection via JDBC metadata. */
  def existingColumns(conn: Connection, table: String): Seq[String] = {
    val rs = conn.getMetaData.getColumns(null, null, Sanitize.key(table).replace("\"", ""), null)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rs.next()) buf += rs.getString("COLUMN_NAME")
    rs.close()
    buf.toSeq
  }

  /** Driver-side, once-per-batch schema evolution (the reference re-ran the
    * diff per ROW). */
  def evolveSchema(conn: Connection, table: String, schema: StructType,
                   maxVarchar: Int = 65535,
                   defaultType: Option[String] = None): Seq[String] = {
    val stmts = alterTableSql(table,
      diffColumns(schema, existingColumns(conn, table)), maxVarchar, defaultType)
    val st = conn.createStatement()
    try stmts.foreach(st.execute) finally st.close()
    stmts
  }

  private def bind(ps: java.sql.PreparedStatement, schema: StructType, row: Row): Unit = {
    var i = 0
    while (i < schema.length) {
      val v = if (row.isNullAt(i)) null else row.get(i)
      v match {
        case null                       => ps.setObject(i + 1, null)
        case l: Long                    => ps.setLong(i + 1, l)
        case n: Int                     => ps.setInt(i + 1, n)
        case d: Double                  => ps.setDouble(i + 1, d)
        case f: Float                   => ps.setFloat(i + 1, f)
        case s: Short                   => ps.setInt(i + 1, s.toInt)
        case b: Byte                    => ps.setInt(i + 1, b.toInt)
        case d: java.math.BigDecimal    => ps.setBigDecimal(i + 1, d)
        case d: BigDecimal              => ps.setBigDecimal(i + 1, d.bigDecimal)
        case b: Boolean                 => ps.setBoolean(i + 1, b)
        case t: java.sql.Timestamp      => ps.setTimestamp(i + 1, t)
        case d: java.sql.Date           => ps.setDate(i + 1, d)
        case other                      => ps.setString(i + 1, other.toString)
      }
      i += 1
    }
  }

  /** Partition-parallel transactional batched write. `connect` runs on the
    * executors; each partition is one transaction with `batchSize`-row
    * executeBatch flushes (the reference's DB_QUERIES_PER_CALL splice,
    * minus the per-statement network round-trip).
    */
  def write(df: DataFrame, table: String, connect: () => Connection,
            batchSize: Int = 1000): Unit = {
    val schema = df.schema
    val sql = insertSql(table, schema)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn = connect()
        SinkGauge.enter()
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(sql)
          var pending = 0
          rows.foreach { r =>
            bind(ps, schema, r)
            ps.addBatch()
            pending += 1
            if (pending >= batchSize) { ps.executeBatch(); pending = 0 }
          }
          if (pending > 0) ps.executeBatch()
          ps.close()
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally { SinkGauge.exit(); conn.close() }
      }
    }
  }

  /** Ensure a (non-unique) index on the idempotency key column — probe
    * JDBC metadata first (no IF NOT EXISTS for indexes in every dialect). */
  private def ensureKeyIndex(conn: Connection, table: String, keyCol: String): Unit = {
    val idxName = Sanitize.key(s"${table}_${keyCol}_idx").replace("\"", "")
    val rs = conn.getMetaData.getIndexInfo(null, null,
      Sanitize.key(table).replace("\"", ""), false, false)
    val exists =
      try Iterator.continually(rs).takeWhile(_.next())
        .exists(r => Option(r.getString("INDEX_NAME")).contains(idxName))
      finally rs.close()
    if (!exists)
      execute(conn, s"""CREATE INDEX "$idxName" ON ${ident(table)} (${ident(keyCol)})""")
  }

  private def tableExists(conn: Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null,
      Sanitize.key(table).replace("\"", ""), null)
    try rs.next() finally rs.close()
  }

  private def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try { st.execute(sql); () } finally st.close()
  }

  /** Ensure the table exists (no IF NOT EXISTS in every dialect — Derby
    * lacks it, so probe first) and evolve its schema to cover `schema`. */
  private def ensureAndEvolve(conn: Connection, table: String,
      schema: StructType, maxVarchar: Int,
      defaultType: Option[String] = None): Unit = {
    if (!tableExists(conn, table))
      execute(conn, createTableSql(table, schema, maxVarchar, defaultType)
        .replace("CREATE TABLE IF NOT EXISTS", "CREATE TABLE"))
    evolveSchema(conn, table, schema, maxVarchar, defaultType)
  }

  /** Full evolving write: ensure table, diff + ALTER (driver, once), then
    * partition-parallel insert. The write is at-least-once per partition
    * retry; pair with an `md5hash`-keyed dedup downstream, or use
    * [[writeIdempotent]] for the no-re-insert-on-replay contract.
    */
  def writeEvolving(df: DataFrame, table: String, connect: () => Connection,
                    batchSize: Int = 1000, maxVarchar: Int = 65535,
                    defaultType: Option[String] = None): Unit = {
    val conn = connect()
    try ensureAndEvolve(conn, table, df.schema, maxVarchar, defaultType)
    finally conn.close()
    write(df, table, connect, batchSize)
  }

  /** Idempotent evolving write — the reference's T2 contract: replaying a
    * file must not re-insert its rows
    * (`/root/reference/src/Operations/FileImporter.php:142-163` commits per
    * file and rolls the watermark back on failure, so a crashed run replays).
    *
    * Publishes through [[staged]] with ONE `INSERT … SELECT … WHERE NOT
    * EXISTS` keyed on `keyCol` (the O15 `md5hash` row fingerprint): only
    * unseen rows move into the target. The key anti-join runs in the
    * database, so no key set ever transits the driver — this holds at a
    * billion-row target where "SELECT all keys" cannot.
    *
    * Within-batch duplicates are the caller's concern
    * (`dropDuplicates(keyCol)` upstream — `dedup_exact` semantics).
    *
    * @return rows actually inserted (replayed rows filtered out).
    */
  def writeIdempotent(df: DataFrame, table: String, connect: () => Connection,
                      keyCol: String = "md5hash", batchSize: Int = 1000,
                      maxVarchar: Int = 65535): Long =
    staged(df, table, connect, keyCol, batchSize, maxVarchar) { (conn, t, s, cols, k) =>
      update(conn,
        s"""INSERT INTO $t ($cols)
            SELECT $cols FROM $s st
            WHERE NOT EXISTS (SELECT 1 FROM $t tt WHERE tt.$k = st.$k)""")
    }

  /** Replace-by-key evolving write (an upsert): every row of `df` becomes
    * THE row for its `keyCol` value — target rows sharing a staged key are
    * deleted and the staged rows inserted, in one transaction through
    * [[staged]]. Rows whose key is not staged are untouched.
    *
    * The delete is a batched `DELETE … WHERE key = ?` over the staged keys,
    * one index probe each, so the write costs O(staged rows), not a scan or
    * reload of the target: a set-based `DELETE … WHERE key IN (SELECT …
    * FROM staging)` is planned by Derby as a hash semi-join that scans the
    * whole target index.
    *
    * Idempotent: replaying the same frame deletes and re-inserts the same
    * rows. Keys stay unique only if `df`'s are — within-batch duplicates
    * are the caller's concern.
    *
    * @return rows inserted (= rows of `df`).
    */
  def writeReplacing(df: DataFrame, table: String, connect: () => Connection,
                     keyCol: String, batchSize: Int = 1000,
                     maxVarchar: Int = 65535): Long =
    staged(df, table, connect, keyCol, batchSize, maxVarchar) { (conn, t, s, cols, k) =>
      val keys = conn.createStatement()
      val del = conn.prepareStatement(s"DELETE FROM $t WHERE $k = ?")
      try {
        val rs = keys.executeQuery(s"SELECT $k FROM $s")
        var pending = 0
        while (rs.next()) {
          del.setObject(1, rs.getObject(1))
          del.addBatch()
          pending += 1
          if (pending >= batchSize) { del.executeBatch(); pending = 0 }
        }
        if (pending > 0) del.executeBatch()
      } finally { del.close(); keys.close() }
      update(conn, s"INSERT INTO $t ($cols) SELECT $cols FROM $s")
    }

  private def update(conn: Connection, sql: String): Long = {
    val st = conn.createStatement()
    try st.executeUpdate(sql).toLong finally st.close()
  }

  /** The staging path shared by the keyed writes: ensure + evolve the
    * target and an index on `keyCol`, stage the batch partition-parallel
    * into a fresh `<table>_staging`, then ONE transaction runs `publish`
    * (target, staging, quoted column list, quoted key — all quoted
    * identifiers) and drops the staging table. A crash before the commit
    * leaves only a staging table that the next run drops; a crash after it
    * is a completed load.
    *
    * @return what `publish` returns.
    */
  private def staged(df: DataFrame, table: String, connect: () => Connection,
      keyCol: String, batchSize: Int, maxVarchar: Int)(
      publish: (Connection, String, String, String, String) => Long): Long = {
    require(df.columns.map(Sanitize.key(_).toLowerCase)
        .contains(Sanitize.key(keyCol).toLowerCase),
      s"keyed write needs key column '$keyCol' in the frame")
    val staging = s"${table}_staging"
    val conn = connect()
    try {
      ensureAndEvolve(conn, table, df.schema, maxVarchar)
      // the key probe is an index lookup per staged row WITH this index, a
      // full target scan per staged row WITHOUT it (quadratic — measured:
      // the 500 k-row BenchStreamPipeline never finished) — any warehouse
      // doing keyed loads wants this index
      ensureKeyIndex(conn, table, keyCol)
      if (tableExists(conn, staging)) execute(conn, s"DROP TABLE ${ident(staging)}")
      execute(conn, createTableSql(staging, df.schema, maxVarchar)
        .replace("CREATE TABLE IF NOT EXISTS", "CREATE TABLE"))
    } finally conn.close()

    write(df, staging, connect, batchSize)

    val fin = connect()
    try {
      fin.setAutoCommit(false)
      val cols = df.schema.fields.map(f => ident(f.name)).mkString(", ")
      val n = publish(fin, ident(table), ident(staging), cols, ident(keyCol))
      execute(fin, s"DROP TABLE ${ident(staging)}")
      fin.commit()
      n
    } catch {
      case e: Throwable => fin.rollback(); throw e
    } finally fin.close()
  }
}
