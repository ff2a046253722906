package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.identity.{Components, IdentityEdges}
import graft.ingest.{NdjsonReader, WatermarkStore}

/** The reference's `bin/ktd process-files` end-to-end, Spark-native
  * (`/root/reference/src/Commands/ProcessFilesCommand.php`): incremental
  * NDJSON ingest → typed events parquet → identity closure parquet.
  *
  * Usage: `runMain graft.Pipeline <inDir> <outDir> [watermarkFile]`
  *
  *  - events land date-partitioned (partition pruning for every downstream
  *    time-ranged query — the wide-table answer the reference's row store
  *    never had);
  *  - identity = connected components over (person, alias) pairs, written
  *    as `(id, canonical_id)` — the correct closure, not the reference's
  *    G2 LIMIT-1 approximation;
  *  - watermark only advances after both writes commit (the reference's
  *    rollback contract, `/root/reference/src/KissmetricsToDatabase.php:742-745`);
  *  - for continuous operation use graft.streaming.StreamIngest — same
  *    transforms, checkpoint instead of watermark file.
  */
object Pipeline {

  /** Declared schema of the `$outDir/identity` snapshot: reading it with
    * this schema skips parquet's schema-inference job. */
  private val IdentitySchema = "alias_id string, canonical_id string"

  /** One batch: the files after the watermark → events parquet (append) →
    * identity closure parquet (overwrite, only when the batch carries an
    * identity edge) → optional warehouse load → watermark advance.
    *
    * The batch reads only what it needs: files at or below the watermark
    * are pruned at planning time (see [[NdjsonReader.rawLines]]), one
    * aggregate over the checkpointed events gives the event count, the
    * batch's highest `file_no` and whether any row yields an identity
    * edge, and the identity snapshot is read with its declared schema.
    *
    * @param jdbcConnect when set, also load the warehouse the way the
    *        reference does: append this batch's events to `tb_event` and
    *        refresh `tb_identity` with the current closure snapshot
    *        (truncate + reload — the closure REWRITES assignments when a
    *        bridge merges clusters, so append-only rows would go stale).
    *        A batch that computed a closure loads it from its checkpoint;
    *        otherwise the snapshot is re-read from parquet.
    * @return (events ingested, previous watermark or -1)
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          watermarkFile: Option[String],
          jdbcConnect: Option[() => java.sql.Connection] = None,
          jdbcMaxVarchar: Int = 65535): (Long, Long) = {
    val wm = watermarkFile.flatMap(WatermarkStore.read)
    val events = NdjsonReader.readEvents(spark, inDir, wm)
      .withColumn("event_date", to_date(col("ts")))
      .localCheckpoint(eager = true) // read input once; feeds 3 consumers

    val stats = events.agg(count(lit(1)), max(col("file_no")),
      max(IdentityEdges.hasEdge)).head()
    val nEvents = stats.getLong(0)
    if (nEvents > 0) {
      events.write.mode("append")
        .partitionBy("event_date")
        .parquet(s"$outDir/events")

      val idDir = s"$outDir/identity"
      val closure = Option.when(stats.getBoolean(2)) {
        // alias events PLUS the reference's 'updated email' edge folding
        // (person—new_email, new_email—previous_email)
        val edges = IdentityEdges.fromEvents(events)
        // Incremental merge: union the delta's edges with the EXISTING
        // assignments (themselves edges node—canonical) before closure —
        // otherwise a delta batch would overwrite the table with only its
        // own components and a bridging edge would never merge two
        // pre-existing clusters (the reference's G2 bug this engine fixes,
        // /root/reference/src/Operations/FileImporter.php:104-130).
        val existing =
          if (Files.exists(Paths.get(idDir)))
            readIdentity(spark, idDir)
              .select(col("alias_id").as("person"), col("canonical_id").as("alias"))
          else spark.emptyDataFrame
            .select(lit("").as("person"), lit("").as("alias")).limit(0)
        val c = Components.connectedComponentsString(existing.union(edges))
          .withColumnRenamed("id", "alias_id")
          // materialize off the source dir before overwriting it (write
          // would otherwise truncate the parquet it is lazily reading)
          .localCheckpoint(eager = true)
        c.write.mode("overwrite").parquet(idDir)
        c
      }

      // optional warehouse load — the reference's actual sink
      // (tb_event / tb_identity in Redshift): batched multi-row inserts
      // with schema evolution, per partition in parallel.
      jdbcConnect.foreach { connect =>
        graft.sink.JdbcSink.writeEvolving(
          events.drop("event_date"), "tb_event", connect,
          maxVarchar = jdbcMaxVarchar)
        closure
          .orElse(Option.when(Files.exists(Paths.get(idDir)))(readIdentity(spark, idDir)))
          .foreach { ids =>
            truncateIfExists(connect, "tb_identity")
            graft.sink.JdbcSink.writeEvolving(
              ids.withColumnRenamed("canonical_id", "id")
                .withColumnRenamed("alias_id", "alias"),
              "tb_identity", connect, maxVarchar = jdbcMaxVarchar)
          }
      }

      watermarkFile.foreach(WatermarkStore.advance(_, stats.getLong(1)))
    }
    (nEvents, wm.getOrElse(-1L))
  }

  private def readIdentity(spark: SparkSession, idDir: String) =
    spark.read.schema(IdentitySchema).parquet(idDir)

  private[graft] def truncateIfExists(connect: () => java.sql.Connection,
                               table: String): Unit = {
    val conn = connect()
    try {
      val exists = {
        val rs = conn.getMetaData.getTables(null, null, table, null)
        try rs.next() finally rs.close()
      }
      if (exists) {
        val st = conn.createStatement()
        // DELETE, not TRUNCATE: universally supported (Derby has no
        // TRUNCATE before 10.7) and transactional
        try st.executeUpdate(s"""DELETE FROM "$table"""") finally st.close()
      }
    } finally conn.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Pipeline <inDir> <outDir> [watermarkFile]")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (n, wm) = run(spark, args(0), args(1), args.lift(2))
    println(s"""{"events_ingested":$n,"previous_watermark":$wm}""")
    spark.stop()
  }
}
