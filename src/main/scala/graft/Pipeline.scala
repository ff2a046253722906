package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *  - identity = connected components over (person, alias) pairs, kept
  *    as append-only `(alias_id, canonical_id)` facts whose least
  *    canonical id per alias is the current assignment — the correct
  *    closure, not the reference's G2 LIMIT-1 approximation;
  *  - watermark only advances after both writes commit (the reference's
  *    rollback contract, `/root/reference/src/KissmetricsToDatabase.php:742-745`);
  *  - for continuous operation use graft.streaming.StreamIngest — same
  *    transforms, checkpoint instead of watermark file.
  */
object Pipeline {

  /** Declared schema of the `$outDir/identity` facts: reading them with
    * this schema skips parquet's schema-inference job. */
  private val IdentitySchema = "alias_id string, canonical_id string"

  /** Rows per identity-facts parquet file a batch appends (two short
    * strings per row, so ~100 MB files at the top): a small delta writes
    * one file, not one per shuffle partition. */
  private val IdentityRowsPerFile = 4000000L

  /** One batch: the files after the watermark → events parquet (append) →
    * identity facts (append, only when the batch carries an identity edge)
    * → optional warehouse load → watermark advance.
    *
    * The batch reads only what it needs: files at or below the watermark
    * are pruned at planning time (see [[NdjsonReader.rawLines]]), and the
    * event count, the batch's highest `file_no` and whether any row yields
    * an identity edge are observed on the events checkpoint job itself.
    *
    * Identity is append-only. A component only grows and its canonical id
    * is the min of its nodes, so an alias's canonical id can only decrease:
    * `$outDir/identity` holds `(alias_id, canonical_id)` facts, the current
    * assignment of an alias is its least fact ([[identitySnapshot]]), and
    * every fact, stale or not, is still a valid closure edge. A batch with
    * an edge computes closure(facts ∪ its edges), takes Δ = the closure
    * rows that are not yet facts (exactly the new and re-pointed aliases),
    * upserts Δ into `tb_identity` by alias, then appends Δ to the facts.
    * The facts are never overwritten, and a rerun after a crash between
    * the upsert and the append recomputes the same Δ. A batch with no edge,
    * or whose edges change no assignment, writes to neither.
    *
    * @param jdbcConnect when set, also load the warehouse the way the
    *        reference does: append this batch's events to `tb_event` and
    *        upsert Δ into `tb_identity` (one transaction, through the
    *        staging table of [[graft.sink.JdbcSink.writeReplacing]]).
    * @return (events ingested, previous watermark or -1)
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          watermarkFile: Option[String],
          jdbcConnect: Option[() => java.sql.Connection] = None,
          jdbcMaxVarchar: Int = 65535): (Long, Long) = {
    val wm = watermarkFile.flatMap(WatermarkStore.read)
    val batch = Observation("batch")
    val events = NdjsonReader.readEvents(spark, inDir, wm)
      .withColumn("event_date", to_date(col("ts")))
      .observe(batch, count(lit(1)), max(col("file_no")), max(IdentityEdges.hasEdge))
      .localCheckpoint(eager = true) // read input once; feeds 3 consumers

    val stats = Components.observed(batch)
    val nEvents = stats.getLong(0)
    if (nEvents > 0) {
      events.write.mode("append")
        .partitionBy("event_date")
        .parquet(s"$outDir/events")

      val idDir = s"$outDir/identity"
      val delta = Option.when(stats.getBoolean(2)) {
        val facts = readFacts(spark, idDir)
        // alias events PLUS the reference's 'updated email' edge folding
        // (person—new_email, new_email—previous_email), unioned with the
        // facts (themselves edges alias—canonical): without them a bridging
        // edge would never merge two pre-existing clusters (the reference's
        // G2 bug this engine fixes,
        // /root/reference/src/Operations/FileImporter.php:104-130).
        // collisionFree: the assignments feed back as edges every batch, so
        // an xxhash64 over-merge would be permanent.
        val closure = Components.connectedComponentsString(
          facts.union(IdentityEdges.fromEvents(events)), collisionFree = true)
          .withColumnRenamed("id", "alias_id")
        // materialized off the facts dir before the append below
        val changed = Observation("identity_delta")
        val d = closure.join(facts, Seq("alias_id", "canonical_id"), "left_anti")
          .observe(changed, count(lit(1)))
          .localCheckpoint(eager = true)
        (d, Components.observed(changed).getLong(0))
      }.filter(_._2 > 0)

      // optional warehouse load — the reference's actual sink
      // (tb_event / tb_identity in Redshift): batched multi-row inserts
      // with schema evolution, per partition in parallel.
      jdbcConnect.foreach { connect =>
        graft.sink.JdbcSink.writeEvolving(
          events.drop("event_date"), "tb_event", connect,
          maxVarchar = jdbcMaxVarchar)
        delta.foreach { case (d, _) =>
          graft.sink.JdbcSink.writeReplacing(
            d.select(col("alias_id").as("alias"), col("canonical_id").as("id")),
            "tb_identity", connect, keyCol = "alias", maxVarchar = jdbcMaxVarchar)
        }
      }
      delta.foreach { case (d, n) =>
        val files = math.max(1L, (n + IdentityRowsPerFile - 1) / IdentityRowsPerFile)
        d.coalesce(files.toInt).write.mode("append").parquet(idDir)
      }

      watermarkFile.foreach(WatermarkStore.advance(_, stats.getLong(1)))
    }
    (nEvents, wm.getOrElse(-1L))
  }

  /** The current identity assignments under `outDir`: the least
    * `canonical_id` of each alias's facts (see [[run]]); empty before the
    * first identity edge. */
  def identitySnapshot(spark: SparkSession, outDir: String): DataFrame =
    readFacts(spark, s"$outDir/identity")
      .groupBy("alias_id").agg(min("canonical_id").as("canonical_id"))

  /** Every `(alias_id, canonical_id)` fact appended so far, stale ones
    * included, as `(person, alias)`-shaped closure edges. */
  private def readFacts(spark: SparkSession, idDir: String): DataFrame =
    if (Files.exists(Paths.get(idDir))) spark.read.schema(IdentitySchema).parquet(idDir)
    else spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(IdentitySchema))

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
