package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the numbered-NDJSON revision source — the
  * O2/O3 ingest contract moved to PLANNING time.
  *
  * `spark.read.format("graft-ndjson").load(dir)` yields
  * `(file STRING, file_no BIGINT, line_no BIGINT, line STRING)`; feed it to
  * [[graft.ingest.NdjsonReader.events]] for the parse/repair chain.
  *
  * What this source adds over `spark.read.text + input_file_name()` (the
  * batch path, [[graft.ingest.NdjsonReader.rawLines]]): not file pruning —
  * the text path also skips files at or below the watermark at planning
  * time, through a filter on `_metadata.file_path` — but `line_no`
  * lineage (the 1-based physical line of each row in its file) and
  * partitions in natural file order, one per file (below). Its own
  * pruning is `SupportsPushDownFilters` on `file_no`; it is advisory
  * (exact at file granularity since `file_no` is constant per file):
  * every filter is also returned as a post-scan residual, the same
  * defensive stance parquet takes.
  *
  * Natural order: partition index = natural rank of the file (numeric
  * `file_no`, path as tiebreak — `10.json` after `2.json`), mirroring the
  * reference's `natsort` processing order
  * (`/root/reference/src/KissmetricsToDatabase.php:177`). Hidden dotfiles
  * are skipped (`:168`). One split per file: revision files are
  * append-batch sized, and per-file splits keep the "watermark advances
  * only after a file fully commits" semantics of O3 exact.
  */
class NdjsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ndjson"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NdjsonSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft-ndjson requires .load(path)")
    new NdjsonTable(path)
  }
}

object NdjsonSource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("file_no", LongType, nullable = true),
    StructField("line_no", LongType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** First digit run of the basename, as the reference's numeric watermark
    * key (`/root/reference/src/KissmetricsToDatabase.php:723-724`); None
    * for digit-less names. */
  def fileNo(p: Path): Option[Long] = {
    val m = "\\d+".r.findFirstIn(p.getName)
    m.flatMap(_.toLongOption)
  }

  /** `*.json` files under `dir` in natural order, hidden files skipped.
    * Hadoop `FileSystem` end to end (O1): `dir` may carry ANY registered
    * scheme — `file:`, `s3a:`, `hdfs:`, a test-scoped wrapper — the
    * reference's bucket sync collapses into reading the object store
    * directly (`/root/reference/src/Operations/SyncBucket.php:36-45`).
    * Scheme-resolution is the caller's Hadoop `Configuration` (the
    * session's, at plan time), NOT the JVM-default filesystem. */
  def listNatural(dir: String, conf: Configuration): Seq[(Path, Option[Long])] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.listStatus(dirPath).toSeq
      .filter(_.isFile)
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".json"))
      .filter(p => !p.getName.startsWith("."))
      .map(p => (p, fileNo(p)))
      .sortBy { case (p, no) => (no.getOrElse(Long.MaxValue), p.toString) }
  }
}

private[sources] class NdjsonTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-ndjson(`$path`)"
  override def schema(): StructType = NdjsonSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NdjsonScanBuilder(path)
}

private[sources] class NdjsonScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = NdjsonSource.Schema

  // accept file_no bounds for file pruning; EVERYTHING stays post-scan
  // (advisory pushdown — exact at file granularity, but keeping the
  // residual costs one codegen'd comparison and protects correctness)
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter {
      case GreaterThan("file_no", _: Long)        => true
      case GreaterThanOrEqual("file_no", _: Long) => true
      case LessThan("file_no", _: Long)           => true
      case LessThanOrEqual("file_no", _: Long)    => true
      case EqualTo("file_no", _: Long)            => true
      case _                                      => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new NdjsonScan(path, accepted, required)
}

private[sources] class NdjsonScan(path: String, pushed: Array[Filter],
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ndjson $path, PushedFilters: [${pushed.mkString(", ")}]"

  private def keep(no: Option[Long]): Boolean = pushed.forall { f =>
    no match {
      case None => false // digit-less name can never satisfy a file_no bound
      case Some(v) => f match {
        case GreaterThan("file_no", w: Long)        => v > w
        case GreaterThanOrEqual("file_no", w: Long) => v >= w
        case LessThan("file_no", w: Long)           => v < w
        case LessThanOrEqual("file_no", w: Long)    => v <= w
        case EqualTo("file_no", w: Long)            => v == w
        case _                                      => true
      }
    }
  }

  // Planning runs on the driver: the SESSION's Hadoop conf resolves the
  // path's scheme (s3a credentials, test fs registrations, ...); the
  // same conf ships to executors inside the reader factory, so open()
  // resolves identically there — the standard FileFormat contract.
  private def hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] =
    NdjsonSource.listNatural(path, hadoopConf)
      .filter { case (_, no) => pushed.isEmpty || keep(no) }
      .map { case (p, no) =>
        NdjsonPartition(p.toString, no): InputPartition
      }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new NdjsonReaderFactory(required.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
}

private[sources] case class NdjsonPartition(file: String, fileNo: Option[Long])
  extends InputPartition

private[sources] class NdjsonReaderFactory(fields: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NdjsonPartitionReader(partition.asInstanceOf[NdjsonPartition], fields,
      conf.value)
}

/** Streams one file; blank lines are skipped (F1, the reference's
  * `empty($line)` skip — `/root/reference/src/Operations/ProcessFile.php:29-31`)
  * but still advance `line_no`, so lineage points at the physical line. */
private[sources] class NdjsonPartitionReader(part: NdjsonPartition,
    fields: Array[String], conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val reader = {
    val p = new Path(part.file)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf).open(p), StandardCharsets.UTF_8))
  }
  private var lineNo = 0L
  private var current: String = _

  override def next(): Boolean = {
    var l = reader.readLine()
    lineNo += 1
    while (l != null && l.trim.isEmpty) { l = reader.readLine(); lineNo += 1 }
    current = l
    l != null
  }

  override def get(): InternalRow =
    new GenericInternalRow(fields.map[Any] {
      case "file"    => UTF8String.fromString(part.file)
      case "file_no" => part.fileNo.map(Long.box).orNull
      case "line_no" => lineNo
      case "line"    => UTF8String.fromString(current)
    })

  override def close(): Unit = reader.close()
}
