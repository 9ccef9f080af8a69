package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** One unit of work: a file, plus its R2 mate for paired fastx. */
case class FilePartition(path: String, mate: Option[String] = None) extends InputPartition

/** A partition's records and the resource to close once they are read. */
final case class Records[R](iterator: Iterator[R], resource: AutoCloseable)

/** Reads one output column of a record; `n` is the record's 1-based
  * position among the rows its partition emits. */
trait ColumnReader[-R] { def apply(rec: R, n: Long): Any }

/** What a file format supplies to the shared DataSource V2 stack below.
  *
  * Every format follows the reference's table-function contract
  * (reference: src/table_function_common.cpp:64-92, SURVEY §4.2):
  * sorted glob, one input partition per file (the Spark scheduler is
  * the work-stealer the reference implements by hand), an optional
  * trailing `filepath` column (added and filled here, reporting
  * `/dev/stdin` for stdin input), stdin where the reference reads it.
  * Column pruning is resolved once per partition: each required column
  * becomes one [[ColumnReader]], so an unprojected column costs nothing.
  */
abstract class FileFormat[R] extends Serializable {
  /** The `format(...)` short name; also names the table and scan. */
  def name: String
  /** The columns before the optional `filepath`. */
  def columns(options: CaseInsensitiveStringMap): StructType

  final def schema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("include_filepath", false))
      columns(options).add(StructField("filepath", StringType))
    else columns(options)
  /** Declares MICRO_BATCH_READ: `readStream` ingests files as they arrive. */
  def streaming: Boolean = false
  /** Accepts `-`/`/dev/stdin` as the path. */
  def stdin: Boolean = false

  /** The partitions of a batch scan, planned on the driver. */
  def plan(options: Map[String, String]): Seq[FilePartition] =
    FileSourceCommon.expandPaths(FileSourceCommon.pathSpec(options, name), stdin)
      .map(FilePartition(_))

  /** Driver-side option checks, run before any task of a batch or
    * (`forStream`) streaming scan starts. */
  def check(options: Map[String, String], forStream: Boolean): Unit = ()

  /** Opens one partition's records (on the executor). */
  def open(part: FilePartition, options: Map[String, String], required: StructType): Records[R]

  /** The reader of each column of [[columns]]. */
  def column: PartialFunction[String, ColumnReader[R]]

  /** Filters the reader evaluates itself, per record, before building rows. */
  def pushable(f: Filter): Boolean = false
  def compile(filters: Seq[Filter]): R => Boolean = _ => true
}

/** `spark.read.format(fmt.name)`; one subclass per format, named in
  * META-INF/services. */
abstract class FileSource[R](fmt: FileFormat[R]) extends TableProvider with DataSourceRegister {
  override def shortName(): String = fmt.name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    fmt.schema(options)
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new FileTable(fmt, new CaseInsensitiveStringMap(properties))
}

class FileTable[R](fmt: FileFormat[R], options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"${fmt.name}(${options.get("path")})"
  override def schema(): StructType = fmt.schema(options)
  override def capabilities(): java.util.Set[TableCapability] =
    if (fmt.streaming)
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(fmt, opts)
}

class FileScanBuilder[R](fmt: FileFormat[R], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = fmt.schema(options)
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(fmt.pushable)
    pushed = sup
    unsup // Spark re-applies only what the reader could not take
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new FileScan(fmt, options.asScala.toMap, required, pushed)
}

class FileScan[R](
    fmt: FileFormat[R],
    options: Map[String, String],
    required: StructType,
    val pushedFilters: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // surfaces in explain() output for plan probes
  override def description(): String =
    s"${fmt.name} PushedFilters: ${pushedFilters.mkString("[", ", ", "]")}"

  override def planInputPartitions(): Array[InputPartition] =
    fmt.plan(options).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory = {
    fmt.check(options, forStream = false)
    new FileReaderFactory(fmt, options, required, pushedFilters)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileStream(fmt, options, this)
}

/** Streaming ingest of arriving files: each micro-batch picks up the
  * files that appeared since the last one (a sequencer or crawler drops
  * finished files into a directory). An offset is the SNAPSHOT of
  * discovered files, so a committed (start, end] range always maps to
  * end.files − start.files: replay after failure re-reads the identical
  * file set even if new files appeared meanwhile (the MicroBatchStream
  * immutability contract).
  */
class FileStream[R](fmt: FileFormat[R], options: Map[String, String], scan: FileScan[R])
    extends MicroBatchStream {
  fmt.check(options, forStream = true)

  private def currentFiles: Seq[String] =
    FileSourceCommon.expandPathsLenient(FileSourceCommon.pathSpec(options, fmt.name))

  override def initialOffset(): Offset = FileSnapshotOffset(Seq.empty)
  override def latestOffset(): Offset = FileSnapshotOffset(currentFiles.sorted)
  override def deserializeOffset(json: String): Offset = FileSnapshotOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FileSnapshotOffset].files.toSet
    end.asInstanceOf[FileSnapshotOffset].files
      .filterNot(seen).sorted.map(FilePartition(_)).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = the sorted set of files discovered so far. Serialized as a
  * SINGLE-LINE JSON array: Spark's OffsetSeqLog stores one offset per
  * line, so raw newlines in json() would corrupt the checkpoint.
  */
case class FileSnapshotOffset(files: Seq[String]) extends Offset {
  override def json(): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(files))
  }
}

object FileSnapshotOffset {
  def fromJson(json: String): FileSnapshotOffset = {
    import org.json4s.jackson.JsonMethods
    import org.json4s.{DefaultFormats, JArray}
    implicit val formats: DefaultFormats.type = DefaultFormats
    if (json.isEmpty) FileSnapshotOffset(Seq.empty)
    else FileSnapshotOffset(
      JsonMethods.parse(json).asInstanceOf[JArray].extract[Seq[String]])
  }
}

class FileReaderFactory[R](
    fmt: FileFormat[R],
    options: Map[String, String],
    required: StructType,
    filters: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FileReader(fmt, p.asInstanceOf[FilePartition], options, required, filters)
}

class FileReader[R](
    fmt: FileFormat[R],
    part: FilePartition,
    options: Map[String, String],
    required: StructType,
    filters: Array[Filter]) extends PartitionReader[InternalRow] {

  private val records = fmt.open(part, options, required)
  private val it =
    if (filters.isEmpty) records.iterator
    else records.iterator.filter(fmt.compile(filters.toSeq))
  private val readers = required.fieldNames.map[ColumnReader[R]] {
    case "filepath" =>
      val fp = UTF8String.fromString(FileSourceCommon.displayPath(part.path))
      (_: R, _: Long) => fp
    case c =>
      fmt.column.applyOrElse(c,
        (_: String) => throw new IllegalStateException(s"${fmt.name}: unknown column $c"))
  }
  private var n = 0L
  private var current: InternalRow = _

  override def next(): Boolean = it.hasNext && {
    val rec = it.next()
    n += 1
    val values = new Array[Any](readers.length)
    var i = 0
    while (i < readers.length) { values(i) = readers(i)(rec, n); i += 1 }
    current = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = records.resource.close()
}
