package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
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
  /** Accepts `-`/`/dev/stdin` as the path. */
  def stdin: Boolean = false

  /** The partitions of a batch scan, planned on the driver. */
  def plan(options: Map[String, String]): Seq[FilePartition] =
    FileSourceCommon.expandPaths(FileSourceCommon.pathSpec(options, name), stdin)
      .map(FilePartition(_))

  /** Driver-side option checks, run before any task of the scan starts. */
  def check(options: Map[String, String]): Unit = ()

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
  // batch only: `readStream` fails at analysis with Spark's own
  // "does not support streamed reading" error
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
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
    fmt.check(options)
    new FileReaderFactory(fmt, options, required, pushedFilters)
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
