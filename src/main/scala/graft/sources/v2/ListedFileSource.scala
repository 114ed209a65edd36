package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** One output column of a [[ListedFileFormat]]: its schema entry and its
  * getter, the cell value (Spark's internal representation) for one
  * record of one file. */
final case class FileColumn[R](
    name: String,
    dataType: DataType,
    nullable: Boolean,
    get: (ListedFile, R) => Any)

/** A file format read one listed file per partition. A format declares
  * its short name, the glob of the files it reads under the load path,
  * its columns, and a walk over one file's records; the schema is
  * derived from the columns, so schema and decode cannot drift. Formats
  * are `object`s, so a reader factory ships a format to executors by
  * name and never serializes its getters or any driver state. */
trait ListedFileFormat[R] extends Serializable {
  def shortName: String
  def glob: String
  def columns: Seq[FileColumn[R]]

  /** The records of `file`. `required` names the columns the query
    * reads, so a walk skips the I/O and decode no required column needs.
    * A walk that is also a `java.io.Closeable` is closed with its
    * partition reader. */
  def records(file: ListedFile, conf: Configuration,
      required: Set[String]): Iterator[R]

  /** A column; not nullable unless said. */
  protected final def column(name: String, dataType: DataType,
      nullable: Boolean = false)(get: (ListedFile, R) => Any): FileColumn[R] =
    FileColumn(name, dataType, nullable, get)

  final lazy val schema: StructType = StructType(
    columns.map(c => StructField(c.name, c.dataType, c.nullable)))

  private lazy val byName = columns.map(c => c.name -> c.get).toMap

  /** The getter of each `required` column, in order. */
  private[v2] final def getters(required: StructType)
      : Array[(ListedFile, R) => Any] =
    required.fieldNames.map(byName)
}

/** The DataSource V2 entry of a [[ListedFileFormat]]:
  * `spark.read.format(<shortName>).load(dir)` and `readStream` over the
  * same scan (registered in `META-INF/services`). */
abstract class ListedFileSource[R](format: ListedFileFormat[R])
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.shortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ListedFileTable(format, new CaseInsensitiveStringMap(properties))
}

private[v2] class ListedFileTable[R](
    format: ListedFileFormat[R], options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"${format.shortName}(${options.get("path")})"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ListedFileScanBuilder(format, options)
}

private[v2] class ListedFileScanBuilder[R](
    format: ListedFileFormat[R], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = format.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ListedFileScan(format, options, required)
}

/** A one-file-one-partition scan of `format`'s glob under
  * `options("path")`, batch and micro-batch, reading the `required`
  * columns.
  *
  * The session's Hadoop conf is taken ONCE, when the scan is built. The
  * driver lists files and keeps the stream's seen-file log through it;
  * executors get it as one broadcast [[SerializableConfiguration]], the
  * pattern of Spark's own `FileScan`, whose deserialization does not
  * reload Hadoop's XML default resources. So no trigger, listing or file
  * open re-parses those defaults, and every `fs.*` setting of the
  * session (object-store credentials, extra schemes) reaches every
  * reader. */
private[v2] class ListedFileScan[R](
    format: ListedFileFormat[R],
    options: CaseInsensitiveStringMap,
    required: StructType)
    extends Scan with Batch {

  private val session = SparkSession.active
  private val hadoopConf = session.sessionState.newHadoopConf()
  private lazy val executorConf =
    session.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
  private lazy val root = new Path(Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("file source requires a path")))
  private lazy val fs = root.getFileSystem(hadoopConf)

  /** Driver-side glob, path-sorted. */
  private def listFiles(): Seq[ListedFile] =
    Option(fs.globStatus(new Path(root, format.glob))).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getPath.toString)
      .map(st => ListedFile(st.getPath.toString, st.getLen)).toSeq

  override def readSchema(): StructType = required
  override def description(): String =
    s"${format.shortName} path=${options.get("path")} columns=" +
      required.fieldNames.mkString(",")

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    listFiles().toArray
  override def createReaderFactory(): PartitionReaderFactory =
    ListedFileReaderFactory(format, required, executorConf)
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new SeenFileLogStream(() => listFiles(), hadoopConf, checkpointLocation,
      createReaderFactory())
}

private[v2] case class ListedFileReaderFactory[R](
    format: ListedFileFormat[R],
    required: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ListedFileReader(format, p.asInstanceOf[ListedFile], required,
      conf.value.value)
}

/** One file's rows: the format's record walk, each record projected
  * through the required columns' getters, resolved once per file. */
private[v2] class ListedFileReader[R](
    format: ListedFileFormat[R],
    file: ListedFile,
    required: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val getters = format.getters(required)
  private var records: Iterator[R] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (records == null)
      records = format.records(file, conf, required.fieldNames.toSet)
    if (!records.hasNext) return false
    val r = records.next()
    val out = new Array[Any](getters.length)
    var i = 0
    while (i < getters.length) { out(i) = getters(i)(file, r); i += 1 }
    current = new GenericInternalRow(out)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = records match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }
}
