package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader,
  ParquetWriter}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  PrimitiveType}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types._

/** Driver-side parquet I/O for BOUNDED control-plane assets (1-row
  * commit-marker metas, 1-row id blooms, ≤ k-row gauge states, ≤ bins
  * histogram states): each such asset previously paid a full Spark
  * action per read/write — analysis, AQE planning, task scheduling,
  * plan-description rendering, commit protocol — for a handful of
  * rows. At any corpus scale these assets stay O(k)/O(bins)/O(1) by
  * construction (the operator scaladocs argue each bound), so moving
  * the I/O onto the driver removes a per-mutation constant without
  * touching any data-plane path (guide §1.2 step 1: stop doing work
  * that isn't needed — the cluster round-trip here never carried
  * data-sized payloads).
  *
  * Lives in the `org.apache.spark.sql` namespace because the write
  * path reuses Spark's own `ParquetWriteSupport` (`private[sql]`) —
  * the one way to guarantee the file schema (required/optional
  * structure, logical annotations) is byte-for-byte what a DataFrame
  * write would have produced, so every downstream `spark.read
  * .parquet` infers the exact same schema as before. The read path
  * uses the parquet example Group API (flat schemas only — all these
  * assets are flat).
  */
object TinyParquetShim {

  /** Write `rows` as ONE parquet part file inside `dir` (creating or
    * replacing the dir): stage into a dot-file, rename into place —
    * a torn write leaves only an invisible temp, never a readable
    * partial asset. The file carries the same schema a Spark write
    * of a DataFrame with this `schema` produces. */
  def overwriteDir(spark: SparkSession, schema: StructType,
                   rows: Seq[Row], dir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    writeInto(spark, conf, schema, rows, dirPath)
  }

  /** Write `rows` as ONE new uniquely-named part file inside `dir`
    * (append posture: existing files untouched). */
  def appendDir(spark: SparkSession, schema: StructType,
                rows: Seq[Row], dir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    writeInto(spark, conf, schema, rows, dirPath)
  }

  private def writeInto(spark: SparkSession, conf: Configuration,
                        schema: StructType, rows: Seq[Row],
                        dirPath: Path): Unit = {
    val fs = dirPath.getFileSystem(conf)
    val name = f"part-00000-${java.util.UUID.randomUUID}.snappy.parquet"
    val tmp = new Path(dirPath, s".$name.tmp")
    val dest = new Path(dirPath, name)
    // the keys ParquetFileFormat.prepareWrite pins for every write
    // job; ParquetWriteSupport.init asserts on their presence
    val sqlConf = spark.sessionState.conf
    import org.apache.spark.sql.internal.SQLConf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    ParquetWriteSupport.setSchema(schema, conf)
    val writer = new RowBuilder(tmp).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    } finally writer.close()
    require(fs.rename(tmp, dest),
      s"TinyParquetShim: rename $tmp -> $dest failed")
  }

  private final class RowBuilder(path: Path)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration) =
      new ParquetWriteSupport
  }

  /** Read every row of the FLAT-schema parquet files under `dir`,
    * driver-side — None iff the dir is missing or holds no parquet
    * data files (the rebuildable "asset absent" case); corrupt
    * footers and transient FS errors PROPAGATE, matching
    * `StoredIndex.readMeta`'s missing-vs-broken split. Rows carry a
    * schema, so `getAs[T](name)` / `fieldNames.contains` work as on
    * a collected DataFrame row. */
  def readRows(spark: SparkSession, dir: String): Option[Seq[Row]] = {
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) return None
    val files =
      if (fs.getFileStatus(dirPath).isDirectory)
        fs.listStatus(dirPath).toSeq
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
              !n.startsWith("_")
          }
          .sortBy(_.getPath.getName)
          .map(_.getPath)
      else Seq(dirPath)
    if (files.isEmpty) return None
    Some(files.flatMap(f => readFile(spark, conf, f)))
  }

  private def readFile(spark: SparkSession, conf: Configuration,
                       file: Path): Seq[Row] = {
    val footer = org.apache.parquet.hadoop.ParquetFileReader
      .readFooter(conf, file)
    val mt = footer.getFileMetaData.getSchema
    val sparkSchema = toSparkSchema(mt)
    // a LEGACY rebase mode writes hybrid-calendar timestamps, which
    // only Spark's rebase decodes: refuse them rather than mis-decode
    val legacy = Seq("org.apache.spark.legacyINT96",
      "org.apache.spark.legacyDateTime")
    require(!sparkSchema.exists(_.dataType == TimestampType) ||
      !legacy.exists(footer.getFileMetaData.getKeyValueMetaData.containsKey),
      s"TinyParquetShim: $file holds legacy-calendar timestamps")
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file).withConf(conf).build()
    try {
      val buf = Seq.newBuilder[Row]
      var g: Group = reader.read()
      while (g != null) {
        buf += groupToRow(g, mt, sparkSchema)
        g = reader.read()
      }
      buf.result()
    } finally reader.close()
  }

  /** Flat parquet → Spark schema for the primitive types these
    * assets use; anything else fails loudly (never mis-decoded). */
  private def toSparkSchema(mt: MessageType): StructType =
    StructType(mt.getFields.asScala.map { f =>
      require(f.isPrimitive,
        s"TinyParquetShim: non-flat field ${f.getName} — driver-side " +
          "reads are for flat control-plane assets only")
      val p = f.asPrimitiveType()
      val dt = p.getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.INT96 => TimestampType
        case PrimitiveType.PrimitiveTypeName.INT64 =>
          p.getLogicalTypeAnnotation match {
            case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                if a.isAdjustedToUTC && a.getUnit !=
                  LogicalTypeAnnotation.TimeUnit.NANOS => TimestampType
            case _ => LongType
          }
        case PrimitiveType.PrimitiveTypeName.INT32 =>
          p.getLogicalTypeAnnotation match {
            case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if a.getBitWidth == 32 && a.isSigned => IntegerType
            case null => IntegerType
            case other => sys.error(
              s"TinyParquetShim: unsupported int32 annotation $other")
          }
        case PrimitiveType.PrimitiveTypeName.DOUBLE => DoubleType
        case PrimitiveType.PrimitiveTypeName.FLOAT => FloatType
        case PrimitiveType.PrimitiveTypeName.BOOLEAN => BooleanType
        case PrimitiveType.PrimitiveTypeName.BINARY =>
          p.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
              StringType
            case null => BinaryType
            case other => sys.error(
              s"TinyParquetShim: unsupported binary annotation $other")
          }
        case other => sys.error(
          s"TinyParquetShim: unsupported primitive $other")
      }
      StructField(f.getName,
        dt, nullable = p.getRepetition !=
          org.apache.parquet.schema.Type.Repetition.REQUIRED)
    }.toSeq)

  private def groupToRow(g: Group, mt: MessageType,
                         schema: StructType): Row = {
    val vals = schema.fields.indices.map { i =>
      if (g.getFieldRepetitionCount(i) == 0) null
      else schema.fields(i).dataType match {
        case LongType => g.getLong(i, 0)
        case TimestampType => DateTimeUtils.toJavaTimestamp(
          mt.getType(i).asPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.INT96 =>
              // Spark's INT96 layout: nanos of day, then the Julian day
              val b = g.getInt96(i, 0).toByteBuffer
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val nanos = b.getLong
              DateTimeUtils.fromJulianDay(b.getInt, nanos)
            case _ => mt.getType(i).getLogicalTypeAnnotation match {
              case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if a.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Math.multiplyExact(g.getLong(i, 0), 1000L)
              case _ => g.getLong(i, 0)
            }
          })
        case IntegerType => g.getInteger(i, 0)
        case DoubleType => g.getDouble(i, 0)
        case FloatType => g.getFloat(i, 0)
        case BooleanType => g.getBoolean(i, 0)
        case StringType => g.getBinary(i, 0).toStringUsingUTF8
        case BinaryType => g.getBinary(i, 0).getBytes
        case other => sys.error(s"TinyParquetShim: unsupported $other")
      }
    }.toArray[Any]
    new GenericRowWithSchema(vals, schema)
  }
}
