package graft.parquet

import java.math.BigInteger
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.api.ReadSupport.ReadContext
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordConsumer, RecordMaterializer}
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit => PqTimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parquet ⇄ Catalyst `InternalRow` without Spark's (internal) parquet
  * datasource classes — built directly on parquet-mr's PUBLIC
  * `ReadSupport`/`WriteSupport` API, the same approach Iceberg's Spark
  * connector takes for its own readers. This is what lets the DSv2
  * streaming front door ship REAL `InputPartition`/`DataWriter` work to
  * executors (a `PartitionReader` opening a committed data file, a
  * streaming `DataWriter` staging new ones) while every import stays on
  * stable public surface — no `org.apache.spark.sql.execution.*`.
  *
  * Read contract (schema evolution aware, mirroring how the table's
  * batch reads resolve old files under the committed schema):
  *  - fields are matched BY NAME against the target schema, recursively
  *    into structs (in-struct evolution reads missing leaves as null);
  *  - a target field absent from the file reads as null;
  *  - a file field narrower than the target widens losslessly
  *    (int32→long, float→double, int→double — exactly
  *    [[graft.table.IncrementalTable.widens]]); a LOSSY mismatch fails
  *    loudly rather than corrupting values;
  *  - timestamps accept INT64 millis/micros/nanos and legacy INT96.
  *
  * Write contract: standard annotations only (3-level lists, key_value
  * maps, INT64 micros timestamps, DATE int32, decimal int32/int64/fixed)
  * — files read back identically through Spark's vectorized reader and
  * any other standard parquet consumer. */
object RowParquet {

  /** Minimal serializable Hadoop-conf carrier for reader/writer
    * factories shipped to executors (the task-side FileSystem needs the
    * driver's configuration — S3A credentials, defaultFS — and
    * `Configuration` itself is not `Serializable`). */
  final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  def reader(file: InputFile, target: StructType): ParquetReader[InternalRow] =
    new RowReaderBuilder(file, target, Map.empty).build()

  /** [[reader]] with column DEFAULT fill (X79): a target TOP-LEVEL
    * field named in `fill` that is PHYSICALLY ABSENT from the file
    * reads the given catalyst value instead of null — the streaming
    * bridge's twin of the EXISTS_DEFAULT fill Spark's own parquet
    * reader performs on the batch path. Fields present in the file
    * (even all-null) are untouched. */
  def reader(file: InputFile, target: StructType,
      fill: Map[String, Any]): ParquetReader[InternalRow] =
    new RowReaderBuilder(file, target, fill).build()

  /** One committed data file as rows of `target`: [[reader]] projects
    * the parquet columns by name, then the hive partition-directory
    * values (`partTokens`, raw and still %-escaped) are overlaid at
    * their target ordinals — data files never store partition columns
    * physically, and a partition column that is also a data column
    * takes the directory's value. Tokens the target does not name are
    * ignored. Shared by the streaming partition reader and the table's
    * driver-side read. */
  final class FileRows(file: InputFile, target: StructType,
      partTokens: Seq[(String, String)], fill: Map[String, Any] = Map.empty)
      extends java.io.Closeable {
    // partition ordinal -> parsed catalyst value, precomputed once
    private val overlay: Array[(Int, Any)] = partTokens.iterator
      .filter { case (name, _) => target.fieldNames.contains(name) }
      .map { case (name, raw) =>
        val ord = target.fieldIndex(name)
        ord -> partitionValue(raw, target.fields(ord).dataType)
      }.toArray

    private val rows = reader(file, target, fill)

    /** The next row (a fresh row per record), or null past the end. */
    def next(): InternalRow = {
      val r = rows.read()
      if (r != null) {
        val g = r.asInstanceOf[GenericInternalRow]
        var i = 0
        while (i < overlay.length) {
          g.update(overlay(i)._1, overlay(i)._2)
          i += 1
        }
      }
      r
    }

    override def close(): Unit = rows.close()
  }

  def writer(file: OutputFile, schema: StructType,
      conf: Configuration,
      // per-table codec (X89, `graft.parquet.compression`): snappy is
      // the latency default; zstd the 100 TB storage dial
      codec: String = "snappy"): ParquetWriter[InternalRow] =
    new RowWriterBuilder(file, schema)
      .withConf(conf)
      .withCompressionCodec(
        CompressionCodecName.valueOf(codec.trim.toUpperCase))
      .withDictionaryEncoding(true)
      .build()

  private final class RowReaderBuilder(file: InputFile, target: StructType,
      fill: Map[String, Any])
      extends ParquetReader.Builder[InternalRow](file) {
    override def getReadSupport: ReadSupport[InternalRow] =
      new InternalRowReadSupport(target, fill)
  }

  private final class RowWriterBuilder(file: OutputFile, schema: StructType)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new InternalRowWriteSupport(schema)
  }

  // ===================================================================
  // Spark → parquet schema (writer side)
  // ===================================================================

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(toParquet(f.name, f.dataType, f.nullable)))
    b.named("spark_schema")
  }

  private def rep(nullable: Boolean): Type.Repetition =
    if (nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED

  private def toParquet(name: String, dt: DataType, nullable: Boolean): Type = dt match {
    case BooleanType =>
      Types.primitive(PrimitiveTypeName.BOOLEAN, rep(nullable)).named(name)
    case ByteType =>
      Types.primitive(PrimitiveTypeName.INT32, rep(nullable))
        .as(LogicalTypeAnnotation.intType(8, true)).named(name)
    case ShortType =>
      Types.primitive(PrimitiveTypeName.INT32, rep(nullable))
        .as(LogicalTypeAnnotation.intType(16, true)).named(name)
    case IntegerType =>
      Types.primitive(PrimitiveTypeName.INT32, rep(nullable)).named(name)
    case LongType =>
      Types.primitive(PrimitiveTypeName.INT64, rep(nullable)).named(name)
    case FloatType =>
      Types.primitive(PrimitiveTypeName.FLOAT, rep(nullable)).named(name)
    case DoubleType =>
      Types.primitive(PrimitiveTypeName.DOUBLE, rep(nullable)).named(name)
    case StringType =>
      Types.primitive(PrimitiveTypeName.BINARY, rep(nullable))
        .as(LogicalTypeAnnotation.stringType()).named(name)
    case BinaryType =>
      Types.primitive(PrimitiveTypeName.BINARY, rep(nullable)).named(name)
    case DateType =>
      Types.primitive(PrimitiveTypeName.INT32, rep(nullable))
        .as(LogicalTypeAnnotation.dateType()).named(name)
    case TimestampType =>
      Types.primitive(PrimitiveTypeName.INT64, rep(nullable))
        .as(LogicalTypeAnnotation.timestampType(true, PqTimeUnit.MICROS)).named(name)
    case TimestampNTZType =>
      Types.primitive(PrimitiveTypeName.INT64, rep(nullable))
        .as(LogicalTypeAnnotation.timestampType(false, PqTimeUnit.MICROS)).named(name)
    case d: DecimalType if d.precision <= 9 =>
      Types.primitive(PrimitiveTypeName.INT32, rep(nullable))
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case d: DecimalType if d.precision <= 18 =>
      Types.primitive(PrimitiveTypeName.INT64, rep(nullable))
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case d: DecimalType =>
      // minimal byte length that can hold precision-many decimal digits
      val bytes = math.ceil((math.log(10) * d.precision / math.log(2) + 1) / 8).toInt
      Types.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep(nullable))
        .length(bytes)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case ArrayType(elem, containsNull) =>
      Types.buildGroup(rep(nullable)).as(LogicalTypeAnnotation.listType())
        .addField(Types.repeatedGroup()
          .addField(toParquet("element", elem, containsNull)).named("list"))
        .named(name)
    case MapType(kt, vt, valueContainsNull) =>
      Types.buildGroup(rep(nullable)).as(LogicalTypeAnnotation.mapType())
        .addField(Types.repeatedGroup()
          .addField(toParquet("key", kt, nullable = false))
          .addField(toParquet("value", vt, valueContainsNull))
          .named("key_value"))
        .named(name)
    case st: StructType =>
      val b = Types.buildGroup(rep(nullable))
      st.fields.foreach(f => b.addField(toParquet(f.name, f.dataType, f.nullable)))
      b.named(name)
    case other =>
      throw new UnsupportedOperationException(
        s"graft parquet writer does not support ${other.simpleString} (column '$name')")
  }

  // ===================================================================
  // Writer
  // ===================================================================

  final class InternalRowWriteSupport(schema: StructType)
      extends WriteSupport[InternalRow] {
    private var rc: RecordConsumer = _

    override def init(configuration: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageType(schema),
        Map.empty[String, String].asJava)

    override def prepareForWrite(recordConsumer: RecordConsumer): Unit =
      rc = recordConsumer

    override def write(row: InternalRow): Unit = {
      rc.startMessage()
      writeFields(row, schema)
      rc.endMessage()
    }

    private def writeFields(row: InternalRow, st: StructType): Unit = {
      var i = 0
      while (i < st.length) {
        if (!row.isNullAt(i)) {
          val f = st.fields(i)
          rc.startField(f.name, i)
          writeValue(row, i, f.dataType)
          rc.endField(f.name, i)
        }
        i += 1
      }
    }

    private def writeValue(row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
        i: Int, dt: DataType): Unit = dt match {
      case BooleanType => rc.addBoolean(row.getBoolean(i))
      case ByteType => rc.addInteger(row.getByte(i).toInt)
      case ShortType => rc.addInteger(row.getShort(i).toInt)
      case IntegerType | DateType => rc.addInteger(row.getInt(i))
      case LongType | TimestampType | TimestampNTZType => rc.addLong(row.getLong(i))
      case FloatType => rc.addFloat(row.getFloat(i))
      case DoubleType => rc.addDouble(row.getDouble(i))
      case StringType =>
        rc.addBinary(Binary.fromReusedByteArray(row.getUTF8String(i).getBytes))
      case BinaryType => rc.addBinary(Binary.fromReusedByteArray(row.getBinary(i)))
      case d: DecimalType =>
        val dec = row.getDecimal(i, d.precision, d.scale)
        if (d.precision <= 9) rc.addInteger(dec.toUnscaledLong.toInt)
        else if (d.precision <= 18) rc.addLong(dec.toUnscaledLong)
        else {
          val bytes = math.ceil((math.log(10) * d.precision / math.log(2) + 1) / 8).toInt
          val unscaled = dec.toJavaBigDecimal.unscaledValue().toByteArray
          // sign-extend into the fixed width
          val out = new Array[Byte](bytes)
          val sign: Byte = if (unscaled.length > 0 && unscaled(0) < 0) -1 else 0
          java.util.Arrays.fill(out, sign)
          System.arraycopy(unscaled, 0, out, bytes - unscaled.length, unscaled.length)
          rc.addBinary(Binary.fromReusedByteArray(out))
        }
      case ArrayType(elem, _) =>
        val arr = row.getArray(i)
        rc.startGroup()
        if (arr.numElements() > 0) {
          rc.startField("list", 0)
          var j = 0
          while (j < arr.numElements()) {
            rc.startGroup()
            if (!arr.isNullAt(j)) {
              rc.startField("element", 0)
              writeValue(arr, j, elem)
              rc.endField("element", 0)
            }
            rc.endGroup()
            j += 1
          }
          rc.endField("list", 0)
        }
        rc.endGroup()
      case MapType(kt, vt, _) =>
        val m = row.getMap(i)
        rc.startGroup()
        if (m.numElements() > 0) {
          rc.startField("key_value", 0)
          val ks = m.keyArray(); val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) {
            rc.startGroup()
            rc.startField("key", 0)
            writeValue(ks, j, kt)
            rc.endField("key", 0)
            if (!vs.isNullAt(j)) {
              rc.startField("value", 1)
              writeValue(vs, j, vt)
              rc.endField("value", 1)
            }
            rc.endGroup()
            j += 1
          }
          rc.endField("key_value", 0)
        }
        rc.endGroup()
      case st: StructType =>
        val nested = row.getStruct(i, st.length)
        rc.startGroup()
        writeFields(nested, st)
        rc.endGroup()
      case other =>
        throw new UnsupportedOperationException(
          s"graft parquet writer does not support ${other.simpleString}")
    }
  }

  // ===================================================================
  // Reader
  // ===================================================================

  final class InternalRowReadSupport(target: StructType,
      fill: Map[String, Any] = Map.empty)
      extends ReadSupport[InternalRow] {

    override def init(context: InitContext): ReadContext =
      new ReadContext(projectMessage(context.getFileSchema, target))

    override def prepareForRead(configuration: Configuration,
        keyValueMetaData: JMap[String, String], fileSchema: MessageType,
        readContext: ReadContext): RecordMaterializer[InternalRow] = {
      val base = new RowMaterializer(readContext.getRequestedSchema, target)
      // default fill (X79): only for target fields the FILE lacks
      val filled = fill.iterator.collect {
        case (name, v) if !fileSchema.containsField(name) &&
            target.fieldNames.contains(name) =>
          target.fieldIndex(name) -> v
      }.toArray
      if (filled.isEmpty) base
      else new RecordMaterializer[InternalRow] {
        override def getCurrentRecord: InternalRow = {
          val r = base.getCurrentRecord
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          var i = 0
          while (i < filled.length) { r.update(filled(i)._1, filled(i)._2); i += 1 }
          r
        }
        override def getRootConverter: GroupConverter = base.getRootConverter
      }
    }
  }

  /** The file schema pruned (recursively, by name) to the target's
    * fields — target fields absent from the file are simply not
    * requested and read as null. */
  private def projectMessage(file: MessageType, target: StructType): MessageType = {
    val kept = projectGroupFields(file, target)
    val b = Types.buildMessage()
    kept.foreach(b.addField)
    b.named(file.getName)
  }

  private def projectGroupFields(group: GroupType, target: StructType): Seq[Type] =
    group.getFields.asScala.toSeq.flatMap { f =>
      target.fields.find(_.name == f.getName).flatMap(tf => projectType(f, tf.dataType))
    }

  private def projectType(f: Type, dt: DataType): Option[Type] = (f, dt) match {
    case (p: PrimitiveType, _) => Some(p)
    case (g: GroupType, st: StructType)
        if !g.isPrimitive && g.getLogicalTypeAnnotation == null =>
      val kept = projectGroupFields(g, st)
      if (kept.isEmpty) None
      else Some(kept.foldLeft(Types.buildGroup(g.getRepetition))(_.addField(_))
        .named(g.getName))
    case (g: GroupType, ArrayType(elem, _))
        if g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation] =>
      // standard 3-level: group (LIST) { repeated group list { element } }
      val repeated = g.getFields.get(0).asGroupType()
      val elemType = repeated.getFields.get(0)
      projectType(elemType, elem).map { kept =>
        Types.buildGroup(g.getRepetition).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup().addField(kept).named(repeated.getName))
          .named(g.getName)
      }
    case (g: GroupType, MapType(_, vt, _))
        if g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.MapLogicalTypeAnnotation] ||
          g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.MapKeyValueTypeAnnotation] =>
      val kv = g.getFields.get(0).asGroupType()
      val keyT = kv.getFields.get(0)
      val valT = kv.getFields.get(1)
      projectType(valT, vt).map { keptVal =>
        Types.buildGroup(g.getRepetition).as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup().addField(keyT).addField(keptVal)
            .named(kv.getName))
          .named(g.getName)
      }
    case (g: GroupType, st: StructType) =>
      // annotated group we don't special-case, treated structurally
      val kept = projectGroupFields(g, st)
      if (kept.isEmpty) None
      else Some(kept.foldLeft(Types.buildGroup(g.getRepetition))(_.addField(_))
        .named(g.getName))
    case _ => Some(f)
  }

  private trait ValueSink { def set(v: Any): Unit }

  private final class RowMaterializer(requested: MessageType, target: StructType)
      extends RecordMaterializer[InternalRow] {
    private var current: InternalRow = _
    private val root = new StructConverter(requested, target,
      new ValueSink { def set(v: Any): Unit = current = v.asInstanceOf[InternalRow] })
    override def getCurrentRecord: InternalRow = current
    override def getRootConverter: GroupConverter = root
  }

  /** Parquet group → `GenericInternalRow` sized to the TARGET struct:
    * requested fields land at their target ordinal, unrequested target
    * fields stay null. */
  private final class StructConverter(group: GroupType, target: StructType,
      sink: ValueSink) extends GroupConverter {
    private val values = new Array[Any](target.length)
    private val converters: Array[Converter] =
      group.getFields.asScala.toArray.map { f =>
        val ord = target.fieldIndex(f.getName)
        newConverter(f, target.fields(ord).dataType,
          new ValueSink { def set(v: Any): Unit = values(ord) = v })
      }
    override def getConverter(fieldIndex: Int): Converter = converters(fieldIndex)
    override def start(): Unit = java.util.Arrays.fill(
      values.asInstanceOf[Array[AnyRef]], null)
    override def end(): Unit = sink.set(new GenericInternalRow(values.clone()))
  }

  private def newConverter(f: Type, dt: DataType, sink: ValueSink): Converter =
    (f, dt) match {
      case (p: PrimitiveType, _) => primitiveConverter(p, dt, sink)
      case (g: GroupType, ArrayType(elem, _))
          if g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation] =>
        new ListConverter(g, elem, sink)
      case (g: GroupType, MapType(kt, vt, _))
          if g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.MapLogicalTypeAnnotation] ||
            g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.MapKeyValueTypeAnnotation] =>
        new MapConverter(g, kt, vt, sink)
      case (g: GroupType, st: StructType) => new StructConverter(g, st, sink)
      case (g, other) => throw new UnsupportedOperationException(
        s"cannot read parquet ${g} as ${other.simpleString}")
    }

  /** Standard 3-level list: outer LIST group → repeated `list` group →
    * `element`. */
  private final class ListConverter(g: GroupType, elem: DataType, sink: ValueSink)
      extends GroupConverter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    private val repeatedGroup = g.getFields.get(0).asGroupType()
    private val inner: GroupConverter = new GroupConverter {
      private var v: Any = _
      private val elemConv = newConverter(repeatedGroup.getFields.get(0), elem,
        new ValueSink { def set(x: Any): Unit = v = x })
      override def getConverter(i: Int): Converter = elemConv
      override def start(): Unit = v = null
      override def end(): Unit = buf += v
    }
    override def getConverter(fieldIndex: Int): Converter = inner
    override def start(): Unit = buf.clear()
    override def end(): Unit = sink.set(new GenericArrayData(buf.toArray))
  }

  private final class MapConverter(g: GroupType, kt: DataType, vt: DataType,
      sink: ValueSink) extends GroupConverter {
    private val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    private val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    private val kv = g.getFields.get(0).asGroupType()
    private val inner: GroupConverter = new GroupConverter {
      private var k: Any = _
      private var v: Any = _
      private val kConv = newConverter(kv.getFields.get(0), kt,
        new ValueSink { def set(x: Any): Unit = k = x })
      private val vConv = newConverter(kv.getFields.get(1), vt,
        new ValueSink { def set(x: Any): Unit = v = x })
      override def getConverter(i: Int): Converter = if (i == 0) kConv else vConv
      override def start(): Unit = { k = null; v = null }
      override def end(): Unit = { keys += k; vals += v }
    }
    override def getConverter(fieldIndex: Int): Converter = inner
    override def start(): Unit = { keys.clear(); vals.clear() }
    override def end(): Unit = sink.set(new ArrayBasedMapData(
      new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray)))
  }

  private val julianEpochDay = 2440588L // 1970-01-01 as a Julian day number

  private def primitiveConverter(p: PrimitiveType, dt: DataType,
      sink: ValueSink): PrimitiveConverter = {
    def lossy(): Nothing = throw new UnsupportedOperationException(
      s"cannot read parquet column '${p.getName}' (${p.getPrimitiveTypeName}) " +
        s"as ${dt.simpleString}: lossy conversion — the committed schema and the " +
        "file disagree beyond lossless widening")
    val phys = p.getPrimitiveTypeName
    val ann = p.getLogicalTypeAnnotation
    dt match {
      case BooleanType => new PrimitiveConverter {
        override def addBoolean(v: Boolean): Unit = sink.set(v)
      }
      case ByteType => new PrimitiveConverter {
        override def addInt(v: Int): Unit = sink.set(v.toByte)
        override def addLong(v: Long): Unit = lossy()
      }
      case ShortType => new PrimitiveConverter {
        override def addInt(v: Int): Unit = sink.set(v.toShort)
        override def addLong(v: Long): Unit = lossy()
      }
      case IntegerType | DateType =>
        if (phys == PrimitiveTypeName.INT64) lossy()
        else new PrimitiveConverter {
          override def addInt(v: Int): Unit = sink.set(v)
        }
      case LongType => new PrimitiveConverter {
        override def addInt(v: Int): Unit = sink.set(v.toLong) // widened file
        override def addLong(v: Long): Unit = sink.set(v)
      }
      case FloatType =>
        if (phys == PrimitiveTypeName.DOUBLE) lossy()
        else new PrimitiveConverter {
          override def addFloat(v: Float): Unit = sink.set(v)
        }
      case DoubleType => new PrimitiveConverter {
        override def addDouble(v: Double): Unit = sink.set(v)
        override def addFloat(v: Float): Unit = sink.set(v.toDouble)
        override def addInt(v: Int): Unit = sink.set(v.toDouble)
        override def addLong(v: Long): Unit = lossy() // 63-bit magnitudes
      }
      case StringType => new PrimitiveConverter {
        private var dict: Array[UTF8String] = _
        override def hasDictionarySupport: Boolean = true
        override def setDictionary(d: org.apache.parquet.column.Dictionary): Unit = {
          dict = new Array[UTF8String](d.getMaxId + 1)
          var i = 0
          while (i <= d.getMaxId) {
            dict(i) = UTF8String.fromBytes(d.decodeToBinary(i).getBytes)
            i += 1
          }
        }
        override def addValueFromDictionary(id: Int): Unit = sink.set(dict(id))
        override def addBinary(v: Binary): Unit =
          sink.set(UTF8String.fromBytes(v.getBytes))
      }
      case BinaryType => new PrimitiveConverter {
        override def addBinary(v: Binary): Unit = sink.set(v.getBytes)
      }
      case TimestampType | TimestampNTZType =>
        if (phys == PrimitiveTypeName.INT96) new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = {
            val bb = v.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = bb.getLong
            val julianDay = bb.getInt
            sink.set((julianDay - julianEpochDay) * 86400000000L + nanosOfDay / 1000L)
          }
        } else {
          val unit = ann match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
            case _ => PqTimeUnit.MICROS // unannotated int64: assume micros
          }
          new PrimitiveConverter {
            override def addLong(v: Long): Unit = sink.set(unit match {
              case PqTimeUnit.MILLIS => v * 1000L
              case PqTimeUnit.MICROS => v
              case PqTimeUnit.NANOS => v / 1000L
            })
          }
        }
      case d: DecimalType =>
        val fileScale = ann match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => dec.getScale
          case _ => d.scale
        }
        if (fileScale != d.scale) lossy()
        new PrimitiveConverter {
          override def addInt(v: Int): Unit =
            sink.set(Decimal(v.toLong, d.precision, d.scale))
          override def addLong(v: Long): Unit =
            sink.set(Decimal(v, d.precision, d.scale))
          override def addBinary(b: Binary): Unit =
            sink.set(Decimal(BigDecimal(new BigInteger(b.getBytes), d.scale),
              d.precision, d.scale))
        }
      case other => throw new UnsupportedOperationException(
        s"graft parquet reader does not support ${other.simpleString} " +
          s"(column '${p.getName}')")
    }
  }

  // ===================================================================
  // Hive partition-path helpers (executor-side routing and
  // driver/executor-side value parsing — mirrors Spark's
  // escapePathName/unescapePathName contract so files written by either
  // writer read back identically)
  // ===================================================================

  private val hiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  private def needsEscaping(c: Char): Boolean =
    c < ' ' || c == '"' || c == '#' || c == '%' || c == '\'' || c == '*' ||
      c == '/' || c == ':' || c == '=' || c == '?' || c == '\\' || c == '\u007F' ||
      c == '{' || c == '[' || c == ']' || c == '^'

  def escapePathName(s: String): String =
    if (s.isEmpty) hiveDefaultPartition
    else {
      val sb = new StringBuilder
      s.foreach { c =>
        if (needsEscaping(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
      }
      sb.toString
    }

  def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // malformed %-tails fall through to the literal char
      if (c == '%' && i + 2 <= s.length - 1) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Render one partition value as its hive path token (escaped; null →
    * the hive default-partition marker). `raw` is the Catalyst internal
    * value. */
  def partitionToken(v: Any, dt: DataType): String = v match {
    case null => hiveDefaultPartition
    case _ => escapePathName(dt match {
      case StringType => v.toString
      case DateType => java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Int].toLong).toString
      case _ => v.toString
    })
  }

  /** Parse a hive path value string back to the Catalyst internal value
    * of `dt` (the inverse of what the partition directory encodes). */
  def partitionValue(raw: String, dt: DataType): Any =
    if (raw == hiveDefaultPartition) null
    else partitionParser(dt).getOrElse(throw new UnsupportedOperationException(
      s"unsupported partition column type ${dt.simpleString}"))(unescapePathName(raw))

  /** The parser of an unescaped hive path value into the Catalyst
    * internal value of `dt`; None for a type no partition directory
    * encodes. */
  def partitionParser(dt: DataType): Option[String => Any] = dt match {
    case StringType => Some(UTF8String.fromString)
    case IntegerType => Some(_.toInt)
    case LongType => Some(_.toLong)
    case ShortType => Some(_.toShort)
    case ByteType => Some(_.toByte)
    case BooleanType => Some(_.toBoolean)
    case FloatType => Some(_.toFloat)
    case DoubleType => Some(_.toDouble)
    case DateType => Some(s => java.time.LocalDate.parse(s).toEpochDay.toInt)
    case d: DecimalType => Some(s => Decimal(BigDecimal(s), d.precision, d.scale))
    case _ => None
  }
}
