package graft.ingest

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types._

import scala.collection.JavaConverters._

/** W1 Avro object-container writer
  * (reference: format/avro/AvroRecordWriterProvider.java:61-121).
  *
  * The environment ships Avro core but not the spark-avro DataFrameWriter
  * module, so Avro files are encoded here: [[factory]] streams a file
  * group's rows through a DataFileWriter inside the write pass of
  * [[IngestWriter]], which owns grouping, ordering and the commit.
  */
object AvroGroupWriter {

  def sparkToAvro(dt: DataType, name: String): Schema = dt match {
    case ByteType | ShortType | IntegerType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType | TimestampNTZType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    // Avro decimal logical type: unscaled big-endian bytes + the
    // precision/scale carried in the schema (the reference's Connect
    // Decimal mapping, format/parquet/ParquetRecordWriterProvider.java:150)
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(et, _) => Schema.createArray(nullable(sparkToAvro(et, name + "_item")))
    // Avro maps are string-keyed (SURVEY §1.2 MAP)
    case MapType(StringType, vt, _) =>
      Schema.createMap(nullable(sparkToAvro(vt, name + "_value")))
    case MapType(kt, _, _) => throw new IllegalArgumentException(
      s"Avro maps require string keys, got $kt")
    case st: StructType => structToAvro(st, name)
    case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  private def nullable(s: Schema): Schema =
    Schema.createUnion(java.util.Arrays.asList(Schema.create(Schema.Type.NULL), s))

  /** Field-level Avro schema. A `StringType` field whose metadata carries
    * `avro.enum.symbols` (comma-separated) becomes an Avro ENUM — the
    * Connect-enum analogue (DataWriterAvroTest.java:157-189); Spark has no
    * enum type, so the hint rides in column metadata. A STRUCT field whose
    * metadata carries `avro.union` (boolean true) is the struct-of-
    * nullables encoding of a MULTI-TYPE union (one branch sub-field per
    * member, exactly one non-null per row — the shape Connect gives
    * union-typed Kafka fields, DataWriterAvroTest.java:174,784-794) and
    * becomes a TRUE Avro union of the branch types. Every other field is
    * a `[null, T]` union (Connect optional semantics). */
  private def fieldSchema(f: StructField, name: String): Schema =
    if (f.dataType == StringType && f.metadata.contains("avro.enum.symbols")) {
      val symbols = f.metadata.getString("avro.enum.symbols")
        .split(",").map(_.trim).toList
      val ename =
        if (f.metadata.contains("avro.enum.name"))
          f.metadata.getString("avro.enum.name")
        else s"${name}_${f.name}_enum"
      Schema.createEnum(ename, null, "graft.ingest", symbols.asJava)
    } else (f.dataType, f.metadata.contains("avro.union")) match {
      case (ust: StructType, true) =>
        // branch order = sub-field order; Avro requires distinct branch
        // types (records/enums distinguished by name), which the
        // struct-of-nullables encoding guarantees by construction
        Schema.createUnion(ust.fields.map(bf =>
          fieldSchema(bf, s"${name}_${f.name}")).toList.asJava)
      case _ => sparkToAvro(f.dataType, name + "_" + f.name)
    }

  def structToAvro(st: StructType, name: String): Schema = {
    val fields = st.fields.map { f =>
      val fs = fieldSchema(f, name)
      // a multi-type union field flattens the optional NULL into the
      // union itself (Avro forbids union-of-union)
      val withNull =
        if (fs.getType == Schema.Type.UNION)
          Schema.createUnion((Schema.create(Schema.Type.NULL) +:
            fs.getTypes.asScala.toList).asJava)
        else nullable(fs)
      new Schema.Field(f.name, withNull,
        null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(name, null, "graft.ingest", false, fields.toList.asJava)
  }

  private def toAvroValue(v: Any, dt: DataType, schema: Schema): Any = (v, dt) match {
    case (null, _) => null
    case (x: Byte, _) => x.toInt
    case (x: Short, _) => x.toInt
    case (x: java.sql.Timestamp, _) =>
      x.getTime * 1000L + (x.getNanos / 1000) % 1000
    case (x: java.time.Instant, _) =>
      x.getEpochSecond * 1000000L + x.getNano / 1000
    case (x: java.time.LocalDateTime, _) =>
      x.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        x.getNano / 1000
    case (x: java.math.BigDecimal, d: DecimalType) =>
      // decimal logical type: unscaled big-endian bytes at the declared scale
      java.nio.ByteBuffer.wrap(
        x.setScale(d.scale).unscaledValue().toByteArray)
    case (x: Array[Byte], _) => java.nio.ByteBuffer.wrap(x)
    case (x: String, StringType)
      if resolveNonNull(schema).getType == Schema.Type.ENUM =>
      new GenericData.EnumSymbol(resolveNonNull(schema), x)
    case (x: Row, st: StructType) =>
      rowToRecord(x, st, resolveNonNull(schema))
    case (x: scala.collection.Seq[_], ArrayType(et, _)) =>
      val elemSchema = resolveNonNull(schema).getElementType
      x.map(e => toAvroValue(e, et, elemSchema)).asJava
    case (x: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      val valueSchema = resolveNonNull(schema).getValueType
      val m = new java.util.LinkedHashMap[String, Any]
      x.foreach { case (k, v) => m.put(k.toString, toAvroValue(v, vt, valueSchema)) }
      m
    case (x, _) => x
  }

  private def resolveNonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  def rowToRecord(row: Row, st: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < st.fields.length) {
      val f = st.fields(i)
      val fs = schema.getField(f.name).schema()
      val isUnionStruct =
        f.metadata.contains("avro.union") && f.dataType.isInstanceOf[StructType]
      rec.put(f.name,
        if (row.isNullAt(i)) null
        else if (isUnionStruct)
          unionValue(row.getStruct(i), f.dataType.asInstanceOf[StructType], fs)
        else toAvroValue(row.get(i), f.dataType, fs))
      i += 1
    }
    rec
  }

  /** Struct-of-nullables → Avro union value: the single non-null branch
    * sub-field converts against its union branch schema (branch k sits
    * after the leading NULL added by [[structToAvro]]). An all-null
    * struct is the encoding of a null optional union. */
  private def unionValue(sub: Row, ust: StructType, union: Schema): Any = {
    val types = union.getTypes
    val off = if (types.get(0).getType == Schema.Type.NULL) 1 else 0
    var k = 0
    while (k < ust.fields.length) {
      if (!sub.isNullAt(k))
        return toAvroValue(sub.get(k), ust.fields(k).dataType,
          types.get(k + off))
      k += 1
    }
    null
  }

  // ---- read-back (the inverse decode) ----------------------------------

  /** Read Avro container files written by [[factory]] back as rows of
    * `payload` — the relational face of the decode the specs do by hand.
    * Each file decodes on an executor through the FileSystem API (so
    * paths may be any Hadoop scheme); parallelism is file-grained, the
    * natural unit for container files. Union-struct fields (metadata
    * `avro.union`) re-encode the single branch value into its sub-field
    * slot; record branches disambiguate by the generated schema-name
    * suffix (`..._<subField>`). */
  def read(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
           payload: StructType): DataFrame = {
    require(paths.nonEmpty, "AvroGroupWriter.read: no paths")
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val st = payload
    val rows = spark.sparkContext
      .parallelize(paths, math.min(paths.size, 32))
      .flatMap { p =>
        val fs = FileSystem.get(new java.net.URI(p), hadoopConf.value)
        val reader = new org.apache.avro.file.DataFileStream[GenericRecord](
          fs.open(new Path(p)),
          new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (reader.hasNext) out += recordToRow(reader.next(), st)
        reader.close()
        out
      }
    spark.createDataFrame(rows, payload)
  }

  def recordToRow(rec: GenericRecord, st: StructType): Row =
    Row.fromSeq(st.fields.toSeq.map { f =>
      val v = rec.get(f.name)
      if (v == null) null
      else (f.dataType, f.metadata.contains("avro.union")) match {
        case (ust: StructType, true) =>
          // Avro's OWN branch resolution (the writer used the same call),
          // so readback can never mis-slot a value — union types are
          // [NULL?, branch0, branch1, ...] in sub-field order by
          // construction ([[structToAvro]])
          val union = rec.getSchema.getField(f.name).schema()
          val types = union.getTypes
          val off = if (types.get(0).getType == Schema.Type.NULL) 1 else 0
          val k = GenericData.get().resolveUnion(union, v) - off
          require(k >= 0 && k < ust.fields.length,
            s"union branch $k out of range for ${ust.simpleString}")
          Row.fromSeq(ust.fields.indices.map(i =>
            if (i == k) fromAvroValue(v, ust.fields(i).dataType) else null))
        case _ => fromAvroValue(v, f.dataType)
      }
    })

  private def fromAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (e: GenericData.EnumSymbol, StringType) => e.toString
    case (bb: java.nio.ByteBuffer, BinaryType) =>
      val d = bb.duplicate(); val a = new Array[Byte](d.remaining())
      d.get(a); a
    case (bb: java.nio.ByteBuffer, d: DecimalType) =>
      val dup = bb.duplicate(); val a = new Array[Byte](dup.remaining())
      dup.get(a)
      new java.math.BigDecimal(new java.math.BigInteger(a), d.scale)
    case (i: java.lang.Integer, ByteType) => i.byteValue()
    case (i: java.lang.Integer, ShortType) => i.shortValue()
    case (l: java.lang.Long, TimestampType) =>
      // timestamp-micros logical type
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l.longValue(), 1000000L),
        Math.floorMod(l.longValue(), 1000000L) * 1000L))
    case (r: GenericRecord, s: StructType) => recordToRow(r, s)
    case (l: java.util.List[_], ArrayType(et, _)) =>
      l.asScala.map(fromAvroValue(_, et)).toSeq
    case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
      m.asScala.map { case (k, x) =>
        k.toString -> fromAvroValue(x, vt)
      }.toMap
    case (x, _) => x
  }

  /** The W1 encoder of the write pass ([[IngestWriter]]): one container
    * file per object, each row converted through [[rowToRecord]] against
    * the Avro schema of its view. */
  def factory(codec: Option[String]): OutputWriterFactory =
    new IngestWriter.StreamWriterFactory {
      def newInstance(file: String, payload: StructType,
                      context: TaskAttemptContext): OutputWriter = {
        val schema = structToAvro(payload, "record")
        val toRow = CatalystTypeConverters.createToScalaConverter(payload)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        codec.getOrElse("null") match {
          case "null" | "none" => ()
          case "deflate" => writer.setCodec(CodecFactory.deflateCodec(6))
          case c => writer.setCodec(CodecFactory.fromString(c))
        }
        writer.create(schema, create(file, context))
        new OutputWriter {
          def write(row: InternalRow): Unit = writer.append(
            rowToRecord(toRow(row).asInstanceOf[Row], payload, schema))
          def close(): Unit = writer.close()
          def path(): String = file
        }
      }
    }
}
