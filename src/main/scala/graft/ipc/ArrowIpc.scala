package graft.ipc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** One Arrow IPC stream message: a standalone byte payload holding the
  * schema plus exactly one RecordBatch — the unit bolson enqueues to its
  * publisher (reference: src/bolson/convert/serializer.cpp:20-45). Batch ids
  * are `partition << 32 | ordinal`, unique without any cross-partition
  * coordination. */
case class IpcMessage(batch_id: Long, n_rows: Long, n_bytes: Long, bytes: Array[Byte])

/** DataFrame ⇄ Arrow IPC conversion (SURVEY §2 a5, a6).
  *
  * Bolson's resizer splits RecordBatches to `--max-rows`
  * (convert/resizer.cpp:21-50) and its serializer enforces `--max-ipc`
  * bytes (convert/serializer.cpp); here both limits are enforced inside a
  * single `mapPartitions` pass — rows stream from the scan into Arrow
  * vectors, a batch is cut when maxRows is hit, and any serialized message
  * over maxIpcBytes is re-serialized in halves. No shuffle, no driver
  * involvement: partition count alone controls fan-out, so the same code
  * runs on one core or a thousand executors.
  *
  * Supported Spark types: integral/floating scalars, boolean, string,
  * binary, timestamp (micros, UTC), array<long>, array<double> — the
  * closure of the testdata tables and bolson's battery/trip schemas
  * (doc/src/schemas.md).
  */
object ArrowIpc {

  /** [[serialize]]'s output encoder, derived once: `spark.implicits` would
    * derive it again on every call, that is on every micro-batch. */
  private val ipcMessageEncoder: Encoder[IpcMessage] = Encoders.product[IpcMessage]

  def toArrowField(f: StructField): Field = f.dataType match {
    case LongType => primitive(f.name, new ArrowType.Int(64, true))
    case IntegerType => primitive(f.name, new ArrowType.Int(32, true))
    case DoubleType => primitive(f.name, new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
    case FloatType => primitive(f.name, new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
    case BooleanType => primitive(f.name, ArrowType.Bool.INSTANCE)
    case StringType => primitive(f.name, ArrowType.Utf8.INSTANCE)
    case BinaryType => primitive(f.name, ArrowType.Binary.INSTANCE)
    case TimestampType =>
      primitive(f.name, new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC"))
    case ArrayType(LongType, _) =>
      new Field(f.name, FieldType.nullable(ArrowType.List.INSTANCE),
        Seq(primitive("element", new ArrowType.Int(64, true))).asJava)
    case ArrayType(DoubleType, _) =>
      new Field(f.name, FieldType.nullable(ArrowType.List.INSTANCE),
        Seq(primitive("element", new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))).asJava)
    case dt => throw new IllegalArgumentException(s"unsupported type for IPC: $dt")
  }

  private def primitive(name: String, t: ArrowType): Field =
    new Field(name, FieldType.nullable(t), null)

  def toArrowSchema(schema: StructType): ArrowSchema =
    new ArrowSchema(schema.fields.map(toArrowField).toSeq.asJava)

  /** Specialized per-column InternalRow writer, resolved once per batch.
    * Operating on InternalRow (via queryExecution.toRdd) skips the
    * Catalyst→external-Row conversion entirely: strings flow
    * UTF8String→Arrow bytes with no java.lang.String, timestamps are
    * already epoch-micros longs (the Arrow unit), arrays copy primitively. */
  private def internalWriter(vec: FieldVector, dt: DataType)
      : (org.apache.spark.sql.catalyst.InternalRow, Int, Int) => Unit = (vec, dt) match {
    case (x: BigIntVector, LongType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getLong(c))
    case (x: TimeStampMicroTZVector, TimestampType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getLong(c))
    case (x: IntVector, IntegerType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getInt(c))
    case (x: Float8Vector, DoubleType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getDouble(c))
    case (x: Float4Vector, FloatType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getFloat(c))
    case (x: BitVector, BooleanType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, if (r.getBoolean(c)) 1 else 0)
    case (x: VarCharVector, StringType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getUTF8String(c).getBytes)
    case (x: VarBinaryVector, BinaryType) => (r, c, i) =>
      if (r.isNullAt(c)) x.setNull(i) else x.setSafe(i, r.getBinary(c))
    case (x: ListVector, ArrayType(LongType, _)) =>
      val data = x.getDataVector.asInstanceOf[BigIntVector]
      listWriter(x) { (a, j, k) => if (a.isNullAt(j)) data.setNull(k) else data.setSafe(k, a.getLong(j)) }
    case (x: ListVector, ArrayType(DoubleType, _)) =>
      val data = x.getDataVector.asInstanceOf[Float8Vector]
      listWriter(x) { (a, j, k) => if (a.isNullAt(j)) data.setNull(k) else data.setSafe(k, a.getDouble(j)) }
    case (v, t) => throw new IllegalArgumentException(s"unsupported for IPC: $t / ${v.getClass}")
  }

  /** Writes row `r`'s array column `c` as list `i` of `x`, each element
    * straight into the list's data vector through `put(array, element,
    * slot)`; the data vector's value count is set once, when the batch's
    * row count is. */
  private def listWriter(x: ListVector)(
      put: (org.apache.spark.sql.catalyst.util.ArrayData, Int, Int) => Unit)
      : (org.apache.spark.sql.catalyst.InternalRow, Int, Int) => Unit = (r, c, i) =>
    if (r.isNullAt(c)) x.setNull(i)
    else {
      val a = r.getArray(c)
      val n = a.numElements()
      val start = x.startNewValue(i)
      var j = 0
      while (j < n) { put(a, j, start + j); j += 1 }
      x.endValue(i, n)
    }

  /** Per-column Arrow→Catalyst reader, resolved once per batch (the read
    * twin of [[internalWriter]]): UTF8String from bytes, raw epoch-micros,
    * GenericArrayData with null-element support — no external Row objects
    * and no per-cell type dispatch anywhere on the IPC path. */
  private def internalReader(vec: FieldVector, dt: DataType): Int => Any = {
    val body: Int => Any = dt match {
      case LongType => val x = vec.asInstanceOf[BigIntVector]; i => x.get(i)
      case IntegerType => val x = vec.asInstanceOf[IntVector]; i => x.get(i)
      case DoubleType => val x = vec.asInstanceOf[Float8Vector]; i => x.get(i)
      case FloatType => val x = vec.asInstanceOf[Float4Vector]; i => x.get(i)
      case BooleanType => val x = vec.asInstanceOf[BitVector]; i => x.get(i) == 1
      case StringType =>
        val x = vec.asInstanceOf[VarCharVector]
        i => org.apache.spark.unsafe.types.UTF8String.fromBytes(x.get(i))
      case BinaryType => val x = vec.asInstanceOf[VarBinaryVector]; i => x.get(i)
      case TimestampType => val x = vec.asInstanceOf[TimeStampMicroTZVector]; i => x.get(i)
      case ArrayType(et, _) =>
        val lv = vec.asInstanceOf[ListVector]
        val elem: Int => Any = et match {
          case LongType => val d = lv.getDataVector.asInstanceOf[BigIntVector]
            j => if (d.isNull(j)) null else d.get(j)
          case DoubleType => val d = lv.getDataVector.asInstanceOf[Float8Vector]
            j => if (d.isNull(j)) null else d.get(j)
          case other => throw new IllegalArgumentException(s"list element type: $other")
        }
        i => {
          val start = lv.getOffsetBuffer.getInt(i * 4L)
          val end = lv.getOffsetBuffer.getInt((i + 1) * 4L)
          val out = new Array[Any](end - start)
          var j = start
          while (j < end) { out(j - start) = elem(j); j += 1 }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
        }
      case other => throw new IllegalArgumentException(s"unsupported type for IPC: $other")
    }
    i => if (vec.isNull(i)) null else body(i)
  }

  /** IPC body compression codec by name ("none" | "lz4" | "zstd") — a
    * network-bound publish path at 100 TB wants the wire format
    * compressed; any Arrow consumer decompresses transparently. */
  private def codecType(codec: String)
      : Option[org.apache.arrow.vector.compression.CompressionUtil.CodecType] = {
    import org.apache.arrow.vector.compression.CompressionUtil.CodecType
    codec match {
      case "none" => None
      case "lz4" => Some(CodecType.LZ4_FRAME)
      case "zstd" => Some(CodecType.ZSTD)
      case other => throw new IllegalArgumentException(s"unknown IPC codec: $other")
    }
  }

  /** Validate a codec name without serializing (CLI-time check). */
  def validateCodec(codec: String): Unit = { codecType(codec); () }

  /** A RootAllocator closed at task completion: every root/reader on the
    * IPC paths is closed inline, but routing the allocator itself through
    * the task lifecycle makes Arrow's leak accounting actually run — a
    * missed buffer close fails loudly (IllegalStateException at task end)
    * instead of leaking silently into an allocator abandoned to GC. */
  private def taskScopedAllocator(): RootAllocator = {
    val allocator = new RootAllocator()
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => allocator.close()))
    allocator
  }

  /** One IPC stream payload from a (possibly sliced) root; recursively
    * halve via zero-copy slices if the payload exceeds maxIpcBytes —
    * bolson's max_ipc enforcement (serializer.cpp), done per split. */
  private def serializeRoot(root: VectorSchemaRoot, maxIpcBytes: Long,
                            codec: String): Seq[(Array[Byte], Int)] = {
    // sized for the message up front (its buffers, plus room for the
    // schema and framing): grown by doubling, the stream would allocate
    // every power of two below it, arrays a few MB large that the
    // collector keeps in their own regions until the next young collection
    val vectors = root.getFieldVectors.asScala
    val size = vectors.map(_.getBufferSize.toLong).sum + 4096L + 512L * vectors.size
    val out = new ByteArrayOutputStream(math.min(size, Int.MaxValue - 8L).toInt)
    val writer = codecType(codec) match {
      case None => new ArrowStreamWriter(root, null, out)
      case Some(ct) => new ArrowStreamWriter(root, null,
        java.nio.channels.Channels.newChannel(out),
        org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE, ct)
    }
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    val bytes = out.toByteArray
    val n = root.getRowCount
    if (bytes.length <= maxIpcBytes || n <= 1) Seq((bytes, n))
    else {
      val lo = root.slice(0, n / 2)
      val hi = root.slice(n / 2, n - n / 2)
      try serializeRoot(lo, maxIpcBytes, codec) ++ serializeRoot(hi, maxIpcBytes, codec)
      finally { lo.close(); hi.close() }
    }
  }

  /** Iterator wrapper accumulating time spent pulling from upstream (the
    * scan + parse feeding the serializer) — the "parse" stage of the
    * latency decomposition. Zero-cost when disabled (one branch per call). */
  private final class PullTimed[T](it: Iterator[T], enabled: Boolean)
      extends Iterator[T] {
    var ns = 0L
    override def hasNext: Boolean =
      if (!enabled) it.hasNext
      else { val t = System.nanoTime(); val r = it.hasNext; ns += System.nanoTime() - t; r }
    override def next(): T =
      if (!enabled) it.next()
      else { val t = System.nanoTime(); val r = it.next(); ns += System.nanoTime() - t; r }
  }

  /** a5+a6: DataFrame → per-partition stream of bounded IPC messages.
    * Streams InternalRows (queryExecution.toRdd — no external-Row
    * conversion) straight into Arrow vectors; a batch is cut at maxRows.
    * With `timers`, task-side nanos split into parse (upstream pull) and
    * serialize (Arrow write + IPC encode) accumulators — bolson's
    * per-stage latency stamps (latency.h). */
  def serialize(df: DataFrame, maxRows: Int,
                maxIpcBytes: Long = Long.MaxValue,
                codec: String = "none",
                timers: Option[graft.metrics.StageTimers] = None): Dataset[IpcMessage] = {
    require(maxRows > 0, s"maxRows must be positive (got $maxRows)")
    require(maxIpcBytes > 0, s"maxIpcBytes must be positive (got $maxIpcBytes)")
    codecType(codec) // validate eagerly, not inside tasks
    val schema = df.schema
    val arrowSchemaJson = toArrowSchema(schema).toJson
    val rdd = df.queryExecution.toRdd.mapPartitions { it0 =>
      val timed = timers.isDefined
      val it = new PullTimed(it0, timed)
      val arrowSchema = ArrowSchema.fromJSON(arrowSchemaJson)
      val allocator = taskScopedAllocator()
      val pid = TaskContext.getPartitionId().toLong
      var ordinal = -1L
      new Iterator[IpcMessage] {
        private var pending: List[IpcMessage] = Nil
        override def hasNext: Boolean = pending.nonEmpty || it.hasNext
        override def next(): IpcMessage = pending match {
          case head :: tail => pending = tail; head
          case Nil =>
            val t0 = if (timed) System.nanoTime() else 0L
            val pullBefore = it.ns
            val root = VectorSchemaRoot.create(arrowSchema, allocator)
            try {
              val writers = root.getFieldVectors.asScala.zip(schema.fields)
                .map { case (v, f) => internalWriter(v, f.dataType) }.toArray
              root.allocateNew()
              var i = 0
              while (i < maxRows && it.hasNext) {
                val row = it.next() // reused buffer: consumed immediately
                var c = 0
                while (c < writers.length) { writers(c)(row, c, i); c += 1 }
                i += 1
              }
              root.setRowCount(i)
              pending = serializeRoot(root, maxIpcBytes, codec).map { case (b, n) =>
                ordinal += 1
                IpcMessage((pid << 32) | ordinal, n.toLong, b.length.toLong, b)
              }.toList
            } finally root.close()
            if (timed) {
              val pull = it.ns - pullBefore
              timers.get.parseNs.add(pull)
              timers.get.serializeNs.add(System.nanoTime() - t0 - pull)
            }
            next()
        }
      }
    }
    df.sparkSession.createDataset(rdd)(ipcMessageEncoder)
  }

  /** Inverse of [[serialize]]: IPC messages → rows, per partition —
    * emitting InternalRows straight into internalCreateDataFrame (no
    * external-Row materialization, mirroring the serialize path). */
  def deserialize(spark: SparkSession, messages: Dataset[IpcMessage],
                  schema: StructType): DataFrame = {
    val rdd = messages.rdd.mapPartitions { it =>
      val allocator = taskScopedAllocator()
      it.flatMap { msg =>
        val reader = new ArrowStreamReader(new ByteArrayInputStream(msg.bytes), allocator,
          org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
        val rows = try {
          val root = reader.getVectorSchemaRoot
          val out = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.catalyst.InternalRow]
          while (reader.loadNextBatch()) {
            val vecs = root.getFieldVectors.asScala
            val readers = vecs.zip(schema.fields)
              .map { case (v, f) => internalReader(v, f.dataType) }.toArray
            var i = 0
            while (i < root.getRowCount) {
              val values = new Array[Any](schema.length)
              var c = 0
              while (c < schema.length) { values(c) = readers(c)(i); c += 1 }
              out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
              i += 1
            }
          }
          out.toSeq
        } finally reader.close()
        rows
      }
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.internalCreateDataFrame(spark, rdd, schema)
  }
}
