package graft.tables

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

import graft.catalog.UnsupportedOperationError

/** Deletion vectors for the real Delta protocol (PROTOCOL.md "Deletion
  * Vectors" / "Deletion Vector Descriptor Schema" / "Deletion Vector
  * Format"): a per-data-file bitmap of PHYSICAL row positions that are
  * deleted, so a DELETE touching 10 rows of a 1 GB file commits a few-KB
  * bitmap instead of rewriting the file — the merge-on-read path every
  * Delta engine (delta-rs, Delta-Spark, DuckDB delta) uses for selective
  * deletes at scale.
  *
  * The reference reads/writes Delta through delta-rs
  * (uchelper/dataframe.py:198-199), which materializes DVs on read and can
  * produce them via DELETE/MERGE; a reader without DV support silently
  * resurrects deleted rows, which is why DeltaLog used to REFUSE such
  * tables. This module implements the published format so they are read
  * correctly instead — and lets DELETE write them.
  *
  * On-disk format implemented here (per PROTOCOL.md):
  *   - descriptor in the add action: {storageType: "u"|"i"|"p",
  *     pathOrInlineDv, offset?, sizeInBytes, cardinality};
  *   - DV file: 1 version byte (=1), then per DV at its `offset`:
  *     [size: 4B big-endian][data: `size` bytes][CRC-32 of data: 4B BE];
  *   - data: a "RoaringBitmapArray" in the portable format — little-endian
  *     [magic 1681511377: i32][#bitmaps: i64][per bitmap: key i32 +
  *     standard 32-bit roaring bitmap portable serialization], where a
  *     64-bit value v lives in bitmap (v >>> 32) at position v.toInt;
  *   - "u" pathOrInlineDv: optional random prefix + Z85-encoded UUID (last
  *     20 chars); file name `deletion_vector_<uuid>.bin` under the table
  *     (or prefix) directory. "i" inlines the Z85-encoded data itself
  *     (zero-padded to a multiple of 4 bytes; sizeInBytes recovers the
  *     true length). "p" is an absolute path.
  *
  * Scale posture: DVs are loaded driver-side (they are metadata-sized —
  * bounded by cardinality, KBs for selective deletes), broadcast once,
  * and applied as a codegen'd filter over `_metadata.row_index` — the scan
  * stays a distributed parquet read with pushdown intact; no join, no
  * shuffle.
  */
object DeletionVectors {

  /** The `deletionVector` descriptor of an add action. */
  final case class Descriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long)

  val FormatVersion: Byte = 1
  /** Little-endian magic of the portable RoaringBitmapArray serialization. */
  val PortableMagic: Int = 1681511377
  /** Magic of the non-portable (native) serialization — recognized so the
    * error names it, but only the spec-mandated portable form is read.
    */
  val NativeMagic: Int = 1681511376

  // ---- Z85 (ZeroMQ base85 — the alphabet Delta uses for DV paths) ----

  private val Z85Alphabet: Array[Char] =
    ("0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#").toCharArray
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Strict Z85: input length must be a multiple of 4 (5 chars per 4 bytes). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"z85 input length ${bytes.length} not a multiple of 4")
    val sb = new java.lang.StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div >= 1) { sb.append(Z85Alphabet((v / div % 85).toInt)); div /= 85 }
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 string length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  /** Arbitrary-length data: zero-pad to a multiple of 4 before encoding
    * (the descriptor's sizeInBytes recovers the true length on decode).
    */
  def encodeData(data: Array[Byte]): String = {
    val pad = (4 - data.length % 4) % 4
    z85Encode(if (pad == 0) data else data ++ new Array[Byte](pad))
  }

  def decodeData(s: String, trueLength: Int): Array[Byte] = {
    val raw = z85Decode(s)
    require(raw.length >= trueLength, s"inline DV decodes to ${raw.length} bytes < $trueLength")
    raw.take(trueLength)
  }

  def encodeUUID(uuid: UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  def decodeUUID(s: String): UUID = {
    val bb = ByteBuffer.wrap(z85Decode(s))
    new UUID(bb.getLong, bb.getLong)
  }

  // ---- 64-bit roaring bitmap (the "RoaringBitmapArray" shape) ----

  /** Mutable 64-bit bitmap as an ordered map of 32-bit roaring bitmaps
    * keyed by the value's high word (only non-negative row indexes occur).
    */
  final class Bitmap64 extends Serializable {
    private val bitmaps = new java.util.TreeMap[Integer, RoaringBitmap]()

    def add(v: Long): Unit = {
      require(v >= 0, s"row index $v is negative")
      val hi = (v >>> 32).toInt
      var b = bitmaps.get(hi)
      if (b == null) { b = new RoaringBitmap(); bitmaps.put(hi, b) }
      b.add(v.toInt)
    }

    def contains(v: Long): Boolean = {
      if (v < 0) return false
      val b = bitmaps.get((v >>> 32).toInt)
      b != null && b.contains(v.toInt)
    }

    def or(other: Bitmap64): Unit = {
      other.bitmaps.forEach { (k, b) =>
        val mine = bitmaps.get(k)
        if (mine == null) bitmaps.put(k, b.clone()) else mine.or(b)
      }
    }

    def cardinality: Long = {
      var n = 0L
      bitmaps.forEach((_, b) => n += b.getLongCardinality)
      n
    }

    /** Portable serialization (see object doc). */
    def serialize: Array[Byte] = {
      var size = 4 + 8
      bitmaps.forEach((_, b) => { b.runOptimize(); size += 4 + b.serializedSizeInBytes() })
      val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(PortableMagic)
      buf.putLong(bitmaps.size().toLong)
      bitmaps.forEach { (k, b) =>
        buf.putInt(k)
        b.serialize(buf)
      }
      buf.array()
    }
  }

  object Bitmap64 {
    def apply(values: Iterable[Long]): Bitmap64 = {
      val bm = new Bitmap64
      values.foreach(bm.add)
      bm
    }

    def deserialize(data: Array[Byte]): Bitmap64 = {
      val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
      val magic = buf.getInt
      if (magic == NativeMagic)
        throw UnsupportedOperationError(
          "deletion vector uses the native RoaringBitmapArray serialization; " +
            "only the portable format (magic 1681511377) is supported")
      require(magic == PortableMagic, s"bad deletion-vector magic $magic")
      val n = buf.getLong
      val bm = new Bitmap64
      var i = 0L
      while (i < n) {
        val key = buf.getInt
        val rb = new RoaringBitmap()
        // deserialize from a duplicate, then advance the parent buffer by
        // the serialized size — robust to either position semantics
        val dup = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        rb.deserialize(dup)
        buf.position(buf.position() + rb.serializedSizeInBytes())
        bm.bitmaps.put(key, rb)
        i += 1
      }
      bm
    }
  }

  // ---- DV file IO ----

  private[tables] def dvFileName(uuid: UUID): String = s"deletion_vector_$uuid.bin"

  /** Resolve a descriptor to its file path ("u"/"p" only). */
  def absolutePath(tableLocation: String, d: Descriptor): Path = d.storageType match {
    case "u" =>
      require(d.pathOrInlineDv.length >= 20, s"DV path '${d.pathOrInlineDv}' shorter than a z85 UUID")
      val prefix = d.pathOrInlineDv.dropRight(20)
      val uuid = decodeUUID(d.pathOrInlineDv.takeRight(20))
      val base = if (prefix.isEmpty) new Path(tableLocation) else new Path(tableLocation, prefix)
      new Path(base, dvFileName(uuid))
    case "p" => new Path(d.pathOrInlineDv)
    case other =>
      throw UnsupportedOperationError(s"deletion-vector storageType '$other' has no file path")
  }

  /** The serialized bitmap bytes of a descriptor, CRC-verified for the
    * on-file storage types. The Configuration overload also runs on
    * EXECUTORS (merge-with-existing during distributed DV writes).
    */
  def readData(spark: SparkSession, tableLocation: String, d: Descriptor): Array[Byte] =
    readData(spark.sessionState.newHadoopConf(), tableLocation, d)

  def readData(conf: org.apache.hadoop.conf.Configuration,
      tableLocation: String, d: Descriptor): Array[Byte] =
    d.storageType match {
      case "i" => decodeData(d.pathOrInlineDv, d.sizeInBytes)
      case "u" | "p" =>
        val p = absolutePath(tableLocation, d)
        val f = p.getFileSystem(conf)
        val in = f.open(p)
        try {
          val version = in.readByte()
          require(version == FormatVersion, s"unsupported DV file format version $version at $p")
          in.seek(d.offset.getOrElse(1).toLong)
          val size = in.readInt()
          require(size == d.sizeInBytes,
            s"DV at $p offset ${d.offset} has size $size, descriptor says ${d.sizeInBytes}")
          val data = new Array[Byte](size)
          in.readFully(data)
          val stored = in.readInt()
          val crc = new CRC32
          crc.update(data)
          require(stored == crc.getValue.toInt, s"DV checksum mismatch at $p offset ${d.offset}")
          data
        } finally in.close()
      case other => throw UnsupportedOperationError(s"unknown deletion-vector storageType '$other'")
    }

  def readBitmap(spark: SparkSession, tableLocation: String, d: Descriptor): Bitmap64 =
    Bitmap64.deserialize(readData(spark, tableLocation, d))

  def readBitmap(conf: org.apache.hadoop.conf.Configuration,
      tableLocation: String, d: Descriptor): Bitmap64 =
    Bitmap64.deserialize(readData(conf, tableLocation, d))

  /** Write one DV file holding `bitmaps` back-to-back (Delta packs the DVs
    * of a commit into few files); returns "u"-type descriptors in input
    * order. The Configuration overload runs on EXECUTORS — the distributed
    * DELETE/UPDATE/MERGE path writes one .bin per task, so bitmap bytes
    * never cross to the driver.
    */
  def writeDvFile(spark: SparkSession, tableLocation: String,
      bitmaps: Seq[Bitmap64]): Seq[Descriptor] =
    writeDvFile(spark.sessionState.newHadoopConf(), tableLocation, bitmaps)

  def writeDvFile(conf: org.apache.hadoop.conf.Configuration, tableLocation: String,
      bitmaps: Seq[Bitmap64]): Seq[Descriptor] = {
    val uuid = UUID.randomUUID()
    val p = new Path(tableLocation, dvFileName(uuid))
    val f = p.getFileSystem(conf)
    val out = f.create(p, false)
    val encodedUuid = encodeUUID(uuid)
    try {
      out.writeByte(FormatVersion.toInt)
      var offset = 1
      bitmaps.map { bm =>
        val data = bm.serialize
        out.writeInt(data.length)
        out.write(data)
        val crc = new CRC32
        crc.update(data)
        out.writeInt(crc.getValue.toInt)
        val d = Descriptor("u", encodedUuid, Some(offset), data.length, bm.cardinality)
        offset += 4 + data.length + 4
        d
      }
    } finally out.close()
  }

  // ---- path normalization (driver manifest key <-> _metadata.file_path) ----

  /** Scheme/authority-free absolute path, the join key between the
    * manifest (driver side) and `_metadata.file_path` (executor side) —
    * both sides of one table resolve through the same filesystem, so the
    * path component alone is unambiguous.
    */
  def normalizedUri(uri: String): String = {
    val colon = uri.indexOf(':')
    val slash = uri.indexOf('/')
    // a scheme prefix exists iff a ':' precedes the first '/'
    // (covers both "file:/path" and "hdfs://host/path" forms)
    if (colon < 0 || (slash >= 0 && slash < colon)) return uri
    var rest = uri.substring(colon + 1)
    if (rest.startsWith("//")) {
      val p = rest.indexOf('/', 2)
      rest = if (p < 0) "" else rest.substring(p)
    }
    rest
  }

  /** The same key for a log path, resolved against the table. */
  def normalizedAbs(conf: org.apache.hadoop.conf.Configuration, tableLocation: String,
      relPath: String): String = {
    val p = new Path(tableLocation, relPath)
    p.getFileSystem(conf).makeQualified(p).toUri.getPath
  }
}

/** Java-serializable Hadoop Configuration (Configuration itself is
  * Writable but not Serializable) — ships filesystem credentials/settings
  * to executors for distributed DV file IO.
  */
private[tables] final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** Broadcast payload of the DV filter (DvIsRowLive), keyed by the
  * normalized absolute file path: the broadcast carries O(files) descriptor
  * TUPLES (~100 bytes each), never bitmap bytes — each executor
  * materializes only the bitmaps of files its own tasks actually scan,
  * decoding inline ("i") descriptors in place and reading sidecar
  * ("u"/"p") ranges straight from storage. This is what keeps a
  * mass-deleted 10^6-file table readable without parking
  * O(files × bitmap bytes) on the driver and in every executor's
  * broadcast block: driver and broadcast stay O(files), executor
  * residency tracks its own task assignment.
  */
final class DvDescriptorLookup(tableLocation: String,
    private[tables] val descriptors: Map[String, DeletionVectors.Descriptor],
    conf: SerializableHadoopConf) extends Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DeletionVectors.Bitmap64]()

  def deleted(filePathUri: String, rowIndex: Long): Boolean = {
    val key = DeletionVectors.normalizedUri(filePathUri)
    descriptors.get(key) match {
      case None => false
      case Some(d) =>
        var bm = cache.get(key)
        if (bm == null) {
          bm = DeletionVectors.readBitmap(conf.value, tableLocation, d)
          cache.put(key, bm)
        }
        bm.contains(rowIndex)
    }
  }
}

/** Scheme/authority-free view of a path URI (DeletionVectors.normalizedUri
  * as a codegen'd column): the executor-side half of joining
  * `_metadata.file_path` (a URI) against driver-side manifest paths. The
  * FULL path is the join key — the Delta protocol only guarantees
  * uniqueness of the relative path, not of file basenames.
  */
case class NormalizedPath(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType

  override protected def nullSafeEval(p: Any): Any =
    UTF8String.fromString(
      DeletionVectors.normalizedUri(p.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.tables.DeletionVectors.normalizedUri($c.toString()));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): NormalizedPath =
    copy(child = newChild)
}

/** TRUE iff (filePath, rowIndex) is NOT marked deleted — the merge-on-read
  * filter applied over `_metadata.file_path` / `_metadata.row_index`.
  * Codegen'd so DV'd scans stay inside whole-stage codegen.
  */
case class DvIsRowLive(left: Expression, right: Expression,
    lookup: Broadcast[DvDescriptorLookup])
    extends BinaryExpression with Predicate {

  override def nullable: Boolean = false

  override protected def nullSafeEval(path: Any, idx: Any): Any =
    !lookup.value.deleted(path.asInstanceOf[UTF8String].toString, idx.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLookup", lookup, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (p, i) =>
      s"${ev.value} = !((graft.tables.DvDescriptorLookup) $ref.value()).deleted($p.toString(), $i);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DvIsRowLive =
    copy(left = newLeft, right = newRight)
}
