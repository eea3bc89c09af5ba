package graft.sources.osmpbf

import java.nio.charset.StandardCharsets

/** Minimal protobuf wire-format codec — just enough of the public
  * encoding spec (developers.google.com/protocol-buffers/docs/encoding)
  * to read and write the three OSM PBF message families
  * (fileformat.proto / osmformat.proto, wiki.openstreetmap.org/wiki/PBF_Format).
  * Hand-rolled because the build allows no new dependencies.
  *
  * Every read stays inside this reader's `[start, end)` window: a
  * truncated varint, a length that runs past the window or an
  * unsupported wire type throws [[PbfFormatException]] instead of
  * reading into the neighbouring field.
  */
final class ProtoReader(buf: Array[Byte], start: Int, end: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  private var pos = start

  def hasNext: Boolean = pos < end

  /** Returns (fieldNumber, wireType) of the next tag. */
  def readTag(): (Int, Int) = {
    val tag = readVarint().toInt
    (tag >>> 3, tag & 7)
  }

  def readVarint(): Long = {
    var shift = 0
    var result = 0L
    var b = 0
    do {
      if (pos >= end) throw new PbfFormatException(s"truncated varint at byte $pos")
      if (shift > 63) throw new PbfFormatException(s"varint longer than 10 bytes at byte $pos")
      b = buf(pos) & 0xFF
      pos += 1
      result |= (b & 0x7FL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  /** ZigZag-decoded signed varint. */
  def readSVarint(): Long = {
    val v = readVarint()
    (v >>> 1) ^ -(v & 1)
  }

  def readBytes(): (Int, Int) = { // (offset, length) view into buf
    val len = readVarint()
    val off = pos
    advance(len)
    (off, len.toInt)
  }

  private def advance(n: Long): Unit = {
    if (n < 0 || n > end - pos)
      throw new PbfFormatException(s"field of $n bytes at byte $pos overruns its ${end - pos}-byte window")
    pos += n.toInt
  }

  def readString(): String = {
    val (off, len) = readBytes()
    new String(buf, off, len, StandardCharsets.UTF_8)
  }

  def subReader(): ProtoReader = {
    val (off, len) = readBytes()
    new ProtoReader(buf, off, off + len)
  }

  def packedVarints(): Array[Long] = {
    val (off, len) = readBytes()
    val r = new ProtoReader(buf, off, off + len)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (r.hasNext) out += r.readVarint()
    out.toArray
  }

  def packedSVarints(): Array[Long] = {
    val (off, len) = readBytes()
    val r = new ProtoReader(buf, off, off + len)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (r.hasNext) out += r.readSVarint()
    out.toArray
  }

  /** Skip a field of the given wire type. */
  def skip(wireType: Int): Unit = wireType match {
    case 0 => readVarint()
    case 1 => advance(8)
    case 2 => readBytes()
    case 5 => advance(4)
    case other => throw new PbfFormatException(s"unsupported wire type $other at byte $pos")
  }
}

/** Writer — used by tests to build fixture PBF files. */
final class ProtoWriter {
  private val out = new java.io.ByteArrayOutputStream()

  def toByteArray: Array[Byte] = out.toByteArray

  def writeVarint(v: Long): this.type = {
    var x = v
    while ((x & ~0x7FL) != 0) {
      out.write(((x & 0x7F) | 0x80).toInt)
      x >>>= 7
    }
    out.write(x.toInt)
    this
  }

  def writeSVarint(v: Long): this.type = writeVarint((v << 1) ^ (v >> 63))

  def tag(field: Int, wireType: Int): this.type = writeVarint((field << 3) | wireType)

  def bytesField(field: Int, b: Array[Byte]): this.type = {
    tag(field, 2); writeVarint(b.length); out.write(b); this
  }

  def stringField(field: Int, s: String): this.type =
    bytesField(field, s.getBytes(StandardCharsets.UTF_8))

  def varintField(field: Int, v: Long): this.type = { tag(field, 0); writeVarint(v) }

  def packedSVarintField(field: Int, vs: Seq[Long]): this.type = {
    val w = new ProtoWriter
    vs.foreach(w.writeSVarint)
    bytesField(field, w.toByteArray)
  }

  def packedVarintField(field: Int, vs: Seq[Long]): this.type = {
    val w = new ProtoWriter
    vs.foreach(w.writeVarint)
    bytesField(field, w.toByteArray)
  }
}
