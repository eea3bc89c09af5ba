package graft.sources.osmpbf

import graft.sources.osmxml.OsmXmlSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** Seeded fuzz sweep over the PBF blob decoder (ROADMAP direction 5):
  * blocks from [[OsmPbfEncoder]] are truncated or bit-flipped, both as
  * zlib blobs and as raw (uncompressed) blobs, whose flips land in the
  * protobuf structure itself. Every mutated blob must either decode or
  * fail with [[PbfFormatException]], within a time and allocation
  * bound — never a bare runtime exception, a hang or a runaway buffer.
  */
object PbfDecoderProperties extends Properties("graft.pbf") {
  import PbfFixtures._

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(300).withInitialSeed(20261018L)

  private val kindGen = Gen.oneOf("nodes", "ways", "relations")

  private val sizedBlockGen: Gen[(String, Int, Array[Byte])] = for {
    kind <- kindGen
    n <- Gen.chooseNum(1, 12)
    seed <- Gen.long
  } yield (kind, n, OsmPbfEncoder.encodeBlock(kind, rows(kind, n, new scala.util.Random(seed))))

  private val blockGen = sizedBlockGen.map { case (kind, _, frame) => (kind, frame) }

  /** A truncation at `cut`, or `flips` single-bit flips. */
  private def mutate(bytes: Array[Byte], truncate: Boolean, cut: Int,
      flips: Seq[(Int, Int)]): Array[Byte] =
    if (truncate) bytes.take(cut % bytes.length)
    else {
      val out = bytes.clone()
      flips.foreach { case (at, bit) => out(at % out.length) = (out(at % out.length) ^ (1 << bit)).toByte }
      out
    }

  private val mutationGen = for {
    truncate <- Gen.prob(0.3)
    cut <- Gen.chooseNum(0, Int.MaxValue)
    flips <- Gen.resize(4, Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(0, 7))))
  } yield (truncate, cut, flips)

  private val allocBound = 4L * PbfBlobDecoder.MaxRawBlobSize

  /** Decodes or fails named, within the time and allocation bounds. */
  private def decodesOrNamed(kind: String, blob: Array[Byte]): Prop = {
    val result =
      try Some(bounded {
        val mx = java.lang.management.ManagementFactory.getThreadMXBean
          .asInstanceOf[com.sun.management.ThreadMXBean]
        val tid = Thread.currentThread().getId
        val a0 = mx.getThreadAllocatedBytes(tid)
        val outcome =
          try { new PbfBlobDecoder(kind, "fuzz:0").decode(blob).size; "decoded" }
          catch { case e: PbfFormatException => "named: " + e.getMessage }
        (outcome, mx.getThreadAllocatedBytes(tid) - a0)
      })
      catch { case _: java.util.concurrent.TimeoutException => None }
    result match {
      case None => Prop.falsified :| "no result within the time bound"
      case Some((outcome, alloc)) => Prop(alloc < allocBound) :| s"allocated $alloc bytes ($outcome)"
    }
  }

  property("encoded blocks decode to their row count, zlib or raw") =
    forAll(sizedBlockGen) { case (kind, n, frame) =>
      val (blob, raw) = blobs(frame)
      new PbfBlobDecoder(kind, "fuzz:0").decode(blob).size == n &&
        new PbfBlobDecoder(kind, "fuzz:0").decode(rawBlob(raw)).size == n
    }

  // no shrinking: a stuck decode keeps its thread, so each shrink step
  // of a hanging input would wait out the time bound again
  property("mutated zlib blobs decode or fail named") =
    forAllNoShrink(blockGen, mutationGen) { case ((kind, frame), (truncate, cut, flips)) =>
      decodesOrNamed(kind, mutate(blobs(frame)._1, truncate, cut, flips))
    }

  property("mutated raw blocks decode or fail named") =
    forAllNoShrink(blockGen, mutationGen) { case ((kind, frame), (truncate, cut, flips)) =>
      decodesOrNamed(kind, rawBlob(mutate(blobs(frame)._2, truncate, cut, flips)))
    }
}

/** Entity rows and blob plumbing shared by the decoder specs. */
private[osmpbf] object PbfFixtures {

  /** Runs `body` on a daemon thread and waits at most `limit`. A decoder
    * spinning in a loop ignores interrupts, so a plain time limit on the
    * calling thread would hang the suite instead of failing it; this
    * throws `TimeoutException` and leaves the stuck thread behind.
    */
  def bounded[T](body: => T, limit: scala.concurrent.duration.FiniteDuration =
      scala.concurrent.duration.Duration(10, "s")): T =
    scala.concurrent.Await.result(
      scala.concurrent.Future(body)(scala.concurrent.ExecutionContext.global), limit)

  private def toInternal(kind: String): Row => InternalRow = {
    val conv = CatalystTypeConverters.createToCatalystConverter(OsmXmlSource.schemaFor(kind))
    r => conv(r).asInstanceOf[InternalRow]
  }

  /** `n` seeded entities of `kind` in the source schema. */
  def rows(kind: String, n: Int, rnd: scala.util.Random): Seq[InternalRow] = {
    val conv = toInternal(kind)
    def word() = rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
    (0 until n).map { i =>
      val id = 1000L + i * (1 + rnd.nextInt(50))
      val tags = (0 until rnd.nextInt(4)).map(_ => word() -> word()).toMap
      val ts = new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L)
      val meta = Seq[Any](id, 1 + rnd.nextInt(9), rnd.nextInt(1000), ts,
        rnd.nextInt(100000).toLong, tags)
      conv(Row.fromSeq(kind match {
        case "nodes" =>
          meta ++ Seq(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85,
            word(), true)
        case "ways" =>
          meta ++ Seq(Seq.fill(2 + rnd.nextInt(6))(rnd.nextInt(100000).toLong), word(), true)
        case _ =>
          meta ++ Seq(Seq.fill(1 + rnd.nextInt(4))(
            Row(Seq("N", "W", "R")(rnd.nextInt(3)), rnd.nextInt(100000).toLong, word())),
            word(), true)
      }))
    }
  }

  /** The frame's Blob bytes (zlib) and its inflated PrimitiveBlock. */
  def blobs(frame: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val headerLen = java.nio.ByteBuffer.wrap(frame).getInt
    val blob = frame.drop(4 + headerLen)
    var zlib: Array[Byte] = null
    val br = new ProtoReader(blob)
    while (br.hasNext) br.readTag() match {
      case (3, 2) => val (o, l) = br.readBytes(); zlib = blob.slice(o, o + l)
      case (_, wt) => br.skip(wt)
    }
    val inf = new java.util.zip.Inflater()
    inf.setInput(zlib)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    while (!inf.finished()) out.write(buf, 0, inf.inflate(buf))
    inf.end()
    (blob, out.toByteArray)
  }

  /** A Blob carrying `block` uncompressed (field 1, `raw`). */
  def rawBlob(block: Array[Byte]): Array[Byte] = new ProtoWriter().bytesField(1, block).toByteArray

  /** `block` as a zlib stream, optionally with a preset dictionary. */
  def deflated(block: Array[Byte], dictionary: Option[Array[Byte]] = None): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    dictionary.foreach(d.setDictionary)
    d.setInput(block); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** A Blob carrying `zlib` as its zlib_data, with an optional raw_size. */
  def zlibBlob(zlib: Array[Byte], rawSize: Option[Long] = None): Array[Byte] = {
    val w = new ProtoWriter
    rawSize.foreach(w.varintField(2, _))
    w.bytesField(3, zlib).toByteArray
  }
}
