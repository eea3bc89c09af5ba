package graft.sources.osmpbf

import org.scalatest.funsuite.AnyFunSuite

/** Malformed blobs the decoder must refuse by name, and promptly: each
  * decode runs under [[PbfFixtures.bounded]], so a decoder that spins
  * fails the test instead of hanging it.
  */
class PbfDecoderSpec extends AnyFunSuite {
  import PbfFixtures._

  private def decode(kind: String, blob: Array[Byte]): Int =
    bounded(new PbfBlobDecoder(kind, "blob.osm.pbf:1234").decode(blob).size)

  private def refused(kind: String, blob: Array[Byte]): PbfFormatException =
    intercept[PbfFormatException](decode(kind, blob))

  private def nodesBlock(n: Int): Array[Byte] =
    blobs(OsmPbfEncoder.encodeBlock("nodes", rows("nodes", n, new scala.util.Random(7))))._2

  /** A PrimitiveBlock with one group holding `entity` under `field`. */
  private def block(strings: Seq[String], field: Int, entity: ProtoWriter): Array[Byte] = {
    val st = new ProtoWriter
    strings.foreach(st.stringField(1, _))
    val g = new ProtoWriter().bytesField(field, entity.toByteArray)
    new ProtoWriter().bytesField(1, st.toByteArray).bytesField(2, g.toByteArray).toByteArray
  }

  test("a zlib blob with a preset dictionary fails named instead of spinning") {
    val blob = zlibBlob(deflated(nodesBlock(3), dictionary = Some("osm".getBytes("UTF-8"))))
    val e = refused("nodes", blob)
    assert(e.getMessage.contains("blob.osm.pbf:1234"))
    assert(e.getMessage.contains("preset dictionary"))
  }

  test("a truncated zlib stream fails named") {
    val zlib = deflated(nodesBlock(50))
    val e = refused("nodes", zlibBlob(zlib.take(zlib.length - 20)))
    assert(e.getMessage.contains("blob.osm.pbf:1234: truncated zlib data"))
  }

  test("a declared raw_size over 32 MiB is refused before allocating") {
    val e = refused("nodes", zlibBlob(deflated(nodesBlock(3)), rawSize = Some(1L << 30)))
    assert(e.getMessage.contains("raw_size"))
  }

  test("an undeclared size never grows the inflate buffer past 32 MiB") {
    val bomb = zlibBlob(deflated(new Array[Byte](PbfBlobDecoder.MaxRawBlobSize + 1)))
    assert(refused("nodes", bomb).getMessage.contains("inflates past"))
    // exactly at the limit still inflates; its zero bytes then fail as
    // field number 0, not as an oversize blob
    val atLimit = zlibBlob(deflated(new Array[Byte](PbfBlobDecoder.MaxRawBlobSize)))
    val e = refused("nodes", atLimit)
    assert(e.getMessage.contains("field number 0 at byte 0"))
    assert(!e.getMessage.contains("inflates past"))
  }

  test("protobuf field number 0 fails named at its byte") {
    val valid = new ProtoWriter().stringField(17, "x").toByteArray
    assert(refused("ways", rawBlob(valid ++ Array[Byte](0)))
      .getMessage.contains(s"blob.osm.pbf:1234: field number 0 at byte ${valid.length}"))
  }

  test("DenseNodes lat/lon or info arrays shorter than ids fail named") {
    def dense(lats: Seq[Long], versions: Seq[Long]): ProtoWriter = {
      val di = new ProtoWriter().packedVarintField(1, versions)
      new ProtoWriter().packedSVarintField(1, Seq(1L, 1L, 1L)).bytesField(5, di.toByteArray)
        .packedSVarintField(8, lats).packedSVarintField(9, Seq(1L, 1L, 1L))
    }
    assert(decode("nodes", rawBlob(block(Seq(""), 2, dense(Seq(1L, 1L, 1L), Seq(1L, 1L, 1L))))) == 3)
    assert(refused("nodes", rawBlob(block(Seq(""), 2, dense(Seq(1L, 1L), Seq(1L, 1L, 1L)))))
      .getMessage.contains("DenseNodes.lat has 2 entries for 3 ids"))
    assert(refused("nodes", rawBlob(block(Seq(""), 2, dense(Seq(1L, 1L, 1L), Seq(1L)))))
      .getMessage.contains("DenseInfo.version has 1 entries for 3 ids"))
  }

  test("string-table indexes out of range fail named") {
    val kv = new ProtoWriter().packedSVarintField(1, Seq(1L)).packedSVarintField(8, Seq(1L))
      .packedSVarintField(9, Seq(1L)).packedVarintField(10, Seq(1L, 9L, 0L))
    assert(refused("nodes", rawBlob(block(Seq("", "amenity"), 2, kv)))
      .getMessage.contains("string-table index 9 out of range [0, 2)"))
    val way = new ProtoWriter().varintField(1, 5L).packedVarintField(2, Seq(1L))
      .packedVarintField(3, Seq(1L, 1L))
    assert(refused("ways", rawBlob(block(Seq("", "a"), 3, way)))
      .getMessage.contains("way 5 has 1 tag keys and 2 values"))
  }

  test("relation member types must match member ids and be N/W/R") {
    def rel(types: Seq[Long]) = new ProtoWriter().varintField(1, 9L)
      .packedSVarintField(9, Seq(10L, 1L)).packedVarintField(10, types)
    assert(decode("relations", rawBlob(block(Seq(""), 4, rel(Seq(0L, 2L))))) == 1)
    assert(refused("relations", rawBlob(block(Seq(""), 4, rel(Seq(0L)))))
      .getMessage.contains("relation 9 has 1 member types for 2 members"))
    assert(refused("relations", rawBlob(block(Seq(""), 4, rel(Seq(0L, 3L)))))
      .getMessage.contains("member type 3"))
  }

  test("a length that overruns its message fails named, not by reading the next field") {
    // a StringTable that claims 1000 bytes where 3 remain
    val overrun = new ProtoWriter().tag(1, 2).writeVarint(1000L).toByteArray ++ Array[Byte](1, 2, 3)
    assert(refused("nodes", rawBlob(overrun)).getMessage.contains("overruns"))
  }
}
