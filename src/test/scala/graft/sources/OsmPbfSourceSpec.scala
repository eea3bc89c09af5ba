package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.osmpbf.{OsmPbfEncoder, PbfFormatException, ProtoWriter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._

/** S1 (PBF) — fixture file hand-encoded with [[ProtoWriter]] per the
  * public wire spec, carrying the SAME entities as sample.osm; the test
  * asserts the two sources agree.
  */
class OsmPbfSourceSpec extends SparkSpec {

  private lazy val pbfPath: String = {
    val path = Files.createTempDirectory("pbf").toString + "/sample.osm.pbf"
    writeFixture(path)
    path
  }

  private def epoch(s: String): Long = java.time.Instant.parse(s).getEpochSecond

  private def writeFixture(path: String): Unit = {
    val strings = Seq("", "amenity", "cafe", "name", "Espresso Lab", "highway",
      "bus_stop", "building", "yes", "restaurant", "Corner Bistro",
      "type", "multipolygon", "outer", "alice", "bob", "carol")
    def si(s: String): Long = strings.indexOf(s).toLong

    val st = new ProtoWriter
    strings.foreach(s => st.stringField(1, s))

    val t1 = epoch("2024-03-04T05:06:07Z")
    val t2 = epoch("2024-03-04T06:00:00Z")
    val t3 = epoch("2024-03-04T06:01:00Z")
    val di = new ProtoWriter
    di.packedVarintField(1, Seq(2L, 1L, 1L))
    di.packedSVarintField(2, Seq(t1, t2 - t1, t3 - t2))
    di.packedSVarintField(3, Seq(900L, 1L, 0L))
    di.packedSVarintField(4, Seq(7L, 1L, 0L))
    di.packedSVarintField(5, Seq(si("alice"), si("bob") - si("alice"), 0L)) // user_sid (delta)

    val dn = new ProtoWriter
    dn.packedSVarintField(1, Seq(101L, 1L, 1L))
    dn.bytesField(5, di.toByteArray)
    dn.packedSVarintField(8, Seq(525200000L, -200000L, 100000L)) // lat/100nano
    dn.packedSVarintField(9, Seq(134050000L, -50000L, 100000L))
    dn.packedVarintField(10, Seq(si("amenity"), si("cafe"), si("name"),
      si("Espresso Lab"), 0L, 0L, si("highway"), si("bus_stop"), 0L))
    val g1 = new ProtoWriter
    g1.bytesField(2, dn.toByteArray)

    val info = new ProtoWriter
    info.varintField(1, 3L)
    info.varintField(2, epoch("2024-03-05T00:00:00Z"))
    info.varintField(3, 902L)
    info.varintField(4, 9L)
    info.varintField(5, si("carol"))
    val way = new ProtoWriter
    way.varintField(1, 201L)
    way.packedVarintField(2, Seq(si("building"), si("amenity"), si("name")))
    way.packedVarintField(3, Seq(si("yes"), si("restaurant"), si("Corner Bistro")))
    way.bytesField(4, info.toByteArray)
    way.packedSVarintField(8, Seq(101L, 1L, 1L, -2L))
    val g2 = new ProtoWriter
    g2.bytesField(3, way.toByteArray)

    val relInfo = new ProtoWriter
    relInfo.varintField(1, 1L)
    relInfo.varintField(2, epoch("2024-03-05T00:00:00Z"))
    relInfo.varintField(3, 903L)
    relInfo.varintField(4, 9L)
    relInfo.varintField(5, si("carol"))
    val rel = new ProtoWriter
    rel.varintField(1, 301L)
    rel.packedVarintField(2, Seq(si("type")))
    rel.packedVarintField(3, Seq(si("multipolygon")))
    rel.bytesField(4, relInfo.toByteArray)
    rel.packedVarintField(8, Seq(si("outer"))) // roles_sid
    rel.packedSVarintField(9, Seq(201L)) // memids (delta)
    rel.packedVarintField(10, Seq(1L)) // types: WAY
    val g3 = new ProtoWriter
    g3.bytesField(4, rel.toByteArray)

    val pb = new ProtoWriter
    pb.bytesField(1, st.toByteArray)
    pb.bytesField(2, g1.toByteArray)
    pb.bytesField(2, g2.toByteArray)
    pb.bytesField(2, g3.toByteArray)
    val raw = pb.toByteArray

    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val cbuf = new Array[Byte](raw.length * 2 + 64)
    val clen = deflater.deflate(cbuf)
    deflater.end()

    val blob = new ProtoWriter
    blob.varintField(2, raw.length.toLong)
    blob.bytesField(3, cbuf.take(clen))
    val blobBytes = blob.toByteArray
    val bh = new ProtoWriter
    bh.stringField(1, "OSMData")
    bh.varintField(3, blobBytes.length.toLong)
    val bhBytes = bh.toByteArray

    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(path))
    out.writeInt(bhBytes.length)
    out.write(bhBytes)
    out.write(blobBytes)
    out.close()
  }

  private def xmlPath = getClass.getResource("/sample.osm").getPath

  test("PBF nodes agree with the XML source on the same entities") {
    val pbf = spark.read.format("osm-pbf").option("kind", "nodes").load(pbfPath)
      .orderBy("id").collect()
    val xml = spark.read.format("osm-xml").option("kind", "nodes").load(xmlPath)
      .orderBy("id").collect()
    assert(pbf.length == xml.length)
    pbf.zip(xml).foreach { case (p, x) =>
      assert(p.getLong(0) == x.getLong(0))
      assert(p.getAs[Map[String, String]]("tags") == x.getAs[Map[String, String]]("tags"))
      assert(p.getAs[java.sql.Timestamp]("tstamp") == x.getAs[java.sql.Timestamp]("tstamp"))
      assert(p.getAs[Int]("version") == x.getAs[Int]("version"))
      assert(p.getAs[Long]("changeset_id") == x.getAs[Long]("changeset_id"))
      assert(math.abs(p.getAs[Double]("lon") - x.getAs[Double]("lon")) < 1e-9)
      assert(math.abs(p.getAs[Double]("lat") - x.getAs[Double]("lat")) < 1e-9)
      assert(p.getAs[String]("user_name") == x.getAs[String]("user_name"))
      assert(p.getAs[Boolean]("visible") && x.getAs[Boolean]("visible"))
    }
  }

  test("PBF ways agree with the XML source") {
    val pbf = spark.read.format("osm-pbf").option("kind", "ways").load(pbfPath).collect()
    val xml = spark.read.format("osm-xml").option("kind", "ways").load(xmlPath).collect()
    assert(pbf.length == 1 && xml.length == 1)
    val (p, x) = (pbf(0), xml(0))
    assert(p.getLong(0) == x.getLong(0))
    assert(p.getSeq[Long](p.fieldIndex("nodes")).toList ==
      x.getSeq[Long](x.fieldIndex("nodes")).toList)
    assert(p.getAs[Map[String, String]]("tags") == x.getAs[Map[String, String]]("tags"))
    assert(p.getAs[java.sql.Timestamp]("tstamp") == x.getAs[java.sql.Timestamp]("tstamp"))
    assert(p.getAs[String]("user_name") == "carol")
    assert(p.getAs[String]("user_name") == x.getAs[String]("user_name"))
  }

  test("PBF relations agree with the XML source") {
    val pbf = spark.read.format("osm-pbf").option("kind", "relations").load(pbfPath).collect()
    val xml = spark.read.format("osm-xml").option("kind", "relations").load(xmlPath).collect()
    assert(pbf.length == 1 && xml.length == 1)
    val (p, x) = (pbf(0), xml(0))
    assert(p.getLong(0) == 301L && x.getLong(0) == 301L)
    assert(p.getAs[Map[String, String]]("tags") ==
      Map("type" -> "multipolygon"))
    assert(p.getAs[Map[String, String]]("tags") == x.getAs[Map[String, String]]("tags"))
    def members(r: org.apache.spark.sql.Row): Seq[(String, Long, String)] =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("members"))
        .map(m => (m.getString(0), m.getLong(1), m.getString(2)))
    assert(members(p) == Seq(("W", 201L, "outer")))
    assert(members(p) == members(x))
    assert(p.getAs[java.sql.Timestamp]("tstamp") == x.getAs[java.sql.Timestamp]("tstamp"))
  }

  test("unpacked (wiretype-0) repeated fields decode like packed ones") {
    // same way as the main fixture but with refs/keys/vals written one
    // tag per value — spec-legal, and previously silently dropped
    val strings = Seq("", "building", "yes")
    def si(s: String): Long = strings.indexOf(s).toLong
    val st = new ProtoWriter
    strings.foreach(s => st.stringField(1, s))
    val way = new ProtoWriter
    way.varintField(1, 77L)
    way.varintField(2, si("building"))
    way.varintField(3, si("yes"))
    way.tag(8, 0).writeSVarint(101L)
    way.tag(8, 0).writeSVarint(1L)
    way.tag(8, 0).writeSVarint(-2L)
    val g = new ProtoWriter
    g.bytesField(3, way.toByteArray)
    val pb = new ProtoWriter
    pb.bytesField(1, st.toByteArray)
    pb.bytesField(2, g.toByteArray)
    val raw = pb.toByteArray
    val blob = new ProtoWriter
    blob.bytesField(1, raw) // uncompressed variant (no raw_size)
    val blobBytes = blob.toByteArray
    val bh = new ProtoWriter
    bh.stringField(1, "OSMData")
    bh.varintField(3, blobBytes.length.toLong)
    val bhBytes = bh.toByteArray
    val path = Files.createTempDirectory("pbf-unpacked").toString + "/u.osm.pbf"
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(path))
    out.writeInt(bhBytes.length); out.write(bhBytes); out.write(blobBytes); out.close()

    val rows = spark.read.format("osm-pbf").option("kind", "ways").load(path).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 77L)
    assert(rows(0).getSeq[Long](rows(0).fieldIndex("nodes")).toList ==
      List(101L, 102L, 100L))
    assert(rows(0).getAs[Map[String, String]]("tags") == Map("building" -> "yes"))
  }

  /** The node at `id`: one tag, fixed metadata, a position from the id. */
  private def node(id: Long): Row =
    Row(id, 1, 7, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-04T05:06:07Z")),
      900L, Map("amenity" -> s"a$id"), (id % 360) - 180.0 + 0.5, (id % 170) - 85.0 + 0.25,
      "alice", true)

  private lazy val toInternal = CatalystTypeConverters.createToCatalystConverter(
    graft.sources.osmxml.OsmXmlSource.schemaFor("nodes"))

  /** A written blob: where its frame starts, where its Blob message
    * starts (the offset errors name) and where it ends.
    */
  private case class Blob(frame: Long, offset: Long, end: Long) {
    def frameLen: Long = end - frame
  }

  /** An OSMHeader frame, then one OSMData blob per entry of `sizes`
    * holding that many nodes with consecutive ids from 1.
    */
  private def writeBlobs(path: String, sizes: Seq[Int]): Seq[Blob] = {
    val out = new java.io.FileOutputStream(path)
    try {
      var pos = 0L
      var id = 1L
      def put(frame: Array[Byte]): Long = {
        out.write(frame); val at = pos; pos += frame.length; at
      }
      put(OsmPbfEncoder.headerFrame("nodes"))
      sizes.map { n =>
        val frame = OsmPbfEncoder.encodeBlock("nodes",
          (id until id + n).map(i => toInternal(node(i)).asInstanceOf[InternalRow]))
        id += n
        val at = put(frame)
        Blob(at, at + 4 + java.nio.ByteBuffer.wrap(frame).getInt, pos)
      }
    } finally out.close()
  }

  /** 200 blobs of 5 nodes each (ids 1..1000). */
  private lazy val (manyPath, manyBlobs) = {
    val path = Files.createTempDirectory("pbf-many").toString + "/many.osm.pbf"
    (path, writeBlobs(path, Seq.fill(200)(5)))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def nodes(path: String) = spark.read.format("osm-pbf").option("kind", "nodes").load(path)

  /** Rows per input partition, in partition order. */
  private def partitionSizes(path: String): Seq[Int] =
    nodes(path).rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  private val MaxBytes = "spark.sql.files.maxPartitionBytes"
  private val OpenCost = "spark.sql.files.openCostInBytes"

  test("blob runs partition the file by Spark's split rule (exact counts)") {
    assert(nodes(pbfPath).rdd.getNumPartitions == 1) // fixture has one OSMData blob
    assert(nodes(pbfPath).count() == 3)
    val blob = manyBlobs.map(_.frameLen).max
    // defaults: the 4 MB open cost sets a split far above the ~30 KB file
    assert(partitionSizes(manyPath) == Seq(1000))
    // a 1-byte split: every blob is larger, so each stands alone
    assert(withConf(MaxBytes -> "1", OpenCost -> "0")(partitionSizes(manyPath)) ==
      Seq.fill(200)(5))
    // a one-blob split with no open cost is the one-partition-per-blob layout
    val perBlob = withConf(MaxBytes -> blob.toString, OpenCost -> "0") {
      nodes(manyPath).rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    }
    assert(perBlob.toSeq == (1L to 1000L).grouped(5).map(_.toSeq).toSeq)
    // a partition cap re-packs the one-blob runs: all 200 share one file stream
    assert(withConf(MaxBytes -> blob.toString, OpenCost -> "0",
      "spark.sql.files.maxPartitionNum" -> "1")(partitionSizes(manyPath)) == Seq(1000))
    // ten blobs' worth: runs of exactly ten whole blobs
    assert(withConf(MaxBytes -> (10 * blob).toString, OpenCost -> "0")(
      partitionSizes(manyPath)) == Seq.fill(20)(50))
  }

  test("split reads return the one-blob-per-partition rows, each entity once") {
    val blob = manyBlobs.map(_.frameLen).max
    def rows(kv: (String, String)*) =
      withConf(kv: _*)(nodes(manyPath).collect().sortBy(_.getLong(0)).toSeq)
    val perBlob = rows(MaxBytes -> blob.toString, OpenCost -> "0")
    assert(perBlob.map(_.getLong(0)) == (1L to 1000L))
    assert(perBlob.map(_.getAs[Map[String, String]]("tags")) ==
      (1L to 1000L).map(i => Map("amenity" -> s"a$i")))
    assert(rows() == perBlob)
    assert(rows(MaxBytes -> (7 * blob).toString, OpenCost -> "0") == perBlob)
    assert(rows(MaxBytes -> (10 * blob).toString, OpenCost -> blob.toString) == perBlob)
  }

  test("a blob larger than the split size is a partition by itself") {
    val path = Files.createTempDirectory("pbf-big").toString + "/big.osm.pbf"
    val blobs = writeBlobs(path, Seq(5, 5, 5, 2000, 5, 5, 5))
    val small = blobs.patch(3, Nil, 1).map(_.frameLen).max
    assert(blobs(3).frameLen > 3 * small)
    val sizes = withConf(MaxBytes -> (3 * small).toString, OpenCost -> "0")(partitionSizes(path))
    assert(sizes.sorted == Seq(15, 15, 2000))
  }

  test("a directory of writer part files packs into fewer partitions than files") {
    val dir = Files.createTempDirectory("pbf-parts").toString + "/out"
    spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 30L).map(node), 1),
      graft.sources.osmxml.OsmXmlSource.schemaFor("nodes"))
      .repartition(3)
      .write.format("osm-pbf").option("kind", "nodes").mode("append").save(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".osm.pbf")) == 3)
    // defaults: each file costs the 4 MB open cost against a 4 MB split
    assert(nodes(dir).rdd.getNumPartitions == 3)
    // one partition's worth of parallelism wanted: the split covers all three
    val packed = withConf("spark.sql.files.minPartitionNum" -> "1") {
      val df = nodes(dir)
      (df.rdd.getNumPartitions, df.collect().map(_.getLong(0)).sorted.toSeq)
    }
    assert(packed == (1, 1L to 30L))
  }

  test("a corrupt blob inside a multi-blob run fails named at that blob's path:offset") {
    // the second directory's name holds characters URIs quote: the file
    // must still be found, and named by its decoded Hadoop path
    Seq("plain", "a b%20c").foreach { name =>
      val dir = Files.createTempDirectory("pbf-corrupt").toString + s"/$name"
      new java.io.File(dir).mkdirs()
      val path = s"$dir/bad.osm.pbf"
      val blobs = writeBlobs(path, Seq.fill(20)(5))
      assert(nodes(dir).collect().map(_.getLong(0)).sorted.toSeq == (1L to 100L))
      val bad = blobs(12)
      // zero the Blob message (field number 0): the frame header stays valid
      val raf = new java.io.RandomAccessFile(path, "rw")
      try { raf.seek(bad.offset); raf.write(new Array[Byte]((bad.end - bad.offset).toInt)) }
      finally raf.close()
      assert(nodes(path).rdd.getNumPartitions == 1) // all 20 blobs in one run
      val e = intercept[org.apache.spark.SparkException](nodes(path).collect())
      def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
      val named = chain(e).collectFirst { case p: PbfFormatException => p.getMessage }
      assert(named.exists(_.contains(s"file:$path:${bad.offset}: ")), chain(e).map(_.getMessage))
      assert(!named.exists(_.contains(s"$path:${blobs.head.offset}: ")))
    }
  }
}
