package graft

import java.io.ByteArrayOutputStream

import org.apache.commons.compress.archivers.ar.{ArArchiveEntry, ArArchiveOutputStream}
import org.apache.commons.compress.archivers.cpio.{CpioArchiveEntry, CpioArchiveOutputStream}
import org.apache.commons.compress.compressors.xz.XZCompressorOutputStream
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArchiveCodec

/** S3 archive readers: member listing / extraction across tar, ar(.deb),
  * cpio(.rpm) and the gzip/xz/zstd compressors, driven through the
  * registered SQL expressions on non-literal columns (so the codegen path
  * runs, not constant folding).
  */
class ArchiveSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestHarness.spark
    functions.GraftFunctions.ensureRegistered(s)
    s
  }

  private def ar(members: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new ArArchiveOutputStream(bos)
    members.foreach { case (n, b) =>
      out.putArchiveEntry(new ArArchiveEntry(n, b.length.toLong))
      out.write(b)
      out.closeArchiveEntry()
    }
    out.close()
    bos.toByteArray
  }

  private def cpio(members: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new CpioArchiveOutputStream(bos)
    members.foreach { case (n, b) =>
      val e = new CpioArchiveEntry(n)
      e.setSize(b.length.toLong)
      out.putArchiveEntry(e)
      out.write(b)
      out.closeArchiveEntry()
    }
    out.close()
    bos.toByteArray
  }

  private def xz(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new XZCompressorOutputStream(bos)
    out.write(b); out.close()
    bos.toByteArray
  }

  /** Run the expressions over a one-row DataFrame COLUMN (codegen path). */
  private def probe(bytes: Array[Byte]): (String, Seq[(String, Long)]) = {
    import spark.implicits._
    val r = Seq(bytes).toDF("b")
      .selectExpr("archive_format(b) AS fmt", "archive_members(b) AS ms")
      .head()
    val ms = r.getSeq[Row](1).map(m => m.getString(0) -> m.getLong(1))
    (r.getString(0), ms)
  }

  private val abc = "abc".getBytes("UTF-8")
  private val hello = "hello world".getBytes("UTF-8")

  test("tar roundtrip through every codec: format, members, extraction") {
    import spark.implicits._
    for (codec <- Seq("none", "gzip", "xz", "zstd")) {
      val df = Seq(("a.txt", "b/c.txt")).toDF("n1", "n2")
        .selectExpr(
          s"tar_archive(array(n1, n2), array(encode('abc', 'UTF-8'), encode('hello world', 'UTF-8')), '$codec') AS t")
      val r = df.selectExpr(
        "archive_format(t) AS fmt",
        "archive_members(t) AS ms",
        "decode(archive_extract(t, 'b/c.txt'), 'UTF-8') AS x").head()
      val wantFmt = if (codec == "none") "tar" else s"tar+$codec"
      assert(r.getString(0) === wantFmt)
      assert(r.getSeq[Row](1).map(m => m.getString(0) -> m.getLong(1)) ===
        Seq("a.txt" -> 3L, "b/c.txt" -> 11L))
      assert(r.getString(2) === "hello world")
    }
  }

  test("zip roundtrip through both methods: format, members, extraction") {
    import spark.implicits._
    for (method <- Seq("stored", "deflated")) {
      val df = Seq(("a.txt", "b/c.txt")).toDF("n1", "n2")
        .selectExpr(
          s"zip_archive(array(n1, n2), array(encode('abc', 'UTF-8'), encode('hello world', 'UTF-8')), '$method') AS z")
      val r = df.selectExpr(
        "archive_format(z) AS fmt",
        "archive_members(z) AS ms",
        "decode(archive_extract(z, 'b/c.txt'), 'UTF-8') AS x").head()
      assert(r.getString(0) === "zip")
      // member sizes are UNCOMPRESSED sizes regardless of storage method
      assert(r.getSeq[Row](1).map(m => m.getString(0) -> m.getLong(1)) ===
        Seq("a.txt" -> 3L, "b/c.txt" -> 11L))
      assert(r.getString(2) === "hello world")
    }
  }

  test("foreign zip (java.util.zip writer) lists and extracts") {
    // a zip produced by a DIFFERENT writer than our builder — JDK
    // ZipOutputStream writes data descriptors for deflated entries, the
    // layout our stream reader must still walk
    val bos = new ByteArrayOutputStream()
    val out = new java.util.zip.ZipOutputStream(bos)
    out.putNextEntry(new java.util.zip.ZipEntry("x/y.txt"))
    out.write(hello)
    out.closeEntry()
    out.close()
    val bytes = bos.toByteArray
    assert(ArchiveCodec.format(bytes).toString === "zip")
    val body = ArchiveCodec.extract(bytes,
      org.apache.spark.unsafe.types.UTF8String.fromString("x/y.txt"))
    assert(new String(body, "UTF-8") === "hello world")
  }

  test("truncated zip is null, not an exception") {
    import spark.implicits._
    val full = Seq(1).toDF("i").selectExpr(
      "zip_archive(array('a.txt'), array(encode('abcdef', 'UTF-8')), 'deflated') AS z")
      .head().getAs[Array[Byte]](0)
    val trunc = java.util.Arrays.copyOf(full, full.length / 2)
    // truncation cuts the central directory; the stream walk still lists
    // local headers it can reach or returns null — it must never throw
    val r = Seq(trunc).toDF("b")
      .selectExpr("archive_extract(b, 'a.txt') AS x").head()
    assert(r.isNullAt(0) || r.getAs[Array[Byte]](0) != null)
  }

  test("ar archives (deb outer container) list members") {
    val (fmt, ms) = probe(ar("debian-binary" -> "2.0\n".getBytes, "control" -> abc))
    assert(fmt === "ar")
    assert(ms === Seq("debian-binary" -> 4L, "control" -> 3L))
  }

  test("cpio archives (rpm payload) list members, trailer excluded") {
    val (fmt, ms) = probe(cpio("usr/bin/x" -> hello, "etc/x.conf" -> abc))
    assert(fmt === "cpio")
    assert(ms === Seq("usr/bin/x" -> 11L, "etc/x.conf" -> 3L))
  }

  test("compressed ar/cpio detect as fmt+codec") {
    assert(probe(xz(cpio("f" -> abc)))._1 === "cpio+xz")
    val gz = {
      val bos = new ByteArrayOutputStream()
      val o = new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(bos)
      o.write(ar("f" -> abc)); o.close(); bos.toByteArray
    }
    assert(probe(gz)._1 === "ar+gzip")
  }

  test("deb-shaped nested listing composes in SQL: members of data.tar.xz inside ar") {
    import spark.implicits._
    // a .deb is an ar of debian-binary + control.tar.gz + data.tar.xz;
    // the file-list query is archive_members(archive_extract(deb, 'data.tar.xz'))
    val dataTar = ArchiveCodec.tarArchive(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(org.apache.spark.unsafe.types.UTF8String.fromString("usr/share/doc/README"))),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(hello)),
      "xz")
    val deb = ar("debian-binary" -> "2.0\n".getBytes, "data.tar.xz" -> dataTar)
    val r = Seq(deb).toDF("b")
      .selectExpr("archive_members(archive_extract(b, 'data.tar.xz')) AS ms")
      .head()
    assert(r.getSeq[Row](0).map(m => m.getString(0) -> m.getLong(1)) ===
      Seq("usr/share/doc/README" -> 11L))
  }

  test("malformed and non-archive payloads are null, absent member is null") {
    import spark.implicits._
    val junk: Array[Byte] = Array.fill[Byte](600)(42)
    val truncatedGz: Array[Byte] = Array(0x1f.toByte, 0x8b.toByte, 8.toByte)
    val r = Seq((junk, truncatedGz)).toDF("j", "t")
      .selectExpr(
        "archive_format(j) AS f1", "archive_members(j) AS m1",
        "archive_format(t) AS f2", "archive_members(t) AS m2",
        "archive_extract(tar_archive(array('a'), array(encode('x', 'UTF-8')), 'none'), 'missing') AS x")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("tar builder is deterministic: identical inputs, identical bytes") {
    import spark.implicits._
    val r = Seq(("n.txt", "payload")).toDF("n", "c")
      .selectExpr(
        "tar_archive(array(n), array(encode(c, 'UTF-8')), 'gzip') AS a",
        "tar_archive(array(n), array(encode(c, 'UTF-8')), 'gzip') AS b")
      .selectExpr("a = b AS same").head()
    assert(r.getBoolean(0))
  }

  test("a tar member literally named TRAILER!!! lists and extracts (cpio-only artifact)") {
    import spark.implicits._
    val r = Seq("TRAILER!!!").toDF("n")
      .selectExpr("tar_archive(array(n), array(encode('x', 'UTF-8')), 'none') AS t")
      .selectExpr("archive_members(t) AS ms", "decode(archive_extract(t, 'TRAILER!!!'), 'UTF-8') AS x")
      .head()
    assert(r.getSeq[Row](0).map(m => m.getString(0) -> m.getLong(1)) === Seq("TRAILER!!!" -> 1L))
    assert(r.getString(1) === "x")
  }

  test("streaming-written zstd (unknown frame content size) parses via the fallback path") {
    // ZstdCompressorOutputStream writes a frame WITHOUT the content-size
    // header field, so the one-shot fast path must decline and the
    // streaming walk must produce identical results.
    val bos = new ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.zstandard.ZstdCompressorOutputStream(bos)
    z.write(ar("ctrl" -> abc, "data" -> hello)); z.close()
    val (fmt, ms) = probe(bos.toByteArray)
    assert(fmt === "ar+zstd")
    assert(ms === Seq("ctrl" -> 3L, "data" -> 11L))
  }

  test("concatenated gzip members decompress as one stream on both paths") {
    // gzip allows back-to-back members; tar readers must see the joined
    // bytes. Exercises the fast inflate loop's multi-member branch.
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val o = new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(bos)
      o.write(b); o.close(); bos.toByteArray
    }
    val whole = ArchiveCodec.tarArchive(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(org.apache.spark.unsafe.types.UTF8String.fromString("m1"),
          org.apache.spark.unsafe.types.UTF8String.fromString("m2"))),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(abc, hello)),
      "none")
    val cut = whole.length / 2
    val catGz = gz(whole.take(cut)) ++ gz(whole.drop(cut))
    val (fmt, ms) = probe(catGz)
    assert(fmt === "tar+gzip")
    assert(ms === Seq("m1" -> 3L, "m2" -> 11L))
    assert(new String(ArchiveCodec.extract(catGz,
      org.apache.spark.unsafe.types.UTF8String.fromString("m2")), "UTF-8") === "hello world")
  }

  test("payload over the fast-path bound still lists and extracts (streaming fallback)") {
    // decompressed size > FastPathBytes but < MaxMemberBytes: correctness
    // must be identical, just via the streaming walk.
    val n = ArchiveCodec.FastPathBytes + (1 << 20)
    val body = new Array[Byte](n)
    java.util.Arrays.fill(body, 'x'.toByte)
    val t = ArchiveCodec.tarArchive(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(org.apache.spark.unsafe.types.UTF8String.fromString("big.bin"))),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(body)),
      "gzip")
    val listed = ArchiveCodec.members(t)
    assert(listed != null && listed.numElements() === 1)
    assert(listed.getStruct(0, 2).getLong(1) === n.toLong)
    val got = ArchiveCodec.extract(t, org.apache.spark.unsafe.types.UTF8String.fromString("big.bin"))
    assert(got != null && got.length === n && got(n - 1) === 'x'.toByte)
  }

  test("decompression bomb: listing streams (no materialization), oversized extract is null") {
    // ~300 MB of zeros gzips to ~300 KB: listing must stay fast and
    // bounded (header-only walk), extraction must refuse past the
    // MaxMemberBytes cap and degrade to SQL null instead of an OOM.
    val big = 300L * 1024 * 1024
    assert(big > ArchiveCodec.MaxMemberBytes)
    val bos = new ByteArrayOutputStream()
    val gz = new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(bos)
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(gz)
    val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry("bomb.bin")
    e.setSize(big)
    tar.putArchiveEntry(e)
    val zeros = new Array[Byte](1 << 20)
    var written = 0L
    while (written < big) { tar.write(zeros); written += zeros.length }
    tar.closeArchiveEntry(); tar.close()
    val bomb = bos.toByteArray
    assert(bomb.length < 2 * 1024 * 1024, s"fixture bomb unexpectedly big: ${bomb.length}")

    val listed = ArchiveCodec.members(bomb)
    assert(listed != null && listed.numElements() === 1)
    assert(listed.getStruct(0, 2).getLong(1) === big)
    assert(ArchiveCodec.extract(bomb,
      org.apache.spark.unsafe.types.UTF8String.fromString("bomb.bin")) === null)
  }

  test("archive_inspect equals the three separate calls in one walk") {
    import spark.implicits._
    val r = Seq(("a.txt", "b.txt")).toDF("n1", "n2")
      .selectExpr(
        "tar_archive(array(n1, n2), array(encode('abc', 'UTF-8'), encode('hello world', 'UTF-8')), 'zstd') AS t")
      .selectExpr(
        "archive_inspect(t, 'b.txt') AS i",
        "archive_format(t) AS fmt", "archive_members(t) AS ms", "archive_extract(t, 'b.txt') AS x")
      .head()
    val i = r.getStruct(0)
    assert(i.getString(0) === r.getString(1))
    assert(i.getSeq[Row](1) === r.getSeq[Row](2))
    assert(java.util.Arrays.equals(i.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
    // absent member: struct present, body null
    val j = Seq(1).toDF("d")
      .selectExpr("archive_inspect(tar_archive(array('a'), array(encode('x', 'UTF-8')), 'none'), 'nope') AS i")
      .head().getStruct(0)
    assert(j.getString(0) === "tar" && j.isNullAt(2))
  }

  test("q82 smoke: every fixture archive parses, every roundtrip matches") {
    val rows = SparkEntry.queries("q82_archive_roundtrip")(spark, SparkTestHarness.Sf0001)
      .collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("tar", "tar+gzip", "tar+zstd"))
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n > 0)
      assert(r.getLong(2) === 2 * n) // two members per archive
      assert(r.getAs[Long]("n_named") === n)
      assert(r.getAs[Long]("n_roundtrip") === n)
    }
  }

  test("q91 smoke: every desc stanza survives pack->extract->parse on both arches") {
    val rows = SparkEntry.queries("q91_arch_db_roundtrip")(spark, SparkTestHarness.Sf0001)
      .collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("aarch64", "x86_64"))
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n > 0)
      assert(r.getAs[Long]("n_path_ok") === n)
      assert(r.getAs[Long]("n_name_ok") === n)
      assert(r.getAs[Long]("n_version_ok") === n)
      assert(r.getAs[Long]("size_sum") > 0)
    }
  }
}
