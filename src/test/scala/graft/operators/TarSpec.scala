package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The tar record walk against an independently-written builder (POSIX
  * NUL-terminated octal, real checksums), the gzip composition, and the
  * reject matrix.
  */
class TarSpec extends AnyFunSuite {

  /** Independent ustar builder — NUL-terminated octal fields (the OTHER
    * legal terminator, so the parser's tolerance is exercised), POSIX
    * magic with a real NUL, directory support.
    */
  private def ustar(entries: Seq[(String, Array[Byte], Char)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    for ((name, data, typ) <- entries) {
      val hdr = new Array[Byte](512)
      def put(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("US-ASCII"), 0, hdr, off, s.length)
      put(0, name)
      put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
      put(124, "%011o".format(data.length)) // NUL-terminated via the zero array
      put(136, "%011o".format(0))
      put(156, typ.toString)
      put(257, "ustar"); put(263, "00")
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      val sum = hdr.map(_ & 0xff).sum
      put(148, "%06o".format(sum)); hdr(154) = 0; hdr(155) = ' '
      bos.write(hdr)
      bos.write(data)
      val pad = (512 - data.length % 512) % 512
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }

  private val a = "first file payload".getBytes("UTF-8")
  private val b = Array.tabulate(600)(i => (i * 7 + 3).toByte) // crosses a block boundary

  test("entries: names, sizes, data offsets, block padding, checksum verify") {
    val tar = ustar(Seq(("a.txt", a, '0'), ("dir/", Array.empty[Byte], '5'), ("b.bin", b, '0')))
    val es = Tar.entries(tar)
    assert(es.map(_._1) == IndexedSeq("a.txt", "b.bin")) // directory skipped
    assert(es(0)._2.toSeq == a.toSeq && es(1)._2.toSeq == b.toSeq)
  }

  test("read composes with gunzip: a .tgz parses identically") {
    val tar = ustar(Seq(("a.txt", a, '0')))
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(tar); g.close()
    assert(Tar.read(bos.toByteArray).map(_._1) == IndexedSeq("a.txt"))
    assert(Tar.read(tar).map(_._1) == IndexedSeq("a.txt")) // plain passthrough
  }

  test("read composes with zstd_inflate: a .tar.zst parses identically") {
    val tar = ustar(Seq(("a.txt", a, '0')))
    val zst = com.github.luben.zstd.Zstd.compress(tar, 3)
    assert(Tar.read(zst).map(_._1) == IndexedSeq("a.txt"))
    assert(Tar.read(zst)(0)._2.toSeq == a.toSeq)
  }

  test("read composes with lz4_inflate: a .tar.lz4 parses identically, both walks") {
    val tar = ustar(Seq(("a.txt", a, '0')))
    val lz4 = graft.functions.Lz4Deflate.deflate(tar)
    assert(Tar.read(lz4).map(_._1) == IndexedSeq("a.txt"))
    assert(Tar.read(lz4)(0)._2.toSeq == a.toSeq)
    val streamed = Tar.readStream(new java.io.ByteArrayInputStream(lz4))
      .map { case (n, d) => n -> d.toSeq }.toSeq
    assert(streamed == Tar.entries(tar).map { case (n, d) => n -> d.toSeq })
  }

  test("rejects: flipped checksum, truncated data, missing zero-block tail, bad octal") {
    val tar = ustar(Seq(("a.txt", a, '0')))
    val badChk = tar.clone(); badChk(0) = 'z' // name change breaks the checksum
    val e = intercept[IllegalArgumentException](Tar.entries(badChk))
    assert(e.getMessage.contains("checksum"))
    intercept[IllegalArgumentException](Tar.entries(tar.dropRight(520))) // truncated tail
    intercept[IllegalArgumentException](Tar.entries(tar.take(512 + 512))) // data, no tail
    val badOct = tar.clone(); badOct(125) = '9'
    intercept[IllegalArgumentException](Tar.entries(badOct))
  }

  test("streaming walk equals the in-memory walk on all three physical shapes") {
    val tar = ustar(Seq(("a.txt", a, '0'), ("dir/", Array.empty[Byte], '5'), ("b.bin", b, '0')))
    def stream(bytes: Array[Byte]) =
      Tar.readStream(new java.io.ByteArrayInputStream(bytes))
        .map { case (n, d) => n -> d.toSeq }.toSeq
    val want = Tar.entries(tar).map { case (n, d) => n -> d.toSeq }
    assert(stream(tar) == want)
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(tar); g.close()
    assert(stream(bos.toByteArray) == want)
    assert(stream(com.github.luben.zstd.Zstd.compress(tar, 3)) == want)
    // truncation mid-payload rejects loudly, never yields a short member
    val cut = tar.take(512 + 10)
    val e = intercept[IllegalArgumentException](stream(cut))
    assert(e.getMessage.contains("truncated"))
    // a missing zero-block tail rejects too
    intercept[IllegalArgumentException](stream(tar.dropRight(600)))
  }

  test("streaming-walk property: random entry mixes agree with the in-memory walk on all shapes") {
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 25) {
      val entries = (0 until (1 + rnd.nextInt(6))).map { i =>
        val typ = rnd.nextInt(4) match {
          case 0 => '5' // directory
          case 1 => '2' // symlink-ish special, skipped by typeflag
          case _ => '0'
        }
        val n = if (typ == '5') 0 else rnd.nextInt(1400) // crosses block bounds
        (s"e${trial}_$i${if (typ == '5') "/" else ""}", Array.fill(n)(rnd.nextInt(256).toByte), typ)
      }
      val tar = ustar(entries)
      val want = Tar.entries(tar).map { case (n, d) => n -> d.toSeq }
      def stream(bytes: Array[Byte]) =
        Tar.readStream(new java.io.ByteArrayInputStream(bytes))
          .map { case (n, d) => n -> d.toSeq }.toSeq
      assert(stream(tar) == want, s"plain stream diverged on trial $trial")
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(tar); g.close()
      assert(stream(bos.toByteArray) == want, s"gzip stream diverged on trial $trial")
      assert(stream(com.github.luben.zstd.Zstd.compress(tar, 1)) == want,
        s"zstd stream diverged on trial $trial")
    }
  }

  test("docsFromPaths: the streaming front door matches docsFromFiles row for row") {
    val spark = graft.SparkSpec.session
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_tar_paths")
    val tar = ustar(Seq(("one.txt", "erstes dokument".getBytes("UTF-8"), '0'),
      ("skip.bin", b, '0'), ("two.txt", "zweites dokument 😀".getBytes("UTF-8"), '0')))
    Files.write(Paths.get(dir.toString, "5.tar"), tar)
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(ustar(Seq(("three.txt", "a gzipped tar member".getBytes("UTF-8"), '0')))); g.close()
    Files.write(Paths.get(dir.toString, "6.tar.gz"), bos.toByteArray)
    Files.write(Paths.get(dir.toString, "7.tar.zst"),
      com.github.luben.zstd.Zstd.compress(
        ustar(Seq(("four.txt", "a zstd tar member".getBytes("UTF-8"), '0'))), 3))
    Files.write(Paths.get(dir.toString, "_SUCCESS"), Array.emptyByteArray)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val byPath = rows(Tar.docsFromPaths(spark, dir.toString))
    val byBytes = rows(Tar.docsFromFiles(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar*").load(dir.toString)))
    assert(byPath == byBytes && byPath.size == 4)
  }

  test("docsFromFiles: .txt entries become documents; doc_id = fileId<<24 | index") {
    val spark = graft.SparkSpec.session
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_tar_bucket")
    val t3 = ustar(Seq(("readme.md", "nope".getBytes, '0'),
      ("one.txt", "erstes dokument".getBytes, '0'),
      ("two.txt", "zweites dokument 😀".getBytes("UTF-8"), '0')))
    Files.write(Paths.get(dir.toString, "3.tar"), t3)
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(ustar(Seq(("x.txt", "via tgz".getBytes, '0')))); g.close()
    Files.write(Paths.get(dir.toString, "4.tar.gz"), bos.toByteArray)
    Files.write(Paths.get(dir.toString, "5.tar.zst"), com.github.luben.zstd.Zstd
      .compress(ustar(Seq(("y.txt", "via zst".getBytes, '0'))), 3))
    val docs = Tar.docsFromFiles(spark.read.format("binaryFile").load(dir.toString))
      .orderBy("doc_id").collect()
    assert(docs.map(r => (r.getLong(0), r.getString(3))).toSeq == Seq(
      ((3L << 24) | 1, "one.txt"), ((3L << 24) | 2, "two.txt"), (4L << 24, "x.txt"),
      (5L << 24, "y.txt")))
    // n_chars counts codepoints: the emoji is ONE char, not a surrogate pair
    assert(docs(1).getLong(4) == "zweites dokument ".length + 1)
  }

  test("a .tar.lz4 drop ingests identically through docsFromFiles and docsFromPaths") {
    val spark = graft.SparkSpec.session
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_tar_lz4")
    Files.write(Paths.get(dir.toString, "9.tar.lz4"), graft.functions.Lz4Deflate.deflate(
      ustar(Seq(("skip.bin", b, '0'), ("lz.txt", "an lz4 tar member".getBytes("UTF-8"), '0')))))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val byPath = rows(Tar.docsFromPaths(spark, dir.toString))
    val byBytes = rows(Tar.docsFromFiles(spark.read.format("binaryFile").load(dir.toString)))
    assert(byPath == Set(Seq((9L << 24) | 1, "an lz4 tar member", "und", "lz.txt", 17L)))
    assert(byBytes == byPath)
  }
}
