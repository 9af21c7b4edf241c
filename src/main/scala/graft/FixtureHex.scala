package graft

/** Hex pieces the SQL fixture builders and their DuckDB oracles share.
  * Every container and media fixture assembles its payload as a hex
  * string in SQL and every oracle reads document bytes back from
  * `h = hex(encode(text))`; these are the three spellings they all use,
  * kept in one place so the generated SQL is the same text everywhere.
  */
private[graft] object FixtureHex {

  /** Upper-case hex of an ASCII constant. */
  def hexOf(s: String): String =
    s.getBytes("US-ASCII").map("%02X".format(_)).mkString

  /** DuckDB: byte `off` (a SQL expression, 0-based) of the document hex
    * `h`, as `sqlType`.
    */
  def byte(off: String, sqlType: String = "INT"): String =
    s"CAST('0x' || substring(h, ($off) * 2 + 1, 2) AS $sqlType)"

  /** Spark SQL wrapping `rawHex` (a CONSTANT-length blob of `n` bytes) as
    * one complete gzip member with a stored deflate block: the 10-byte
    * header (OS=03), BFINAL/BTYPE=stored + LEN/~LEN little-endian
    * (constants — the length is fixed), the raw bytes, then the CRC-32 of
    * the raw bytes via Spark's native `crc32` (byte-swapped to the
    * trailer's little-endian order) and the constant ISIZE.
    */
  def gzMemberHex(rawHex: String, n: Int): String = {
    val lenHex = "%02X%02X".format(n & 0xff, n >> 8)
    val nlenHex = "%02X%02X".format(~n & 0xff, (~n >> 8) & 0xff)
    val isizeHex = "%02X%02X%02X%02X".format(
      n & 0xff, (n >> 8) & 0xff, (n >> 16) & 0xff, (n >> 24) & 0xff)
    val crcBe = s"lpad(hex(crc32(unhex($rawHex))), 8, '0')"
    val crcLe = s"concat(substring($crcBe, 7, 2), substring($crcBe, 5, 2), " +
      s"substring($crcBe, 3, 2), substring($crcBe, 1, 2))"
    s"concat('1F8B0800000000000003', '01$lenHex$nlenHex', $rawHex, $crcLe, '$isizeHex')"
  }
}
