package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.hexOf

/** PDF text extraction — the other dominant text-bearing LLM-corpus
  * landing format next to HTML/WARC/JSONL. A pure-JVM walk of the
  * public ISO 32000-1 grammar: header check, classic `xref` table
  * (+`/Prev` incremental-update chain), PDF 1.5 cross-reference
  * STREAMS (§7.5.8: `/W`/`/Index` binary rows, `/DecodeParms` PNG
  * predictors) and object streams (§7.5.7 ObjStm — the compressed
  * layout virtually every post-2005 producer emits), hybrid-reference
  * files (`/XRefStm` in a classic trailer), trailer, page-tree walk in
  * `/Kids` order, per-page `/Contents` streams (raw or `/FlateDecode`
  * via `java.util.zip.Inflater` — the in-tree raw/zlib sniff proven in
  * [[Zip]]), and the text-showing content operators
  * (`Tj`/`'`/`"`/`TJ`, line advances `Td`/`TD`/`T*`/`Tm`). Reference
  * twin: the S2 opaque-files-in/rows-out scan
  * (`q3_json_processing.py:25-29`) — the landing format changes, the
  * contract does not.
  *
  * Loud-reject discipline (the [[graft.pipeline.Exif]] style): anything
  * outside the supported profile throws with a named reason — encrypted
  * documents, filters beyond FlateDecode/LZWDecode, TIFF (`Predictor 2`)
  * prediction, inline images (`BI` — binary payload breaks the token
  * grammar), malformed strings/offsets/checked keywords — never a
  * silent empty result.
  */
object Pdf extends QueryModule with Container[String] {

  // ---------------------------------------------------------------
  // Object model
  // ---------------------------------------------------------------

  sealed trait PVal
  final case class PNum(v: Double) extends PVal {
    def int: Long = {
      require(v == math.rint(v), s"pdf: expected integer, got $v")
      v.toLong
    }
  }
  final case class PName(v: String) extends PVal
  final case class PStr(bytes: Array[Byte]) extends PVal
  final case class PArr(items: Vector[PVal]) extends PVal
  final case class PDict(m: Map[String, PVal]) extends PVal
  final case class PRef(num: Long, gen: Int) extends PVal
  final case class PBool(b: Boolean) extends PVal
  case object PNull extends PVal
  /** A bare keyword/operator token (content streams only). */
  final case class POp(op: String) extends PVal

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"pdf: $msg")

  private def isWs(b: Byte): Boolean =
    b == 0 || b == 9 || b == 10 || b == 12 || b == 13 || b == 32
  private def isDelim(b: Byte): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

  /** Token/value reader over a byte region — shared by the document
    * grammar and the content-stream grammar (`ops = true` additionally
    * yields bare operator tokens instead of rejecting unknown keywords).
    */
  private final class Lexer(val bytes: Array[Byte], var pos: Int, ops: Boolean) {

    def atEnd: Boolean = { skipWs(); pos >= bytes.length }

    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (pos < bytes.length && isWs(bytes(pos))) pos += 1
        if (pos < bytes.length && bytes(pos) == '%') {
          while (pos < bytes.length && bytes(pos) != '\n' && bytes(pos) != '\r') pos += 1
        } else go = false
      }
    }

    private def bareToken(): String = {
      val start = pos
      while (pos < bytes.length && !isWs(bytes(pos)) && !isDelim(bytes(pos))) pos += 1
      require(pos > start, s"pdf: empty token at byte $start")
      new String(bytes, start, pos - start, "US-ASCII")
    }

    /** Does the (already ws-skipped) position start this exact keyword? */
    def peekKeyword(kw: String): Boolean = {
      skipWs()
      if (pos + kw.length > bytes.length) return false
      var i = 0
      while (i < kw.length) {
        if (bytes(pos + i) != kw.charAt(i)) return false
        i += 1
      }
      val after = pos + kw.length
      after >= bytes.length || isWs(bytes(after)) || isDelim(bytes(after))
    }

    def expectKeyword(kw: String): Unit = {
      if (!peekKeyword(kw)) fail(s"expected '$kw' at byte $pos")
      pos += kw.length
    }

    private def name(): PName = {
      pos += 1 // '/'
      val sb = new StringBuilder
      while (pos < bytes.length && !isWs(bytes(pos)) && !isDelim(bytes(pos))) {
        if (bytes(pos) == '#') {
          require(pos + 2 < bytes.length, "pdf: truncated #xx name escape")
          sb.append(Integer.parseInt(
            new String(bytes, pos + 1, 2, "US-ASCII"), 16).toChar)
          pos += 3
        } else { sb.append(bytes(pos).toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def literalString(): PStr = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        require(pos < bytes.length, "pdf: unterminated literal string")
        val b = bytes(pos)
        if (b == '\\') {
          require(pos + 1 < bytes.length, "pdf: dangling backslash in string")
          pos += 1
          bytes(pos) match {
            case 'n' => out.write('\n'); pos += 1
            case 'r' => out.write('\r'); pos += 1
            case 't' => out.write('\t'); pos += 1
            case 'b' => out.write('\b'); pos += 1
            case 'f' => out.write('\f'); pos += 1
            case '(' => out.write('('); pos += 1
            case ')' => out.write(')'); pos += 1
            case '\\' => out.write('\\'); pos += 1
            case '\r' => // line continuation: \CR or \CRLF vanish
              pos += 1
              if (pos < bytes.length && bytes(pos) == '\n') pos += 1
            case '\n' => pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0
              var k = 0
              while (k < 3 && pos < bytes.length &&
                bytes(pos) >= '0' && bytes(pos) <= '7') {
                v = v * 8 + (bytes(pos) - '0'); pos += 1; k += 1
              }
              out.write(v & 0xff)
            case other => out.write(other); pos += 1 // spec: backslash ignored
          }
        } else if (b == '(') { depth += 1; out.write(b); pos += 1 }
        else if (b == ')') {
          depth -= 1
          if (depth > 0) out.write(b)
          pos += 1
        } else if (b == '\r') {
          // spec: any EOL inside a string reads as LF
          out.write('\n'); pos += 1
          if (pos < bytes.length && bytes(pos) == '\n') pos += 1
        } else { out.write(b); pos += 1 }
      }
      PStr(out.toByteArray)
    }

    private def hexString(): PStr = {
      pos += 1 // '<'
      val sb = new StringBuilder
      while (pos < bytes.length && bytes(pos) != '>') {
        val b = bytes(pos)
        if (!isWs(b)) {
          val c = b.toChar
          require(
            (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'),
            s"pdf: non-hex char '$c' in hex string")
          sb.append(c)
        }
        pos += 1
      }
      require(pos < bytes.length, "pdf: unterminated hex string")
      pos += 1 // '>'
      if (sb.length % 2 == 1) sb.append('0')
      val out = new Array[Byte](sb.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = Integer.parseInt(sb.substring(2 * i, 2 * i + 2), 16).toByte
        i += 1
      }
      PStr(out)
    }

    private def number(): PNum = {
      val start = pos
      if (bytes(pos) == '+' || bytes(pos) == '-') pos += 1
      while (pos < bytes.length &&
        ((bytes(pos) >= '0' && bytes(pos) <= '9') || bytes(pos) == '.')) pos += 1
      val s = new String(bytes, start, pos - start, "US-ASCII")
      require(s.nonEmpty && s != "+" && s != "-" && s != ".",
        s"pdf: malformed number at byte $start")
      PNum(s.toDouble)
    }

    def parseDict(): PDict = {
      pos += 2 // '<<'
      val m = scala.collection.mutable.LinkedHashMap.empty[String, PVal]
      skipWs()
      while (!(pos + 1 < bytes.length && bytes(pos) == '>' && bytes(pos + 1) == '>')) {
        require(pos < bytes.length, "pdf: unterminated dictionary")
        require(bytes(pos) == '/', s"pdf: dictionary key is not a name at byte $pos")
        val k = name().v
        val v = parseValue()
        if (v != PNull) m(k) = v
        skipWs()
      }
      pos += 2
      PDict(m.toMap)
    }

    /** One object-grammar value. In `ops` mode bare tokens come back as
      * [[POp]] so the content walk can act on operators.
      */
    def parseValue(): PVal = {
      skipWs()
      require(pos < bytes.length, "pdf: unexpected end of input")
      bytes(pos) match {
        case '/' => name()
        case '(' => literalString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PVal]
          skipWs()
          require(pos < bytes.length, "pdf: unterminated array")
          while (bytes(pos) != ']') {
            items += parseValue()
            skipWs()
            require(pos < bytes.length, "pdf: unterminated array")
          }
          pos += 1
          PArr(items.result())
        case '<' =>
          if (pos + 1 < bytes.length && bytes(pos + 1) == '<') parseDict()
          else hexString()
        case b if (b >= '0' && b <= '9') || b == '+' || b == '-' || b == '.' =>
          val n = number()
          // `int int R` is an indirect reference — shift-reduce with rollback
          if (n.v >= 0 && n.v == math.rint(n.v)) {
            val save = pos
            skipWs()
            if (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
              val g = number()
              if (g.v >= 0 && g.v == math.rint(g.v) && peekKeyword("R")) {
                pos += 1
                return PRef(n.int, g.int.toInt)
              }
            }
            pos = save
          }
          n
        case _ =>
          val t = bareToken()
          t match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case other if ops => POp(other)
            case other => fail(s"unexpected keyword '$other' at byte $pos")
          }
      }
    }
  }

  // ---------------------------------------------------------------
  // Document walk
  // ---------------------------------------------------------------

  /** One cross-reference entry: a byte offset in the file (type 1) or a
    * slot inside a `/Type /ObjStm` object stream (type 2, §7.5.8.3).
    */
  private sealed trait XEntry
  private final case class XOff(off: Long) extends XEntry
  private final case class XInStm(stm: Long, idx: Int) extends XEntry

  /** One loaded document: xref map, trailer, object cache. */
  final class Document(bytes: Array[Byte]) {
    require(bytes.length >= 16, "pdf: file shorter than any PDF")
    require(new String(bytes, 0, 5, "US-ASCII") == "%PDF-",
      "pdf: missing %PDF- header")

    private val xref = scala.collection.mutable.LongMap.empty[XEntry]
    /** Object numbers already claimed by a NEWER section — in-use, free,
      * or unknown-typed: all three shadow older /Prev entries
      * (ISO 32000-1 §7.5.4), so a freed object cannot resurrect at a
      * stale offset.
      */
    private val xrefSeen = scala.collection.mutable.Set.empty[Long]
    private var root: PRef = _
    /** `/Info` from the NEWEST trailer that carries one (§7.5.5 — the
      * document-metadata dictionary; optional).
      */
    private var info: Option[PRef] = None
    /** `/Encrypt` from the newest trailer that carries one — resolved
      * and rejected BY VERSION once the object machinery below exists.
      */
    private var encryptRef: Option[PVal] = None

    /** Parse the object headed at byte `off`: (number, value, raw stream
      * bytes). `lenOf` supplies the `/Length` lookup — indirect-capable
      * in the general case, direct-only for cross-reference streams
      * parsed before the xref itself is complete (§7.5.8.2 requires
      * their dictionary entries to be direct).
      */
    private def parseObjAt(off: Int, lenOf: PDict => Long): (Long, PVal, Option[Array[Byte]]) = {
      val lx = new Lexer(bytes, off, ops = false)
      val num = lx.parseValue().asInstanceOf[PNum].int
      lx.parseValue().asInstanceOf[PNum] // generation
      lx.expectKeyword("obj")
      val v = lx.parseValue()
      lx.skipWs()
      if (lx.peekKeyword("stream")) {
        val d = v match {
          case d: PDict => d
          case _ => fail("stream object without a dictionary")
        }
        lx.pos += "stream".length
        // spec: `stream` is followed by CRLF or LF, never CR alone
        if (lx.pos < bytes.length && bytes(lx.pos) == '\r') lx.pos += 1
        require(lx.pos < bytes.length && bytes(lx.pos) == '\n',
          "pdf: 'stream' keyword not followed by an end-of-line")
        lx.pos += 1
        val len = lenOf(d)
        require(len >= 0 && lx.pos + len <= bytes.length,
          s"pdf: stream of length $len runs past EOF")
        val data = java.util.Arrays.copyOfRange(bytes, lx.pos, lx.pos + len.toInt)
        lx.pos += len.toInt
        lx.expectKeyword("endstream")
        (num, v, Some(data))
      } else {
        lx.expectKeyword("endobj")
        (num, v, None)
      }
    }

    /** Load one cross-reference SECTION at `off` — a classic `xref`
      * table (buffering its entries so a hybrid-reference `/XRefStm`
      * stream, which takes precedence, applies first) or a PDF 1.5
      * `/Type /XRef` stream. Returns the section's trailer dictionary
      * (for xref streams, the stream dictionary IS the trailer).
      */
    private def loadSection(off: Int): PDict = {
      val x = new Lexer(bytes, off, ops = false)
      if (!x.peekKeyword("xref")) return loadXrefStream(off)
      x.expectKeyword("xref")
      x.skipWs()
      val pending = Vector.newBuilder[(Long, Boolean, Long)]
      while (!x.peekKeyword("trailer")) {
        val start = x.parseValue().asInstanceOf[PNum].int
        val count = x.parseValue().asInstanceOf[PNum].int
        var i = 0L
        while (i < count) {
          x.skipWs()
          require(x.pos + 18 <= bytes.length, "pdf: truncated xref entry")
          val entry = new String(bytes, x.pos, 18, "US-ASCII")
          require(entry.matches("[0-9]{10} [0-9]{5} [fn]"),
            s"pdf: malformed xref entry '$entry'")
          pending += ((start + i, entry.charAt(17) == 'n', entry.substring(0, 10).toLong))
          x.pos += 18
          i += 1
        }
        x.skipWs()
      }
      x.expectKeyword("trailer")
      val tr = x.parseValue().asInstanceOf[PDict]
      // hybrid-reference file (§7.5.8.4): the accompanying xref STREAM's
      // entries take precedence over this classic section's
      tr.m.get("XRefStm") match {
        case None => ()
        case Some(p: PNum) =>
          require(p.int >= 0 && p.int < bytes.length,
            s"pdf: /XRefStm offset ${p.int} beyond EOF")
          loadXrefStream(p.int.toInt)
        case Some(other) => fail(s"/XRefStm is not an integer (got $other)")
      }
      pending.result().foreach { case (num, inUse, o) =>
        if (!xrefSeen.contains(num)) {
          xrefSeen += num
          if (inUse) xref(num) = XOff(o)
        }
      }
      tr
    }

    /** Load a §7.5.8 cross-reference stream at `off`: `/W`-described
      * big-endian rows over the `/Index` subsections, decoded through
      * the shared filter + PNG-predictor path. Free (type 0) and
      * unknown-typed entries mark their object numbers seen — shadowing
      * — without an offset (§7.5.8.3 says unknown types read as null).
      */
    private def loadXrefStream(off: Int): PDict = {
      // §7.5.8.2: every key in an xref stream dictionary must be direct
      val direct: PVal => PVal = {
        case _: PRef => fail("cross-reference stream dictionary keys must be direct")
        case v => v
      }
      def directInt(d: PDict, k: String): Long =
        direct(d.m.getOrElse(k, fail(s"cross-reference stream without /$k"))) match {
          case n: PNum => n.int
          case other => fail(s"cross-reference stream /$k is not an integer (got $other)")
        }
      val (_, v, data) = parseObjAt(off, directInt(_, "Length"))
      val d = v match {
        case d: PDict => d
        case other => fail("startxref target is neither an 'xref' table nor a " +
          s"cross-reference stream (got $other)")
      }
      d.m.get("Type") match {
        case Some(PName("XRef")) => ()
        case other => fail("startxref target is neither an 'xref' table nor a " +
          s"/Type /XRef cross-reference stream (got $other)")
      }
      val rows = decodeStream(d,
        data.getOrElse(fail("cross-reference stream without stream data")), direct)
      val ws = direct(d.m.getOrElse("W", fail("cross-reference stream without /W"))) match {
        case PArr(items) if items.length == 3 => items.map(direct(_) match {
          case n: PNum => n.int.toInt
          case other => fail(s"/W element is not an integer (got $other)")
        })
        case other => fail(s"/W is not a 3-element array (got $other)")
      }
      require(ws.forall(w => w >= 0 && w <= 8) && ws(1) > 0,
        s"pdf: /W widths $ws out of range")
      val size = directInt(d, "Size")
      val index: Vector[(Long, Long)] = d.m.get("Index") match {
        case None => Vector((0L, size))
        case Some(PArr(items)) =>
          require(items.length % 2 == 0, "pdf: /Index has an odd element count")
          items.grouped(2).map { pair =>
            (direct(pair(0)), direct(pair(1))) match {
              case (a: PNum, b: PNum) => (a.int, b.int)
              case other => fail(s"/Index holds non-integers $other")
            }
          }.toVector
        case Some(other) => fail(s"/Index is not an array (got $other)")
      }
      val rowLen = ws.sum
      val nEntries = index.map(_._2).sum
      require(nEntries >= 0 && rows.length == nEntries * rowLen,
        s"pdf: cross-reference stream data is ${rows.length} bytes, " +
          s"expected $nEntries entries of $rowLen")
      var p = 0
      def field(w: Int): Long = {
        var acc = 0L; var k = 0
        while (k < w) { acc = (acc << 8) | (rows(p) & 0xff); p += 1; k += 1 }
        acc
      }
      index.foreach { case (start, count) =>
        var i = 0L
        while (i < count) {
          val t = if (ws(0) == 0) 1L else field(ws(0)) // w1=0: type defaults to 1
          val f2 = field(ws(1))
          val f3 = field(ws(2))
          val num = start + i
          if (!xrefSeen.contains(num)) {
            xrefSeen += num
            t match {
              case 0 => () // free — seen, shadowing only
              case 1 => xref(num) = XOff(f2)
              case 2 =>
                require(f3 <= Int.MaxValue, s"pdf: object-stream index $f3 out of range")
                xref(num) = XInStm(f2, f3.toInt)
              case _ => () // §7.5.8.3: unknown entry types read as the null object
            }
          }
          i += 1
        }
      }
      d
    }

    locally {
      // locate the LAST `startxref` in the tail — incremental updates
      // append, so the newest table is the one nearest the end
      val tailFrom = math.max(0, bytes.length - 2048)
      val tail = new String(bytes, tailFrom, bytes.length - tailFrom, "ISO-8859-1")
      val at = tail.lastIndexOf("startxref")
      require(at >= 0, "pdf: no startxref in the file tail")
      val lx = new Lexer(bytes, tailFrom + at, ops = false)
      lx.expectKeyword("startxref")
      var off = lx.parseValue().asInstanceOf[PNum].int
      var hops = 0
      var rootSeen = false
      // deferred until the whole chain loads: naming the /Encrypt
      // /V (algorithm) and /R (standard-handler revision) versions in
      // the reject needs the dictionary resolved, and its reference may
      // point into a section an earlier /Prev hop hasn't loaded yet
      // (resolution itself waits for the object cache below to exist)
      while (off >= 0) {
        require(hops < 16, "pdf: /Prev chain longer than 16 updates")
        require(off < bytes.length, s"pdf: xref offset $off beyond EOF")
        val tr = loadSection(off.toInt)
        if (encryptRef.isEmpty) encryptRef = tr.m.get("Encrypt")
        if (!rootSeen) tr.m.get("Root") match {
          case Some(r: PRef) => root = r; rootSeen = true
          case Some(_) => fail("/Root is not an indirect reference")
          case None => () // an update trailer may omit it; /Prev must supply
        }
        if (info.isEmpty) tr.m.get("Info") match {
          case Some(r: PRef) => info = Some(r)
          case Some(_) => fail("/Info is not an indirect reference")
          case None => ()
        }
        off = tr.m.get("Prev") match {
          case Some(p: PNum) => hops += 1; p.int
          case None => -1L
          case Some(_) => fail("/Prev is not an integer")
        }
      }
      require(rootSeen, "pdf: no /Root in any trailer")
    }

    private val cache = scala.collection.mutable.LongMap.empty[(PVal, Option[Array[Byte]])]
    private val resolving = scala.collection.mutable.Set.empty[Long]
    /** Decoded object streams: payload bytes, (objnum, offset) header
      * pairs, /First — cached so N objects don't re-inflate N times.
      */
    private val objStmCache =
      scala.collection.mutable.LongMap.empty[(Array[Byte], Vector[(Long, Int)], Int)]

    /** Parse object `num` — at its xref offset, or out of its object
      * stream for type-2 entries. Manual cache check — resolving an
      * indirect /Length re-enters this method mid-insert, which
      * `getOrElseUpdate` does not tolerate.
      */
    def obj(num: Long): (PVal, Option[Array[Byte]]) = cache.get(num).getOrElse {
      require(!resolving.contains(num), s"pdf: circular reference through object $num")
      resolving += num
      val computed = try {
        xref.getOrElse(num, fail(s"object $num not in xref")) match {
          case XOff(off) =>
            require(off >= 0 && off < bytes.length, s"pdf: xref offset $off beyond EOF")
            val (n2, v, data) = parseObjAt(off.toInt, d =>
              resolveInt(d.m.getOrElse("Length", fail("stream without /Length"))))
            require(n2 == num, s"pdf: xref points object $num at object $n2")
            (v, data)
          case XInStm(stm, idx) =>
            (objFromStm(stm, idx, num), None) // §7.5.7: no streams inside ObjStm
        }
      } finally resolving -= num
      cache(num) = computed
      computed
    }

    /** Object `want` = entry `idx` of object stream `stm` (§7.5.7):
      * decode the stream once, read the N (objnum, offset) header pairs
      * before /First, and parse the value at its offset. The header's
      * object number must agree with the xref — a mismatch is a
      * corrupt file, never a silent wrong object.
      */
    private def objFromStm(stm: Long, idx: Int, want: Long): PVal = {
      val (payload, pairs, first) = objStmCache.get(stm).getOrElse {
        val (v, raw) = obj(stm)
        val d = v match {
          case d: PDict => d
          case other => fail(s"object stream $stm is not a stream (got $other)")
        }
        d.m.get("Type") match {
          case Some(PName("ObjStm")) => ()
          case other => fail(s"object $stm is not /Type /ObjStm (got $other)")
        }
        val payload = decodeStream(d,
          raw.getOrElse(fail(s"object stream $stm has no stream data")), resolve)
        val n = resolveInt(d.m.getOrElse("N", fail(s"object stream $stm without /N")))
        val first = resolveInt(d.m.getOrElse("First", fail(s"object stream $stm without /First")))
        require(n >= 0 && n <= payload.length && first >= 0 && first <= payload.length,
          s"pdf: object stream $stm header geometry out of range")
        val hx = new Lexer(payload, 0, ops = false)
        val pairs = Vector.tabulate(n.toInt) { _ =>
          val objNum = hx.parseValue().asInstanceOf[PNum].int
          val rel = hx.parseValue().asInstanceOf[PNum].int
          require(hx.pos <= first, s"pdf: object stream $stm header runs past /First")
          require(rel >= 0 && first + rel <= payload.length,
            s"pdf: object stream $stm offset $rel out of range")
          (objNum, rel.toInt)
        }
        val computed = (payload, pairs, first.toInt)
        objStmCache(stm) = computed
        computed
      }
      require(idx >= 0 && idx < pairs.length,
        s"pdf: object-stream index $idx out of range (N=${pairs.length}) in stream $stm")
      val (objNum, rel) = pairs(idx)
      require(objNum == want,
        s"pdf: xref says object $want is entry $idx of stream $stm, which holds object $objNum")
      new Lexer(payload, first + rel, ops = false).parseValue()
    }

    def resolve(v: PVal): PVal = v match {
      case PRef(n, _) => resolve(obj(n)._1)
      case other => other
    }

    def resolveInt(v: PVal): Long = resolve(v) match {
      case n: PNum => n.int
      case other => fail(s"expected integer, got $other")
    }

    private def dictOf(v: PVal, what: String): PDict = resolve(v) match {
      case d: PDict => d
      case other => fail(s"$what is not a dictionary (got $other)")
    }

    locally {
      // encrypted documents reject WITH the security-handler versions:
      // corpus triage splits the RC4 era (/V 1–2) from AES files
      // (/V 4–5) on the message alone, without reopening the bytes.
      // The /Encrypt dictionary itself is never encrypted (§7.6.1), so
      // resolving it through the normal object walk is safe.
      encryptRef.foreach { e =>
        // BEST-EFFORT description: the reject must stay "encrypted"
        // even when the dictionary itself is broken or dangling
        def tryResolve(v: PVal): PVal =
          try resolve(v) catch { case _: Exception => PNull }
        val versions = tryResolve(e) match {
          case d: PDict =>
            def num(k: String): String = d.m.get(k).map(tryResolve) match {
              case Some(n: PNum) => n.int.toString
              case _ => "?"
            }
            val handler = tryResolve(d.m.getOrElse("Filter", PNull)) match {
              case PName(n) => n
              case _ => "?"
            }
            s"/Filter /$handler /V ${num("V")} /R ${num("R")}"
          case _ => "unresolvable dictionary"
        }
        fail(s"encrypted document unsupported (/Encrypt $versions)")
      }
    }

    /** The page objects in document order — `/Kids` walked depth-first.
      * `/Resources` is an INHERITABLE attribute (§7.7.3.4): a page
      * without its own takes the nearest `/Pages` ancestor's, threaded
      * through the walk and spliced into the returned page dict — so
      * fonts declared once at the tree root still reach [[pageFonts]].
      * Without this an inheriting page would read `Map.empty`, `Tf`
      * would silently miss, and subset-font show strings would decode
      * as byte salad — a silent wrong result the module's loud-reject
      * contract forbids.
      */
    def pages(): Vector[PDict] = {
      val catalog = dictOf(root, "/Root")
      val out = Vector.newBuilder[PDict]
      var seen = 0
      def walk(node: PVal, inherited: Option[PVal], depth: Int): Unit = {
        require(depth < 64, "pdf: page tree deeper than 64 levels")
        val d = dictOf(node, "page-tree node")
        val res = d.m.get("Resources").orElse(inherited)
        d.m.get("Type") match {
          case Some(PName("Pages")) =>
            resolve(d.m.getOrElse("Kids", fail("/Pages node without /Kids"))) match {
              case PArr(kids) => kids.foreach(walk(_, res, depth + 1))
              case other => fail(s"/Kids is not an array (got $other)")
            }
          case Some(PName("Page")) =>
            seen += 1
            require(seen <= 1000000, "pdf: more than 1e6 pages")
            out += (res match {
              case Some(r) if !d.m.contains("Resources") =>
                PDict(d.m + ("Resources" -> r))
              case _ => d
            })
          case other => fail(s"page-tree node of type $other")
        }
      }
      walk(catalog.m.getOrElse("Pages", fail("catalog without /Pages")), None, 0)
      out.result()
    }

    /** Decoded content bytes of one page — multiple `/Contents` streams
      * concatenate with a newline (the spec treats them as one stream
      * split at token boundaries).
      */
    def pageContent(page: PDict): Array[Byte] = {
      def one(ref: PVal): Array[Byte] = {
        val num = ref match {
          case PRef(n, _) => n
          case other => fail(s"/Contents element is not a reference (got $other)")
        }
        val (v, data) = obj(num)
        val d = v match {
          case d: PDict => d
          case other => fail(s"content object is not a stream (got $other)")
        }
        val raw = data.getOrElse(fail("content object has no stream data"))
        decodeStream(d, raw, resolve)
      }
      resolve(page.m.getOrElse("Contents", PNull)) match {
        case PNull => Array.emptyByteArray // a blank page is legal
        case PArr(items) =>
          val parts = items.map(one)
          val out = new java.io.ByteArrayOutputStream()
          parts.zipWithIndex.foreach { case (p, i) =>
            if (i > 0) out.write('\n')
            out.write(p)
          }
          out.toByteArray
        case _: PDict =>
          // /Contents must be indirect so the stream can be parsed standalone
          one(page.m("Contents"))
        case other => fail(s"/Contents of unexpected type $other")
      }
    }

    /** The page's `/Resources /Font` entries as text decoders — the
      * encoding layer between shown bytes and text. Absent resources
      * mean the resource-less fixture profile: bytes decode standard.
      */
    def pageFonts(page: PDict): Map[String, FontDec] =
      resolve(page.m.getOrElse("Resources", PNull)) match {
        case PNull => Map.empty
        case rd: PDict => resolve(rd.m.getOrElse("Font", PNull)) match {
          case PNull => Map.empty
          case fd: PDict => fd.m.map { case (name, ref) =>
            name -> fontDecoder(dictOf(ref, s"font /$name"), name)
          }
          case other => fail(s"/Resources /Font is not a dictionary (got $other)")
        }
        case other => fail(s"/Resources is not a dictionary (got $other)")
      }

    /** Decoder policy, in fidelity order: a `/ToUnicode` CMap when the
      * font carries one (the only honest reading of embedded subset
      * fonts); else composite (Type0) fonts REJECT — their show strings
      * are glyph indices, and emitting them as-is would be silent byte
      * salad; else the named simple-font encodings decode directly,
      * with `/Differences` overriding single codes through the
      * standard glyph-name table ([[GlyphNames]], the public Adobe
      * Glyph List's Latin repertoire) — a name OUTSIDE the table
      * (symbol/dingbat/subset glyphs) rejects loudly, never byte
      * salad.
      */
    private def fontDecoder(f: PDict, name: String): FontDec =
      f.m.get("ToUnicode") match {
        case Some(ref) =>
          val num = ref match {
            case PRef(n, _) => n
            case other => fail(s"/ToUnicode of font /$name is not a stream reference (got $other)")
          }
          val (v, data) = obj(num)
          val d = v match {
            case d: PDict => d
            case other => fail(s"/ToUnicode of font /$name is not a stream (got $other)")
          }
          parseToUnicode(decodeStream(d,
            data.getOrElse(fail(s"/ToUnicode of font /$name has no stream data")), resolve), name)
        case None =>
          if (resolve(f.m.getOrElse("Subtype", PNull)) == PName("Type0"))
            fail(s"composite (Type0) font /$name without /ToUnicode — " +
              "glyph indices are not text")
          resolve(f.m.getOrElse("Encoding", PNull)) match {
            case PNull | PName("StandardEncoding") | PName("PDFDocEncoding") => StdDec
            case PName("WinAnsiEncoding") => CharsetDec("windows-1252")
            case PName("MacRomanEncoding") => CharsetDec("x-MacRoman")
            case PName(other) => fail(s"font /$name encoding /$other unsupported")
            case d: PDict =>
              val base = resolve(d.m.getOrElse("BaseEncoding", PNull)) match {
                case PNull | PName("StandardEncoding") => StdDec
                case PName("WinAnsiEncoding") => CharsetDec("windows-1252")
                case PName("MacRomanEncoding") => CharsetDec("x-MacRoman")
                case other => fail(s"font /$name base encoding $other unsupported")
              }
              resolve(d.m.getOrElse("Differences", PNull)) match {
                case PNull => base
                case PArr(items) => DiffDec(base, diffOverrides(items, name))
                case other =>
                  fail(s"font /$name /Differences is not an array (got $other)")
              }
            case other => fail(s"font /$name /Encoding of unexpected type $other")
          }
      }

    /** The §7.5.5 document-information dictionary, resolved — None when
      * no trailer carries an `/Info`.
      */
    def infoDict(): Option[PDict] = info.map(r => dictOf(r, "/Info"))

    /** The page's `/Annots` URI links in array order (§12.5.6.5 link
      * annotations with a §12.6.4.7 URI action). Non-link annotation
      * subtypes (notes, highlights) and links whose action is not
      * `/S /URI` (GoTo destinations are document-internal) are other
      * page furniture — skipped by SELECTION, which is the operator's
      * contract, not a silent failure. Malformed shapes — a non-array
      * `/Annots`, a non-dict annotation, a URI action without `/URI`,
      * a non-string `/URI` — reject loudly.
      */
    def pageLinks(page: PDict): Vector[String] =
      resolve(page.m.getOrElse("Annots", PNull)) match {
        case PNull => Vector.empty
        case PArr(items) => items.flatMap { a =>
          val d = dictOf(a, "annotation")
          if (resolve(d.m.getOrElse("Subtype", PNull)) != PName("Link")) None
          else resolve(d.m.getOrElse("A", PNull)) match {
            case PNull => None // a /Dest-only internal link
            case ad: PDict =>
              if (resolve(ad.m.getOrElse("S", PNull)) != PName("URI")) None
              else resolve(ad.m.getOrElse("URI",
                  fail("URI action without /URI"))) match {
                case PStr(b) => Some(decodeString(b))
                case other => fail(s"/URI is not a string (got $other)")
              }
            case other => fail(s"annotation /A of unexpected type $other")
          }
        }
        case other => fail(s"/Annots is not an array (got $other)")
      }
  }

  /** Every URI link in the document as (page 1-based, link_no 1-based
    * within the page, uri) — the PDF side of the corpus link graph
    * ([[graft.pipeline.HtmlExtract]]'s anchor extraction for the HTML
    * side).
    */
  def docLinks(pdf: Array[Byte]): Vector[(Int, Int, String)] = {
    val doc = new Document(pdf)
    doc.pages().zipWithIndex.flatMap { case (p, pi) =>
      doc.pageLinks(p).zipWithIndex.map { case (u, li) => (pi + 1, li + 1, u) }
    }
  }

  /** One document's metadata: /Info Title and Author (decoded through
    * [[decodeString]] — PDFDocEncoding or the UTF-16BE BOM), the
    * /CreationDate year parsed from the §7.9.4 `D:` date string, and
    * the page count from the page-tree walk. A missing /Info, missing
    * key, non-string value, or malformed date prefix rejects by name —
    * the front-door contract (corpus provenance filters must never read
    * silently-empty metadata).
    */
  def docMeta(pdf: Array[Byte]): (String, String, Int, Int) = {
    val doc = new Document(pdf)
    val d = doc.infoDict().getOrElse(fail("document has no /Info dictionary"))
    def str(k: String): String =
      doc.resolve(d.m.getOrElse(k, fail(s"/Info has no /$k"))) match {
        case PStr(b) => decodeString(b)
        case other => fail(s"/Info /$k is not a string (got $other)")
      }
    val created = str("CreationDate")
    require(created.startsWith("D:") && created.length >= 6,
      s"pdf: malformed /CreationDate '$created' (must start D:YYYY)")
    val year =
      try created.substring(2, 6).toInt
      catch { case _: NumberFormatException =>
        fail(s"non-numeric year in /CreationDate '$created'") }
    (str("Title"), str("Author"), year, doc.pages().length)
  }

  /** Decode one stream's payload: the `/Filter` CHAIN folded in array
    * order (§7.4.1 — each filter consumes the previous filter's
    * output), each element applying its own `/DecodeParms` entry (a
    * parallel array per the spec; a bare dict pairs with a one-element
    * chain). Supported filters: FlateDecode, LZWDecode,
    * ASCIIHexDecode, ASCII85Decode — each honoring its parms'
    * `/Predictor` (1 = none, ≥10 = the PNG row filters every modern
    * xref-stream producer emits); TIFF `Predictor 2` rejects loudly.
    * `res` resolves indirect values — `resolve` in the general case, a
    * direct-only rejecter for cross-reference streams (§7.5.8.2).
    */
  private def decodeStream(d: PDict, raw: Array[Byte], res: PVal => PVal): Array[Byte] = {
    val filters: Vector[String] = res(d.m.getOrElse("Filter", PNull)) match {
      case PNull => Vector.empty
      case PName(n) => Vector(n)
      case PArr(items) => items.map(res(_) match {
        case PName(n) => n
        case other => fail(s"/Filter array holds non-name $other")
      })
      case other => fail(s"/Filter of unexpected shape $other")
    }
    val parmsPer: Vector[Option[PDict]] = res(d.m.getOrElse("DecodeParms", PNull)) match {
      case PNull => Vector.fill(math.max(1, filters.length))(None)
      case p: PDict =>
        require(filters.length <= 1,
          s"pdf: bare /DecodeParms dict beside a ${filters.length}-filter chain")
        Vector(Some(p))
      case PArr(items) =>
        require(items.length == filters.length,
          s"pdf: /DecodeParms length ${items.length} != /Filter length ${filters.length}")
        items.map(res(_) match {
          case PNull => None
          case p: PDict => Some(p)
          case other => fail(s"/DecodeParms element of unexpected shape $other")
        })
      case other => fail(s"/DecodeParms of unexpected shape $other")
    }
    if (filters.isEmpty)
      // filterless streams may still carry prediction parms (the raw
      // xref-stream shape): identity decode, predictor honored
      applyPredictor(raw, parmsPer.head, res)
    else
      filters.zip(parmsPer).foldLeft(raw) { case (bytes, (name, parms)) =>
        applyFilter(name, bytes, parms, res)
      }
  }

  /** One `/Filter` chain element: the named decode, then that element's
    * own `/Predictor` parms.
    */
  private def parmInt(parms: Option[PDict], res: PVal => PVal,
      k: String, dflt: Int): Int = parms.flatMap(_.m.get(k)) match {
    case None => dflt
    case Some(v) => res(v) match {
      case n: PNum => n.int.toInt
      case other => fail(s"/DecodeParms /$k is not an integer (got $other)")
    }
  }

  private def applyFilter(name: String, data: Array[Byte],
      parms: Option[PDict], res: PVal => PVal): Array[Byte] = {
    val decoded = name match {
      case "FlateDecode" => inflate(data)
      case "LZWDecode" => lzwDecode(data, parmInt(parms, res, "EarlyChange", 1))
      case "ASCIIHexDecode" => asciiHexDecode(data)
      case "ASCII85Decode" => ascii85Decode(data)
      case "RunLengthDecode" => runLengthDecode(data)
      case other => fail(s"filter /$other unsupported (FlateDecode/LZWDecode/" +
        "ASCIIHexDecode/ASCII85Decode/RunLengthDecode only)")
    }
    applyPredictor(decoded, parms, res)
  }

  private def applyPredictor(decoded: Array[Byte], parms: Option[PDict],
      res: PVal => PVal): Array[Byte] =
    parmInt(parms, res, "Predictor", 1) match {
      case 1 => decoded
      case p if p >= 10 =>
        val columns = parmInt(parms, res, "Columns", 1)
        val colors = parmInt(parms, res, "Colors", 1)
        val bpc = parmInt(parms, res, "BitsPerComponent", 8)
        require(columns > 0 && colors > 0 && bpc > 0,
          s"pdf: bad predictor geometry ($columns columns, $colors colors, $bpc bits)")
        val bpp = math.max(1, colors * bpc / 8)
        val rowBytes = (columns * colors * bpc + 7) / 8
        pngUnpredict(decoded, rowBytes, bpp)
      case p => fail(s"predictor $p unsupported (none or PNG only)")
    }

  /** ASCIIHexDecode (§7.4.2): hex pairs with PDF whitespace ignored,
    * `>` as the required EOD marker — an odd final digit behaves as if
    * followed by 0. Non-hex bytes, a missing EOD, and non-whitespace
    * after it reject loudly.
    */
  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var ended = false
    while (i < data.length && !ended) {
      val b = data(i)
      if (b == '>') ended = true
      else if (!isWs(b)) {
        val v = Character.digit(b, 16)
        if (v < 0) fail(f"ASCIIHexDecode: non-hex byte 0x$b%02x at offset $i")
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    require(ended, "pdf: ASCIIHexDecode data without the '>' EOD marker")
    while (i < data.length) {
      if (!isWs(data(i))) fail("ASCIIHexDecode: data after the '>' EOD marker")
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** RunLengthDecode (§7.4.5 — the PackBits-style byte RLE old fax-era
    * producers emit): length byte 0–127 copies the next length+1 bytes
    * literally, 129–255 repeats the next byte 257−length times, 128 is
    * EOD. A missing EOD, a truncated run, and data after EOD reject
    * loudly.
    */
  private def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 2))
    var i = 0
    while (i < data.length) {
      val len = data(i) & 0xff
      i += 1
      if (len == 128) {
        while (i < data.length) {
          if (!isWs(data(i))) fail("RunLengthDecode: data after the EOD byte")
          i += 1
        }
        return out.toByteArray
      } else if (len < 128) {
        require(i + len + 1 <= data.length,
          s"pdf: RunLengthDecode literal run of ${len + 1} truncated")
        out.write(data, i, len + 1)
        i += len + 1
      } else {
        require(i < data.length, "pdf: RunLengthDecode repeat run truncated")
        val b = data(i); i += 1
        var k = 257 - len
        while (k > 0) { out.write(b); k -= 1 }
      }
    }
    fail("RunLengthDecode data without the EOD byte")
  }

  /** ASCII85Decode (§7.4.3): 5-char `!`..`u` groups → 4 big-endian
    * bytes, `z` as the all-zero-group shortcut (illegal mid-group),
    * PDF whitespace ignored, `~>` as the required EOD. A final partial
    * group of n chars pads with `u` and keeps its top n−1 bytes (the
    * btoa convention the encoder's zero-byte padding inverts); a
    * 1-char final group, a group value above 2³²−1, out-of-alphabet
    * bytes, and data after EOD reject loudly.
    */
  private def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var ended = false
    def flush(chars: Int): Unit = {
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < chars) grp(k) else 84); k += 1 }
      require(v <= 0xffffffffL, "pdf: ASCII85Decode group exceeds 2^32 - 1")
      var shift = 24
      var emitted = 0
      while (emitted < chars - 1) {
        out.write(((v >> shift) & 0xff).toInt)
        shift -= 8; emitted += 1
      }
      n = 0
    }
    while (i < data.length && !ended) {
      val b = data(i)
      if (b == '~') {
        require(i + 1 < data.length && data(i + 1) == '>',
          "pdf: ASCII85Decode '~' not followed by '>'")
        ended = true; i += 1
      } else if (b == 'z') {
        require(n == 0, "pdf: ASCII85Decode 'z' inside a group")
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (!isWs(b)) {
        if (b < '!' || b > 'u')
          fail(f"ASCII85Decode: byte 0x$b%02x outside '!'..'u' at offset $i")
        grp(n) = b - '!'; n += 1
        if (n == 5) flush(5)
      }
      i += 1
    }
    require(ended, "pdf: ASCII85Decode data without the '~>' EOD marker")
    while (i < data.length) {
      if (!isWs(data(i))) fail("ASCII85Decode: data after the '~>' EOD marker")
      i += 1
    }
    require(n != 1, "pdf: ASCII85Decode final group of a single character")
    if (n >= 2) flush(n)
    out.toByteArray
  }

  /** LZWDecode (§7.4.4 — the TIFF variant: MSB-first bit packing,
    * 9→12-bit variable code widths, 256 = clear, 257 = EOD, and the
    * `/EarlyChange` convention where widths grow ONE CODE EARLY by
    * default). The pre-PDF-1.2 compression — rare in modern corpora but
    * present in long-tail scans. Width bump mirrors the encoder's
    * early-change lockstep: the decoder's table lags the encoder by the
    * in-flight code, so it widens at `size + 1 + earlyChange` reaching
    * the width's capacity (510/1022/2046 under the default). Truncation
    * (no EOD), out-of-range codes, and table overflow reject loudly.
    */
  private def lzwDecode(data: Array[Byte], earlyChange: Int): Array[Byte] = {
    require(earlyChange == 0 || earlyChange == 1,
      s"pdf: /EarlyChange $earlyChange unsupported (0 or 1)")
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    while (true) {
      while (bitCnt < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xff); pos += 1; bitCnt += 8
      }
      if (bitCnt < width) fail("truncated LZW stream (no EOD code)")
      val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
      bitCnt -= width
      code match {
        case 256 => dictSize = 258; width = 9; prev = null // clear table
        case 257 => return out.toByteArray // EOD
        case c =>
          val entry: Array[Byte] =
            if (c < 256) Array(c.toByte)
            else if (c < dictSize && c >= 258) dict(c)
            else if (c == dictSize && prev != null) prev :+ prev(0) // KwKwK
            else fail(s"LZW code $c out of range (table size $dictSize)")
          out.write(entry)
          if (prev != null) {
            require(dictSize < 4096, "pdf: LZW table overflow without a clear code")
            dict(dictSize) = prev :+ entry(0)
            dictSize += 1
            if (dictSize + 1 + earlyChange >= (1 << width) && width < 12) width += 1
          }
          prev = entry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Reverse the PNG row filters over `(1 + rowBytes)`-stride rows —
    * the same None/Sub/Up/Average/Paeth recurrences (exact Paeth
    * tie-break order) as [[graft.pipeline.MediaCodec.decodePng]]'s
    * in-pass unfilter, here against the previous RECONSTRUCTED row.
    */
  private def pngUnpredict(data: Array[Byte], rowBytes: Int, bpp: Int): Array[Byte] = {
    require(rowBytes > 0 && data.length % (rowBytes + 1) == 0,
      s"pdf: predicted stream of ${data.length} bytes is not whole ${rowBytes + 1}-byte rows")
    val nRows = data.length / (rowBytes + 1)
    val out = new Array[Byte](nRows * rowBytes)
    var r = 0
    while (r < nRows) {
      val base = r * (rowBytes + 1)
      val filter = data(base) & 0xff
      var i = 0
      while (i < rowBytes) {
        val x = data(base + 1 + i) & 0xff
        val a = if (i >= bpp) out(r * rowBytes + i - bpp) & 0xff else 0 // left
        val b = if (r > 0) out((r - 1) * rowBytes + i) & 0xff else 0 // up
        val c = if (r > 0 && i >= bpp) out((r - 1) * rowBytes + i - bpp) & 0xff else 0
        val recon = filter match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => // Paeth: nearest of a/b/c to p = a + b - c, ties a, then b
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case f => fail(s"bad PNG predictor filter type $f in row $r")
        }
        out(r * rowBytes + i) = (recon & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** FlateDecode: the spec says zlib (RFC 1950), but raw-deflate streams
    * exist in the wild — sniff the CMF/FLG pair (method 8, checksum
    * divisible by 31) and fall back to raw mode, the [[Zip]] dual-mode
    * Inflater discipline. Corrupt data rejects loudly.
    */
  private def inflate(data: Array[Byte]): Array[Byte] = {
    val zlib = data.length >= 2 && (data(0) & 0x0f) == 8 &&
      ((((data(0) & 0xff) << 8) | (data(1) & 0xff)) % 31 == 0)
    val inf = new java.util.zip.Inflater(!zlib)
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch {
            case e: java.util.zip.DataFormatException =>
              fail(s"corrupt FlateDecode stream: ${e.getMessage}")
          }
        if (n > 0) out.write(buf, 0, n)
        else if (inf.needsInput()) fail("truncated FlateDecode stream")
      }
      out.toByteArray
    } finally inf.end()
  }

  // ---------------------------------------------------------------
  // Content-stream text walk
  // ---------------------------------------------------------------

  private def decodeString(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      new String(b, 2, b.length - 2, "UTF-16BE")
    else new String(b, "ISO-8859-1") // PDFDocEncoding ≈ Latin-1 in the text range

  /** How one font turns show-string bytes into text. Real PDFs with
    * embedded subset fonts map GLYPH INDICES, not characters — without
    * this layer their "text" extracts as byte salad with no reject.
    */
  sealed trait FontDec
  /** Standard/PDFDoc encoding: the [[decodeString]] Latin-1 + BOM path. */
  case object StdDec extends FontDec
  /** A named simple-font encoding backed by a JVM charset. */
  final case class CharsetDec(charset: String) extends FontDec
  /** A parsed `/ToUnicode` CMap: fixed code width in bytes + code→text. */
  final case class CMapDec(codeLen: Int, map: Map[Int, String]) extends FontDec
  /** A base encoding with `/Differences` code overrides resolved
    * through the standard glyph-name table.
    */
  final case class DiffDec(base: FontDec, overrides: Map[Int, String]) extends FontDec

  /** The standard glyph-name table — the PUBLIC Adobe Glyph List's
    * Latin repertoire: ASCII and Latin-1 names generated in codepoint
    * order plus the common typographic names, enough to decode the
    * `/Differences` arrays simple-font producers emit (re-encoded
    * subsets of Standard/WinAnsi). Names outside the table reject at
    * parse: a symbol, dingbat, or subset-private glyph has no honest
    * text form here.
    */
  private val GlyphNames: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    def run(from: Int, names: String): Unit =
      names.split(" ").zipWithIndex.foreach { case (n, i) =>
        b += n -> (from + i).toChar.toString
      }
    run(0x20, "space exclam quotedbl numbersign dollar percent ampersand " +
      "quotesingle parenleft parenright asterisk plus comma hyphen period slash " +
      "zero one two three four five six seven eight nine " +
      "colon semicolon less equal greater question at")
    (0x41 to 0x5a).foreach(c => b += c.toChar.toString -> c.toChar.toString)
    run(0x5b, "bracketleft backslash bracketright asciicircum underscore grave")
    (0x61 to 0x7a).foreach(c => b += c.toChar.toString -> c.toChar.toString)
    run(0x7b, "braceleft bar braceright asciitilde")
    run(0xa1, "exclamdown cent sterling currency yen brokenbar section dieresis " +
      "copyright ordfeminine guillemotleft logicalnot")
    run(0xae, "registered macron degree plusminus twosuperior threesuperior acute")
    run(0xb6, "paragraph periodcentered cedilla onesuperior ordmasculine " +
      "guillemotright onequarter onehalf threequarters questiondown " +
      "Agrave Aacute Acircumflex Atilde Adieresis Aring AE Ccedilla " +
      "Egrave Eacute Ecircumflex Edieresis Igrave Iacute Icircumflex Idieresis " +
      "Eth Ntilde Ograve Oacute Ocircumflex Otilde Odieresis multiply Oslash " +
      "Ugrave Uacute Ucircumflex Udieresis Yacute Thorn germandbls " +
      "agrave aacute acircumflex atilde adieresis aring ae ccedilla " +
      "egrave eacute ecircumflex edieresis igrave iacute icircumflex idieresis " +
      "eth ntilde ograve oacute ocircumflex otilde odieresis divide oslash " +
      "ugrave uacute ucircumflex udieresis yacute thorn ydieresis")
    Seq("quoteleft" -> 0x2018, "quoteright" -> 0x2019, "quotedblleft" -> 0x201c,
      "quotedblright" -> 0x201d, "quotesinglbase" -> 0x201a, "quotedblbase" -> 0x201e,
      "endash" -> 0x2013, "emdash" -> 0x2014, "bullet" -> 0x2022,
      "dagger" -> 0x2020, "daggerdbl" -> 0x2021, "ellipsis" -> 0x2026,
      "perthousand" -> 0x2030, "guilsinglleft" -> 0x2039, "guilsinglright" -> 0x203a,
      "trademark" -> 0x2122, "Euro" -> 0x20ac, "florin" -> 0x0192,
      "fraction" -> 0x2044, "fi" -> 0xfb01, "fl" -> 0xfb02, "minus" -> 0x2212,
      "dotlessi" -> 0x0131, "OE" -> 0x0152, "oe" -> 0x0153,
      "Scaron" -> 0x0160, "scaron" -> 0x0161, "Zcaron" -> 0x017d,
      "zcaron" -> 0x017e, "Ydieresis" -> 0x0178, "Lslash" -> 0x0141,
      "lslash" -> 0x0142, "circumflex" -> 0x02c6, "tilde" -> 0x02dc,
      "breve" -> 0x02d8, "dotaccent" -> 0x02d9, "ring" -> 0x02da,
      "ogonek" -> 0x02db, "hungarumlaut" -> 0x02dd, "caron" -> 0x02c7)
      .foreach { case (n, cp) => b += n -> cp.toChar.toString }
    b.result()
  }

  /** Parse a §9.6.6.3 `/Differences` array — integers reset the
    * current code, names assign consecutive codes — into byte-code
    * overrides. Unknown glyph names, out-of-range codes, and a name
    * before any code reject loudly.
    */
  private def diffOverrides(items: Vector[PVal], fontName: String): Map[Int, String] = {
    val m = scala.collection.mutable.Map.empty[Int, String]
    var code = -1
    items.foreach {
      case n: PNum =>
        code = n.int.toInt
        require(code >= 0 && code <= 255,
          s"pdf: /Differences code $code outside the byte range")
      case PName(g) =>
        require(code >= 0, s"pdf: /Differences name /$g before any code")
        require(code <= 255, "pdf: /Differences run past code 255")
        m(code) = GlyphNames.getOrElse(g,
          fail(s"glyph name /$g of font /$fontName not in the standard glyph table"))
        code += 1
      case other => fail(s"/Differences holds $other")
    }
    m.toMap
  }

  private def decodeWith(dec: FontDec, b: Array[Byte]): String = dec match {
    case StdDec => decodeString(b)
    case CharsetDec(cs) => new String(b, cs)
    case DiffDec(base, m) =>
      val sb = new StringBuilder
      b.foreach { byte =>
        m.get(byte & 0xff) match {
          case Some(s) => sb.append(s)
          case None => sb.append(decodeWith(base, Array(byte)))
        }
      }
      sb.toString
    case CMapDec(len, m) =>
      require(b.length % len == 0,
        s"pdf: shown string of ${b.length} bytes is not whole $len-byte codes")
      val sb = new StringBuilder
      var i = 0
      while (i < b.length) {
        var code = 0
        var k = 0
        while (k < len) { code = (code << 8) | (b(i + k) & 0xff); k += 1 }
        sb.append(m.getOrElse(code,
          fail(f"code 0x$code%04X not in the font's /ToUnicode CMap")))
        i += len
      }
      sb.toString
  }

  /** Parse a `/ToUnicode` CMap stream (the Adobe CMap grammar the PDF
    * spec §9.10.3 references): `codespacerange` fixes the code width,
    * `bfchar` maps single codes, `bfrange` maps runs — to a UTF-16BE
    * destination string, or per-code destinations from an array.
    * Mixed code widths reject loudly (one width covers real subset
    * CMaps); the PostScript boilerplate around the sections is skipped
    * as bare operator tokens.
    */
  private def parseToUnicode(bytes: Array[Byte], fontName: String): CMapDec = {
    val lx = new Lexer(bytes, 0, ops = true)
    var codeLen = -1
    val m = scala.collection.mutable.Map.empty[Int, String]
    def setLen(l: Int): Unit = {
      require(l >= 1 && l <= 4, s"pdf: /ToUnicode code width $l unsupported")
      if (codeLen < 0) codeLen = l
      else require(codeLen == l,
        s"pdf: /ToUnicode of font /$fontName mixes code widths ($codeLen and $l)")
    }
    def str(v: PVal, what: String): PStr = v match {
      case s: PStr => s
      case other => fail(s"/ToUnicode $what is not a string (got $other)")
    }
    def codeOf(v: PVal, what: String): Int = {
      val s = str(v, what)
      setLen(s.bytes.length)
      s.bytes.foldLeft(0)((acc, b) => (acc << 8) | (b & 0xff))
    }
    def utf16Of(v: PVal, what: String): String =
      new String(str(v, what).bytes, "UTF-16BE")
    def section(end: String)(one: PVal => Unit): Unit = {
      var v = lx.parseValue()
      while (v != POp(end)) { one(v); v = lx.parseValue() }
    }
    while (!lx.atEnd) {
      lx.parseValue() match {
        case POp("begincodespacerange") => section("endcodespacerange") { lo =>
          codeOf(lo, "codespace low"); codeOf(lx.parseValue(), "codespace high")
        }
        case POp("beginbfchar") => section("endbfchar") { src =>
          m(codeOf(src, "bfchar source")) = utf16Of(lx.parseValue(), "bfchar destination")
        }
        case POp("beginbfrange") => section("endbfrange") { loV =>
          val lo = codeOf(loV, "bfrange low")
          val hi = codeOf(lx.parseValue(), "bfrange high")
          require(hi >= lo && hi - lo < (1 << 16),
            s"pdf: /ToUnicode bfrange $lo..$hi inverted or oversized")
          lx.parseValue() match {
            case PArr(items) =>
              require(items.length == hi - lo + 1,
                s"pdf: bfrange of ${hi - lo + 1} codes with ${items.length} destinations")
              items.zipWithIndex.foreach { case (dst, k) =>
                m(lo + k) = utf16Of(dst, "bfrange destination")
              }
            case dst =>
              val base = utf16Of(dst, "bfrange destination")
              require(base.nonEmpty, "pdf: empty bfrange destination")
              (0 to hi - lo).foreach { k =>
                // spec: the run increments the LAST code unit only
                val chars = base.toCharArray
                chars(chars.length - 1) = (chars(chars.length - 1) + k).toChar
                m(lo + k) = new String(chars)
              }
          }
        }
        case _ => () // CIDInit boilerplate, dict values, endcmap, ...
      }
    }
    require(codeLen > 0, s"pdf: /ToUnicode of font /$fontName declares no codespace")
    CMapDec(codeLen, m.toMap)
  }

  /** Text shown by one decoded content stream: `Tj`/`'`/`"` and `TJ`
    * emit onto the current line; `Td`/`TD`/`T*`/`Tm`/`'`/`"` start a
    * new line — EXCEPT moves that provably stay on the current
    * baseline (`tx 0 Td`, and a `Tm` whose y translation equals the
    * tracked baseline), the shape justified-text producers emit per
    * word; leading-relative moves (`T*`, `'`, `"`) reset the tracked
    * baseline to unknown and so always break. `BT`/`ET` flush.
    * Positioning numbers inside `TJ` arrays are kerning, not text.
    * Inline images (`BI`) reject loudly — their binary payload is not
    * tokenizable. `fonts` supplies the page's `/Resources /Font`
    * decoders, tracked through `Tf`: a `Tf` naming a font the
    * resources don't carry rejects loudly; with no fonts (the
    * resource-less fixture profile) bytes decode standard.
    */
  def textOf(content: Array[Byte], fonts: Map[String, FontDec] = Map.empty): String = {
    val lx = new Lexer(content, 0, ops = true)
    val operands = scala.collection.mutable.ArrayBuffer.empty[PVal]
    val lines = Vector.newBuilder[String]
    val line = new StringBuilder
    var cur: FontDec = StdDec
    // the current baseline's y translation, when the walk can know it:
    // Tm sets it absolutely, Td/TD shift it, BT / T* / ' / " (leading-
    // relative moves this walk doesn't track) reset it to unknown
    var curTy: Option[Double] = None
    def newline(): Unit =
      if (line.nonEmpty) { lines += line.toString; line.clear() }
    def numOperand(v: PVal, op: String): Double = v match {
      case PNum(n) => n
      case other => fail(s"$op operand is not a number (got $other)")
    }
    def show(v: PVal): Unit = v match {
      case PStr(b) => line.append(decodeWith(cur, b))
      case other => fail(s"text operator on non-string operand $other")
    }
    while (!lx.atEnd) {
      lx.parseValue() match {
        case POp(op) =>
          op match {
            case "Tj" =>
              require(operands.nonEmpty, "pdf: Tj without an operand")
              show(operands.last)
            case "'" =>
              require(operands.nonEmpty, "pdf: ' without an operand")
              newline(); curTy = None; show(operands.last)
            case "\"" =>
              require(operands.length >= 3, "pdf: \" without 3 operands")
              newline(); curTy = None; show(operands.last)
            case "TJ" =>
              operands.lastOption match {
                case Some(PArr(items)) =>
                  items.foreach { case s: PStr => show(s); case _: PNum => (); case other =>
                    fail(s"TJ array holds $other") }
                case other => fail(s"TJ without an array operand (got $other)")
              }
            // Td/TD and Tm are line advances too (many producers set
            // every line with a fresh matrix) — EXCEPT when the move
            // stays on the current baseline: justified text positions
            // each word with `tx 0 Td` or a same-ty Tm, and breaking
            // there would sprinkle spurious newlines through the line
            case "Td" | "TD" =>
              require(operands.length >= 2, s"pdf: $op without 2 operands")
              val ty = numOperand(operands.last, op)
              if (ty != 0) { newline(); curTy = curTy.map(_ + ty) }
            case "T*" => newline(); curTy = None
            case "Tm" =>
              require(operands.length >= 6, "pdf: Tm without 6 operands")
              val ty = numOperand(operands.last, "Tm")
              if (!curTy.contains(ty)) newline()
              curTy = Some(ty)
            case "Tf" if fonts.nonEmpty =>
              operands.headOption match {
                case Some(PName(fname)) =>
                  cur = fonts.getOrElse(fname,
                    fail(s"Tf selects font /$fname, absent from /Resources /Font"))
                case other => fail(s"Tf without a font name operand (got $other)")
              }
            case "BT" | "ET" => newline(); curTy = None
            case "BI" => fail("inline image (BI) unsupported")
            case _ => () // every other operator is graphics state — no text
          }
          operands.clear()
        case v => operands += v
      }
    }
    newline()
    val all = lines.result()
    all.mkString("\n")
  }

  /** Per-page extracted text, in document page order. */
  def extractPages(pdf: Array[Byte]): Vector[String] = {
    val doc = new Document(pdf)
    doc.pages().map(p => textOf(doc.pageContent(p), doc.pageFonts(p)))
  }

  /** Whole-document text: pages joined with a newline. */
  def extractText(pdf: Array[Byte]): String = extractPages(pdf).mkString("\n")

  // ---------------------------------------------------------------
  // Writer (fixtures + pdf_files_ingest landing)
  // ---------------------------------------------------------------

  /** Real `java.util.zip.Deflater` zlib (dynamic Huffman — the leg the
    * SQL-emitted stored-block fixture cannot reach).
    */
  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val bo = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
    d.end()
    bo.toByteArray
  }

  /** Predictor-12 (PNG Up) ENCODE: each `rowLen`-byte row prefixed with
    * filter byte 2 and delta'd against the previous row — the inverse
    * of what [[pngUnpredict]] reverses.
    */
  private def pred12(rows: Array[Byte], rowLen: Int): Array[Byte] = {
    val n = rows.length / rowLen
    val out = new Array[Byte](n * (rowLen + 1))
    var r = 0
    while (r < n) {
      out(r * (rowLen + 1)) = 2
      var i = 0
      while (i < rowLen) {
        val up = if (r > 0) rows((r - 1) * rowLen + i) else 0
        out(r * (rowLen + 1) + 1 + i) = (rows(r * rowLen + i) - up).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** Build a real PDF with one page per entry; each page shows its
    * lines as literal-string `Tj` runs separated by `Td` line advances.
    * `flate` wraps every content stream in a REAL [[deflate]] zlib
    * stream. `xrefStream` emits the PDF 1.5 compressed layout instead
    * of a classic table: catalog/pages/font packed into a `/Type
    * /ObjStm` object stream (type-2 entries) and a `/Type /XRef`
    * cross-reference stream with `/W [1 4 2]` rows under `/Predictor
    * 12` PNG-Up prediction — the majority shape of the modern PDF
    * corpus. ASCII-only input (the callers feed hex/digits); offsets
    * are computed while emitting, so the writer is exact by
    * construction.
    */
  def buildPdf(pages: Seq[Seq[String]], flate: Boolean,
      xrefStream: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    w(if (xrefStream) "%PDF-1.5\n" else "%PDF-1.4\n")
    val nPages = pages.length
    // object numbering: 1 catalog, 2 pages, 3 font, then per page i:
    // 4+2i page, 5+2i content; the compressed layout appends
    // nObjs+1 = the ObjStm, nObjs+2 = the xref stream
    def pageObj(i: Int) = 4 + 2 * i
    def contObj(i: Int) = 5 + 2 * i
    val nObjs = 3 + 2 * nPages
    def obj(num: Int)(body: => Unit): Unit = {
      offsets(num) = out.size()
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    val kids = (0 until nPages).map(i => s"${pageObj(i)} 0 R").mkString(" ")
    val fixed = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>",
      3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    if (!xrefStream) fixed.foreach { case (n, body) => obj(n)(w(body + "\n")) }
    pages.zipWithIndex.foreach { case (lines, i) =>
      obj(pageObj(i))(w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${contObj(i)} 0 R >>\n"))
      val body = new StringBuilder("BT /F1 12 Tf 72 720 Td ")
      lines.zipWithIndex.foreach { case (l, j) =>
        if (j > 0) body.append(" 0 -14 Td ")
        body.append(s"($l) Tj")
      }
      body.append(" ET")
      val raw = body.toString.getBytes("US-ASCII")
      val data = if (!flate) raw else deflate(raw)
      obj(contObj(i)) {
        val filter = if (flate) " /Filter /FlateDecode" else ""
        w(s"<< /Length ${data.length}$filter >>\nstream\n")
        out.write(data)
        w("\nendstream\n")
      }
    }
    if (!xrefStream) {
      val xrefAt = out.size()
      w(s"xref\n0 ${nObjs + 1}\n")
      w("0000000000 65535 f \n")
      (1 to nObjs).foreach(n => w(f"${offsets(n)}%010d 00000 n \n"))
      w(s"trailer\n<< /Size ${nObjs + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
      return out.toByteArray
    }
    // --- compressed layout tail: ObjStm + Predictor-12 xref stream ---
    val stmNum = nObjs + 1
    val xrefNum = nObjs + 2
    val header = new StringBuilder
    val payload = new StringBuilder
    fixed.foreach { case (n, body) =>
      header.append(s"$n ${payload.length} ")
      payload.append(body).append("\n")
    }
    val first = header.length
    val stmData = deflate((header.toString + payload.toString).getBytes("US-ASCII"))
    obj(stmNum) {
      w(s"<< /Type /ObjStm /N ${fixed.length} /First $first " +
        s"/Length ${stmData.length} /Filter /FlateDecode >>\nstream\n")
      out.write(stmData)
      w("\nendstream\n")
    }
    offsets(xrefNum) = out.size()
    val size = xrefNum + 1
    val rows = new Array[Byte](size * 7) // W [1 4 2]
    def put(num: Int, t: Int, f2: Long, f3: Int): Unit = {
      val p = num * 7
      rows(p) = t.toByte
      rows(p + 1) = (f2 >> 24).toByte; rows(p + 2) = (f2 >> 16).toByte
      rows(p + 3) = (f2 >> 8).toByte; rows(p + 4) = f2.toByte
      rows(p + 5) = (f3 >> 8).toByte; rows(p + 6) = f3.toByte
    }
    put(0, 0, 0, 0xffff)
    fixed.map(_._1).zipWithIndex.foreach { case (n, i) => put(n, 2, stmNum, i) }
    (4 to nObjs).foreach(n => put(n, 1, offsets(n), 0))
    put(stmNum, 1, offsets(stmNum), 0)
    put(xrefNum, 1, offsets(xrefNum), 0)
    val xd = deflate(pred12(rows, 7))
    w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >> " +
      s"/Length ${xd.length} >>\nstream\n")
    out.write(xd)
    w(s"\nendstream\nendobj\nstartxref\n${offsets(xrefNum)}\n%%EOF\n")
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Front doors: PDF buckets → documents rows
  // ---------------------------------------------------------------

  // One row per PAGE: doc_id slot = page index (a real PDF corpus runs to
  // thousands of pages, 16M is generous headroom), text = the page's
  // extracted text, source = `<file name>#page=<n>` (1-based, the URL
  // fragment convention viewers use). Both walks hold the whole file:
  // random access is inherent to the format (the xref lives at the
  // tail), the same per-task memory contract as [[Zip.entriesFromFile]].

  protected def label = "pdf"
  protected def fileRe = "([0-9]+)\\.pdf"
  protected def bytesWalk(bytes: Array[Byte]) = extractPages(bytes).iterator
  protected def pathWalk(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path) = {
    val len = fs.getFileStatus(path).getLen
    // one file must land in one JVM array — the same in-memory bound
    // Zip's central-directory read enforces; without it a >2 GiB file
    // throws a cryptic NegativeArraySizeException and a >4 GiB one
    // silently truncates to a stale earlier %%EOF
    require(len <= Int.MaxValue,
      s"pdf: file $path too large ($len bytes) for the in-memory walk")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try in.readFully(0, bytes) finally in.close()
    bytesWalk(bytes)
  }
  protected def doc(file: String, slot: Int, page: String) =
    Some((page, "und", s"$file#page=${slot + 1}"))

  // ---------------------------------------------------------------
  // pdf_text_extract: the SQL-emitted fixture, raw + FlateDecode legs
  // ---------------------------------------------------------------

  /** Fixture geometry: line 1 shows hex of text bytes [0,48) via a
    * literal-string `Tj`; line 2 shows hex of bytes [16,64) — the first
    * 48 hex chars as a literal string and the next 48 as a PDF HEX
    * string — inside one `TJ` array with a kerning number between, so
    * both string syntaxes and the kerning-skip are load-bearing.
    */
  private val NeedBytes = 64
  private val L1Hex = 96 // hex chars shown on line 1
  private val H1Hex = 48 // literal piece of line 2
  private val H2Hex = 48 // hex-string piece of line 2

  private val ContentPre = "BT /F1 12 Tf 72 720 Td ("
  private val ContentMid1 = ") Tj 0 -14 Td [("
  private val ContentMid2 = ") -120 <"
  private val ContentPost = ">] TJ ET"

  /** Raw content-stream length: literal pieces count their own chars;
    * the PDF hex string carries 2 file chars per shown char.
    */
  private val RawLen = ContentPre.length + L1Hex + ContentMid1.length + H1Hex +
    ContentMid2.length + 2 * H2Hex + ContentPost.length
  private val ZlibLen = RawLen + 11 // 2 CMF/FLG + 5 stored header + 4 adler

  /** Constant skeleton around the content stream: (hexA, hexB) with the
    * stream data spliced between. Offsets accumulate while building, so
    * the xref is exact by construction — same discipline as [[buildPdf]]
    * but emitted as compile-time hex for the SQL fixture.
    */
  private def skeleton(dataLen: Int, lengthField: String): (String, String) = {
    val objs = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    val a = new StringBuilder
    def add(num: Int, s: String): Unit = { objs(num) = a.length; a.append(s) }
    a.append("%PDF-1.4\n")
    add(1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    add(2, "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    add(3, "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>\nendobj\n")
    add(4, "4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
    add(5, s"5 0 obj\n<< /Length $lengthField >>\nstream\n")
    val b = new StringBuilder
    val bBase = a.length + dataLen
    b.append("\nendstream\nendobj\n")
    objs(6) = bBase + b.length
    b.append(s"6 0 obj\n$dataLen\nendobj\n")
    val xrefAt = bBase + b.length
    b.append("xref\n0 7\n0000000000 65535 f \n")
    (1 to 6).foreach(n => b.append(f"${objs(n)}%010d 00000 n \n"))
    b.append(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    (hexOf(a.toString), hexOf(b.toString))
  }

  /** SQL fragment: hex of the raw content stream for the current row
    * (column `h` = hex of the document bytes). Literal pieces splice the
    * shown hex chars as ASCII (hex-of-hex); the PDF hex string carries
    * hex-of-hex-of-hex — each layer is just `hex(cast(_ as binary))`.
    */
  private val contentHexSql = {
    def ascii(sql: String) = s"hex(cast($sql as binary))"
    s"concat('${hexOf(ContentPre)}', ${ascii("substring(h, 1, 96)")}, " +
      s"'${hexOf(ContentMid1)}', ${ascii("substring(h, 33, 48)")}, " +
      s"'${hexOf(ContentMid2)}', ${ascii(ascii("substring(h, 81, 48)"))}, " +
      s"'${hexOf(ContentPost)}')"
  }

  /** zlib wrapper in SQL: 78 01, one stored block, Adler-32 via the
    * codegen'd [[graft.functions.Adler32Fn]] kernel over the content
    * bytes (r18 optimization — this was two interpreted per-byte
    * `aggregate(sequence(...))` folds re-parsing every byte with
    * `conv(substring(...))`, the measured dominant cost of the flate
    * legs; the JDK Adler and the decoder's `Inflater` stay independent
    * implementations, so a checksum bug still rejects loudly).
    */
  private val zlibHexSql = {
    val n = RawLen
    val lenHex = "%02X%02X".format(n & 0xff, n >> 8)
    val nlenHex = "%02X%02X".format(~n & 0xff, (~n >> 8) & 0xff)
    s"concat('7801', '01$lenHex$nlenHex', ch, lpad(hex(adler32(unhex(ch))), 8, '0'))"
  }

  /** `pdf_text_extract`: the PDF landing format parsed END TO END. Spark
    * BUILDS a genuine one-page PDF per document in pure SQL — constant
    * object layout, exact xref offsets, indirect `/Length` on the flate
    * leg — and parses it back through the PRODUCTION walk
    * ([[extractPages]]): header, xref, trailer, page tree, content
    * decode, text operators. Even doc_ids carry a raw content stream
    * with a direct `/Length`; odd doc_ids a REAL zlib FlateDecode stream
    * (stored block, arithmetic Adler-32) with `/Length` behind an
    * indirect reference — so both length paths and both codec paths are
    * load-bearing. The oracle recomputes the shown text (two lines of
    * document-byte hex) straight from the bytes; an offset, filter,
    * string-escape, kerning, or page-walk bug lands as a value mismatch
    * or a loud reject. One leg per projection, unioned (the measured
    * WARC codegen lesson).
    */
  def pdfTextExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (rawA, rawB) = skeleton(RawLen, RawLen.toString)
    val (flA, flB) = skeleton(ZlibLen, "6 0 R /Filter /FlateDecode")
    def leg(parity: Int, hexA: String, hexB: String, dataHex: String) =
      Tables.documents(spark, sfDir)
        .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 2 === parity)
        .withColumn("h", expr("hex(cast(text as binary))"))
        .withColumn("ch", expr(contentHexSql))
        .select(col("doc_id"),
          unhex(concat(lit(hexA), expr(dataHex), lit(hexB))).as("payload"))
    val framed = leg(0, rawA, rawB, "ch").unionByName(leg(1, flA, flB, zlibHexSql))
    framed.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val pages = extractPages(payload)
        require(pages.length == 1, s"pdf fixture $id: expected 1 page, got ${pages.length}")
        (id, pages.head)
      })
      .toDF("doc_id", "page_text")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("raw")).otherwise(lit("flate")).as("codec"),
        col("page_text"))
      .orderBy("doc_id")
  }

  private val pdfTextExtractSql =
    s"""SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'raw' ELSE 'flate' END AS codec,
               substring(h, 1, 96) || chr(10) || substring(h, 33, 96) AS page_text
        FROM (SELECT doc_id, hex(encode(text)) AS h FROM documents
              WHERE octet_length(encode(text)) >= $NeedBytes)
        ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // pdf_xref_stream_extract: the PDF 1.5 compressed-layout fixture
  // ---------------------------------------------------------------

  private def hexBytes(bs: Array[Byte]): String =
    bs.map("%02X".format(_)).mkString

  /** Constant skeleton around the content stream for the xref-STREAM
    * fixture legs: (hexA, hexB) with the content bytes spliced between
    * — the [[skeleton]] discipline, but the cross-reference is a
    * §7.5.8 STREAM instead of a classic table. `objStm = false`: an
    * UNFILTERED xref stream, every object type 1. `objStm = true`:
    * catalog/pages/font packed into a FlateDecode `/Type /ObjStm`
    * (type-2 entries) and the xref stream FlateDecode under
    * `/Predictor 12` PNG-Up prediction — the modern-producer shape.
    * Binary sections (xref rows, deflate output) are constant because
    * the content length is constant per leg, so they emit as
    * driver-computed hex and the SQL only splices the content.
    */
  private def xrefSkeleton(dataLen: Int, objStm: Boolean): (String, String) = {
    val a = new java.io.ByteArrayOutputStream()
    val b = new java.io.ByteArrayOutputStream()
    def wa(s: String): Unit = a.write(s.getBytes("US-ASCII"))
    def wb(s: String): Unit = b.write(s.getBytes("US-ASCII"))
    val off = scala.collection.mutable.Map.empty[Int, Int]
    val cat = "<< /Type /Catalog /Pages 2 0 R >>"
    val pgs = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val fnt = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val page = "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"
    wa("%PDF-1.5\n")
    def objA(n: Int, body: String): Unit = {
      off(n) = a.size(); wa(s"$n 0 obj\n$body\nendobj\n")
    }
    if (!objStm) { objA(1, cat); objA(2, pgs); objA(4, fnt) }
    objA(3, page)
    off(5) = a.size()
    wa(s"5 0 obj\n<< /Length $dataLen >>\nstream\n")
    val bBase = a.size() + dataLen // part-B offsets are bBase + position
    wb("\nendstream\nendobj\n")
    if (objStm) {
      val header = new StringBuilder
      val payload = new StringBuilder
      Seq(1 -> cat, 2 -> pgs, 4 -> fnt).foreach { case (n, body) =>
        header.append(s"$n ${payload.length} ")
        payload.append(body).append("\n")
      }
      val stmData = deflate((header.toString + payload.toString).getBytes("US-ASCII"))
      off(7) = bBase + b.size()
      wb(s"7 0 obj\n<< /Type /ObjStm /N 3 /First ${header.length} " +
        s"/Length ${stmData.length} /Filter /FlateDecode >>\nstream\n")
      b.write(stmData)
      wb("\nendstream\nendobj\n")
    }
    off(6) = bBase + b.size()
    val size = if (objStm) 8 else 7
    val rows = new Array[Byte](size * 7) // W [1 4 2]
    def put(num: Int, t: Int, f2: Int, f3: Int): Unit = {
      val p = num * 7
      rows(p) = t.toByte
      rows(p + 1) = (f2 >> 24).toByte; rows(p + 2) = (f2 >> 16).toByte
      rows(p + 3) = (f2 >> 8).toByte; rows(p + 4) = f2.toByte
      rows(p + 5) = (f3 >> 8).toByte; rows(p + 6) = f3.toByte
    }
    put(0, 0, 0, 0xffff)
    if (objStm) { put(1, 2, 7, 0); put(2, 2, 7, 1); put(4, 2, 7, 2); put(7, 1, off(7), 0) }
    else { put(1, 1, off(1), 0); put(2, 1, off(2), 0); put(4, 1, off(4), 0) }
    put(3, 1, off(3), 0); put(5, 1, off(5), 0); put(6, 1, off(6), 0)
    val (data, parms) =
      if (!objStm) (rows, "")
      else (deflate(pred12(rows, 7)),
        " /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >>")
    wb(s"6 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] /Root 1 0 R$parms " +
      s"/Length ${data.length} >>\nstream\n")
    b.write(data)
    wb(s"\nendstream\nendobj\nstartxref\n${off(6)}\n%%EOF\n")
    (hexBytes(a.toByteArray), hexBytes(b.toByteArray))
  }

  /** `pdf_xref_stream_extract`: the PDF 1.5 COMPRESSED layout parsed
    * end to end — the [[pdfTextExtract]] discipline pointed at the
    * cross-reference machinery instead of the content codecs (content
    * stays raw with a direct `/Length`; those legs are already pinned).
    * Even doc_ids carry an UNFILTERED `/Type /XRef` stream with every
    * object type 1; odd doc_ids a `/Predictor 12` FlateDecode xref
    * stream whose catalog/pages/font live in a FlateDecode ObjStm
    * behind type-2 entries. The oracle recomputes the shown text
    * straight from the bytes, so a `/W` row decode, predictor,
    * `/Index`, ObjStm header, or type-2 lookup bug lands as a value
    * mismatch or a loud reject.
    */
  def pdfXrefStreamExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (plainA, plainB) = xrefSkeleton(RawLen, objStm = false)
    val (osA, osB) = xrefSkeleton(RawLen, objStm = true)
    def leg(parity: Int, hexA: String, hexB: String) =
      Tables.documents(spark, sfDir)
        .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 2 === parity)
        .withColumn("h", expr("hex(cast(text as binary))"))
        .withColumn("ch", expr(contentHexSql))
        .select(col("doc_id"),
          unhex(concat(lit(hexA), col("ch"), lit(hexB))).as("payload"))
    val framed = leg(0, plainA, plainB).unionByName(leg(1, osA, osB))
    framed.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val pages = extractPages(payload)
        require(pages.length == 1, s"pdf fixture $id: expected 1 page, got ${pages.length}")
        (id, pages.head)
      })
      .toDF("doc_id", "page_text")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("xrefstm")).otherwise(lit("objstm")).as("layout"),
        col("page_text"))
      .orderBy("doc_id")
  }

  private val pdfXrefStreamExtractSql =
    s"""SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'xrefstm' ELSE 'objstm' END AS layout,
               substring(h, 1, 96) || chr(10) || substring(h, 33, 96) AS page_text
        FROM (SELECT doc_id, hex(encode(text)) AS h FROM documents
              WHERE octet_length(encode(text)) >= $NeedBytes)
        ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // pdf_info_extract: the /Info metadata fixture
  // ---------------------------------------------------------------

  private val InfoTitleW = 48 // hex of the document's first 24 bytes
  private val InfoAuthorW = 12 // zero-padded doc_id
  private val InfoYearW = 4 // 2000 + doc_id % 26

  /** Constant skeleton for the metadata fixture: four hex segments
    * around the three spliced CONSTANT-WIDTH `/Info` fields (48-char
    * title, 12-char author, 4-digit year inside a `D:` date), built by
    * laying the file out with sentinel runs of the real widths and
    * splitting at them — so every xref offset is constant by
    * construction, the [[skeleton]] discipline.
    */
  private def infoSkeleton(): Seq[String] = {
    val t = "\u0001" * InfoTitleW
    val a = "\u0002" * InfoAuthorW
    val y = "\u0003" * InfoYearW
    val content = "BT (m) Tj ET"
    val sb = new StringBuilder
    val off = scala.collection.mutable.ArrayBuffer.empty[Int]
    def obj(body: String): Unit = { off += sb.length; sb.append(body) }
    sb.append("%PDF-1.4\n")
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    obj("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    obj(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    obj(s"5 0 obj\n<< /Title ($t) /Author ($a) " +
      s"/CreationDate (D:${y}0101000000) >>\nendobj\n")
    val xrefAt = sb.length
    sb.append("xref\n0 6\n0000000000 65535 f \n")
    off.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size 6 /Root 1 0 R /Info 5 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val s = sb.toString
    val i1 = s.indexOf(t); val i2 = s.indexOf(a); val i3 = s.indexOf(y)
    Seq(s.substring(0, i1), s.substring(i1 + t.length, i2),
      s.substring(i2 + a.length, i3), s.substring(i3 + y.length)).map(hexOf)
  }

  /** `pdf_info_extract`: the PDF METADATA front door — corpus
    * provenance (who produced a document, when) is a first-class
    * training-data filter, and the `/Info` dictionary is where the PDF
    * format carries it. Spark BUILDS one PDF per document in pure SQL
    * with /Title (hex of the first 24 bytes), /Author (zero-padded
    * doc_id), and a `D:` /CreationDate whose year derives from the
    * doc_id, then parses them back through the PRODUCTION walk
    * ([[docMeta]]): trailer /Info resolution, string decode, date-year
    * parse, and the page-tree count. The oracle recomputes every field
    * straight from the documents row — an /Info lookup, string-escape,
    * or date-parse bug lands as a value mismatch or a loud reject.
    */
  def pdfInfoExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val segs = infoSkeleton()
    Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= 24)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), unhex(concat(
        lit(segs(0)), expr("hex(cast(substring(h, 1, 48) as binary))"),
        lit(segs(1)), expr("hex(cast(lpad(cast(doc_id as string), 12, '0') as binary))"),
        lit(segs(2)), expr("hex(cast(cast(2000 + doc_id % 26 as string) as binary))"),
        lit(segs(3)))).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (title, author, year, nPages) = docMeta(payload)
        (id, title, author, year, nPages)
      })
      .toDF("doc_id", "title", "author", "created_year", "n_pages")
      .orderBy("doc_id")
  }

  private val pdfInfoExtractSql =
    s"""SELECT doc_id,
               substring(hex(encode(text)), 1, 48) AS title,
               lpad(CAST(doc_id AS VARCHAR), 12, '0') AS author,
               CAST(2000 + doc_id % 26 AS INT) AS created_year,
               CAST(1 AS INT) AS n_pages
        FROM documents
        WHERE octet_length(encode(text)) >= 24
        ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // pdf_links_extract: the /Annots URI-link fixture
  // ---------------------------------------------------------------

  private val LinkHexW = 48 // hex of the document's first 24 bytes
  private val LinkIdW = 12 // zero-padded doc_id

  /** Constant skeleton for the link fixture: one page carrying three
    * annotations — a `/Link` with a URI action whose tail is the
    * 48-char hex sentinel, a `/Text` note (non-link furniture the
    * walk must SKIP), and a second `/Link` whose URI tail is the
    * 12-char id sentinel — laid out with sentinel runs of the real
    * widths and split at them, so every xref offset is constant by
    * construction (the [[infoSkeleton]] discipline). The second link's
    * action is INDIRECT (object 7) so reference-valued `/A` is
    * load-bearing too.
    */
  private def linkSkeleton(): Seq[String] = {
    val t1 = "\u0001" * LinkHexW
    val t2 = "\u0002" * LinkIdW
    val sb = new StringBuilder
    val off = scala.collection.mutable.ArrayBuffer.empty[Int]
    def obj(body: String): Unit = { off += sb.length; sb.append(body) }
    sb.append("%PDF-1.4\n")
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    obj("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
      "/Annots [4 0 R 5 0 R 6 0 R] >>\nendobj\n")
    obj("4 0 obj\n<< /Type /Annot /Subtype /Link /Rect [0 0 100 20] " +
      s"/A << /S /URI /URI (https://x.test/$t1) >> >>\nendobj\n")
    obj("5 0 obj\n<< /Type /Annot /Subtype /Text /Rect [0 40 20 60] " +
      "/Contents (reviewer note, not a link) >>\nendobj\n")
    obj("6 0 obj\n<< /Type /Annot /Subtype /Link /Rect [0 20 100 40] " +
      "/A 7 0 R >>\nendobj\n")
    obj(s"7 0 obj\n<< /S /URI /URI (https://y.test/d/$t2) >>\nendobj\n")
    val xrefAt = sb.length
    sb.append("xref\n0 8\n0000000000 65535 f \n")
    off.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size 8 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val s = sb.toString
    val i1 = s.indexOf(t1); val i2 = s.indexOf(t2)
    Seq(s.substring(0, i1), s.substring(i1 + t1.length, i2),
      s.substring(i2 + t2.length)).map(hexOf)
  }

  /** `pdf_links_extract`: the PDF side of the corpus LINK GRAPH —
    * outbound URI references are a first-class crawl/provenance signal
    * (the HTML path's `html_anchor_texts` sibling), and `/Annots` link
    * annotations with URI actions are where the format carries them.
    * Spark BUILDS one PDF per document in pure SQL with two URI links
    * (hex-of-prefix and zero-padded-id tails, one action direct and
    * one indirect) AND an interleaved non-link `/Text` note, then
    * parses them back through the production walk ([[docLinks]]):
    * `/Annots` order, subtype selection, action dispatch, string
    * decode. The oracle recomputes both URIs straight from the
    * documents row — an ordering, selection, or action-shape bug lands
    * as a value mismatch or a loud reject.
    */
  def pdfLinksExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val segs = linkSkeleton()
    Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= 24)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), unhex(concat(
        lit(segs(0)), expr("hex(cast(substring(h, 1, 48) as binary))"),
        lit(segs(1)), expr("hex(cast(lpad(cast(doc_id as string), 12, '0') as binary))"),
        lit(segs(2)))).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        docLinks(payload).map { case (page, linkNo, uri) => (id, page, linkNo, uri) }
      })
      .toDF("doc_id", "page", "link_no", "uri")
      .orderBy("doc_id", "link_no")
  }

  private val pdfLinksExtractSql =
    s"""SELECT doc_id, CAST(1 AS INT) AS page, CAST(1 AS INT) AS link_no,
               'https://x.test/' || substring(hex(encode(text)), 1, 48) AS uri
        FROM documents WHERE octet_length(encode(text)) >= 24
        UNION ALL
        SELECT doc_id, CAST(1 AS INT), CAST(2 AS INT),
               'https://y.test/d/' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
        FROM documents WHERE octet_length(encode(text)) >= 24
        ORDER BY doc_id, link_no"""

  // ---------------------------------------------------------------
  // pdf_filter_chain_extract: ASCII filters + /Filter chains
  // ---------------------------------------------------------------

  /** ASCIIHexDecode leg geometry: the stream data is the content hex
    * chars themselves plus the `>` EOD marker.
    */
  private val AhxLen = 2 * RawLen + 1

  /** ASCII85 leg geometry over the [[ZlibLen]]-byte zlib stream:
    * 5 digits per full 4-byte group, rem+1 for the zero-padded tail,
    * plus the 2-byte `~>` EOD.
    */
  private val A85Full = ZlibLen / 4
  private val A85Rem = ZlibLen % 4
  private val A85Len = A85Full * 5 + (if (A85Rem > 0) A85Rem + 1 else 0) + 2

  /** SQL emitting the ASCII85 coding of the zlib bytes via the codegen'd
    * [[graft.functions.Ascii85Armor]] kernel (r18 optimization — this was
    * an arithmetic per-group walk of interpreted `aggregate`/`chr` lambdas
    * over a split char array, ~85 groups × 6 interpreted evals per
    * document; the kernel emits identical digits in one call, pinned
    * against the independently written `Ascii85TestCodec` mirror in
    * EmitterKernelSpec). No `z` shortcut: the decoder treats it as
    * optional compression, and the straight form keeps the emitted length
    * constant per leg. The `~>` EOD stays visible here.
    */
  private val a85Sql = "concat(ascii85_armor(unhex(zh)), '~>')"

  /** `pdf_filter_chain_extract`: the ASCII transfer filters and the
    * `/Filter` CHAIN machinery parsed end to end — the
    * [[pdfTextExtract]] discipline pointed at §7.4.1's filter-pipeline
    * semantics. Even doc_ids carry the content stream ASCII-armored
    * under a single `/ASCIIHexDecode` (hex chars + `>` EOD); odd
    * doc_ids the REAL stored-block zlib stream base-85-coded under the
    * two-element chain `[/ASCII85Decode /FlateDecode]` — the shape
    * older ASCII-armored producers emit — with Spark emitting the
    * base-85 digits arithmetically in pure SQL. The oracle recomputes
    * the shown text straight from the bytes, so a base-85 grouping,
    * tail-padding, EOD, or chain-fold-order bug lands as a value
    * mismatch or a loud reject.
    */
  def pdfFilterChainExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (ahxA, ahxB) = skeleton(AhxLen, s"$AhxLen /Filter /ASCIIHexDecode")
    val (a85A, a85B) = skeleton(A85Len,
      s"$A85Len /Filter [/ASCII85Decode /FlateDecode]")
    def base(parity: Int) =
      Tables.documents(spark, sfDir)
        .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 2 === parity)
        .withColumn("h", expr("hex(cast(text as binary))"))
        .withColumn("ch", expr(contentHexSql))
    val ahxLeg = base(0).select(col("doc_id"),
      unhex(concat(lit(ahxA),
        expr("hex(cast(concat(ch, '>') as binary))"), lit(ahxB))).as("payload"))
    val a85Leg = base(1)
      .withColumn("zh", expr(zlibHexSql))
      .select(col("doc_id"),
        unhex(concat(lit(a85A),
          expr(s"hex(cast($a85Sql as binary))"), lit(a85B))).as("payload"))
    ahxLeg.unionByName(a85Leg).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val pages = extractPages(payload)
        require(pages.length == 1, s"pdf fixture $id: expected 1 page, got ${pages.length}")
        (id, pages.head)
      })
      .toDF("doc_id", "page_text")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("ahx")).otherwise(lit("a85flate")).as("filters"),
        col("page_text"))
      .orderBy("doc_id")
  }

  private val pdfFilterChainExtractSql =
    s"""SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'ahx' ELSE 'a85flate' END AS filters,
               substring(h, 1, 96) || chr(10) || substring(h, 33, 96) AS page_text
        FROM (SELECT doc_id, hex(encode(text)) AS h FROM documents
              WHERE octet_length(encode(text)) >= $NeedBytes)
        ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // pdf_files_ingest: real landed PDFs through the path walk
  // ---------------------------------------------------------------

  /** Documents per landed PDF — one PAGE per document, so the page-tree
    * walk and page ordering are load-bearing at a realistic grain.
    */
  private val DocsPerFile = 64

  /** `pdf_files_ingest`: REAL landed PDFs re-ingested by path. Each file
    * bundles [[DocsPerFile]] documents as pages (line 1 the zero-padded
    * doc id, line 2 hex of the document's first 24 chars); odd files
    * compress every content stream with a REAL `Deflater` zlib (dynamic
    * Huffman — the leg the SQL stored-block fixture cannot reach), even
    * files stay raw; files with `fid % 4 >= 2` land in the PDF 1.5
    * COMPRESSED layout (ObjStm + Predictor-12 xref stream — the
    * modern-corpus majority shape), the rest with a classic table, so
    * all four codec×layout combinations are load-bearing under the SAME
    * oracle (the layout never changes the text). Landed via task-side
    * file IO, listed back through the DISTRIBUTED [[Streams.dropTasks]]
    * walk, and parsed by the production [[extractPages]] — so
    * multi-page layout, the xref the writer computes, real inflate, and
    * page order are all pinned by the oracle's pure-formula recompute.
    */
  def pdfFilesIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_pdffiles")
    // line 2 carries a constant 'H' sentinel before the hex so an
    // empty-text document still shows a non-empty second line (the text
    // walk suppresses all-empty lines by design)
    val grouped = Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % 2).as("c"),
        expr(s"doc_id div ${2 * DocsPerFile}").as("g"),
        expr("lpad(cast(doc_id as string), 12, '0')").as("l1"),
        expr("concat('H', hex(encode(substring(text, 1, 24), 'UTF-8')))").as("l2"))
      .groupBy("c", "g")
      .agg(expr("transform(array_sort(collect_list(struct(doc_id, l1, l2))), " +
        "x -> named_struct('_1', x.l1, '_2', x.l2))").as("pages"))
      .select((col("g") * 2 + col("c")).as("fid"), col("c"), col("pages"))
    Streams.land(grouped.as[(Long, Long, Seq[(String, String)])].map { case (fid, c, pages) =>
      (s"$fid.pdf", buildPdf(pages.map(p => Seq(p._1, p._2)), flate = c == 1,
        xrefStream = fid % 4 >= 2))
    }, dir)
    // re-ingest through the PRODUCTION front door; the fixture's 2-line
    // page shape (id, H-sentinel hex) unpacks declaratively, loud when
    // the shape is wrong
    docsFromPaths(spark, dir)
      .select(col("doc_id"), expr("split(text, '\\n')").as("lines"))
      .select(col("doc_id"),
        expr("""CASE WHEN size(lines) = 2 AND lines[1] LIKE 'H%'
                     THEN cast(lines[0] AS bigint)
                     ELSE cast(raise_error(concat('pdf fixture page shape lost at doc ',
                            doc_id)) AS bigint) END""").as("src_id"),
        expr("substring(lines[1], 2)").as("page_hex"))
      .select(col("doc_id"), col("src_id"), md5(col("page_hex")).as("digest"),
        length(col("page_hex")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  private val pdfFilesIngestSql =
    s"""SELECT (((doc_id // ${2 * DocsPerFile}) * 2 + doc_id % 2) * 16777216)
                 + (doc_id % ${2 * DocsPerFile}) // 2 AS doc_id,
               doc_id AS src_id,
               md5(hex(encode(substring(text, 1, 24)))) AS digest,
               CAST(2 * octet_length(encode(substring(text, 1, 24))) AS BIGINT) AS n_chars
        FROM documents
        ORDER BY 1"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pdf_text_extract" -> (pdfTextExtract _),
    "pdf_xref_stream_extract" -> (pdfXrefStreamExtract _),
    "pdf_info_extract" -> (pdfInfoExtract _),
    "pdf_filter_chain_extract" -> (pdfFilterChainExtract _),
    "pdf_links_extract" -> (pdfLinksExtract _),
    "pdf_files_ingest" -> (pdfFilesIngest _),
  )

  override def oracle: Map[String, String] = Map(
    "pdf_text_extract" -> pdfTextExtractSql,
    "pdf_xref_stream_extract" -> pdfXrefStreamExtractSql,
    "pdf_info_extract" -> pdfInfoExtractSql,
    "pdf_filter_chain_extract" -> pdfFilterChainExtractSql,
    "pdf_links_extract" -> pdfLinksExtractSql,
    "pdf_files_ingest" -> pdfFilesIngestSql,
  )
}
