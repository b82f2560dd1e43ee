package graft.sources

import java.io.InputStream

/** Raw-byte lexer for the **pruned** wiki scan (`text` column not
  * required). The StAX path is correct on the pruned read but still pays
  * full XML tokenization over the `<text>` payload — ~99% of dump bytes
  * are character-decoded, chunked and evented just to be discarded
  * (measured: tokenization is the 1.7× floor on title-only throughput).
  * This lexer never decodes the payload at all: it scans raw bytes for
  * the closing `</text>`, honoring the only three constructs that could
  * hide one (CDATA sections, comments, and the fact that a literal `<`
  * inside character data must be escaped as `&lt;`), and UTF-8-decodes
  * nothing but the few captured header fields (title, ns, timestamp).
  * UTF-8 is self-synchronizing for ASCII delimiters — no multi-byte
  * sequence contains `<` — so byte scanning is exact.
  *
  * Used ONLY when the query does not need `text`
  * ([[WikiXmlPartitionReader]] picks it when `text` is pruned); the StAX
  * parser ([[WikiXml.parseStream]]) remains the reference semantics, and
  * WikiXmlSpec asserts the two paths emit identical rows on every
  * fixture, including the CDATA/comment/entity robustness cases. */
object WikiLexer {

  /** Lex one revision-history XML stream, emitting [[WikiXml.Revision]]
    * rows with `text = ""` (the pruned contract). `nsFilter` mirrors the
    * StAX parser's pushed-down F1 filter, including its rev_ord
    * bookkeeping on filtered pages. */
  def scan(in: InputStream, nsFilter: Option[String] = None)
      : Iterator[WikiXml.Revision] = new Iterator[WikiXml.Revision] {

    private val buf = new Array[Byte](1 << 16)
    private var len = 0
    private var pos = 0

    private def refill(): Boolean = {
      if (len < 0) return false
      len = in.read(buf)
      pos = 0
      len > 0
    }

    /** Next byte as 0-255, or -1 at EOF. */
    private def rd(): Int = {
      while (pos >= len) if (!refill()) return -1
      val b = buf(pos) & 0xFF
      pos += 1
      b
    }

    /** Skip to just past the next `target` byte; false at EOF. The hot
      * loop: scans the buffer arraywise, no per-byte call overhead. */
    private def skipPast(target: Byte): Boolean = {
      while (true) {
        if (pos >= len && !refill()) return false
        var i = pos
        while (i < len && buf(i) != target) i += 1
        if (i < len) { pos = i + 1; return true }
        pos = len
      }
      false
    }

    /** Skip past a terminator of the form c c … c '>' with at least `n`
      * trailing `c`s (comment `-->`, CDATA `]]>`); false at EOF. */
    private def skipRun(c: Int, n: Int): Boolean = {
      var run = 0
      while (true) {
        val b = rd()
        if (b < 0) return false
        if (b == c) run += 1
        else if (b == '>' && run >= n) return true
        else run = 0
      }
      false
    }

    // ----- element machinery -------------------------------------------

    private val nameBuf = new java.lang.StringBuilder(24)

    /** Read a tag name after '<' into the reused `nameBuf` (no String
      * allocation per tag — ~15 tags per revision); returns the delimiter
      * byte that ended the name (space, '>', '/', or -1). Test the name
      * with [[nameIs]]. */
    private def readName(first: Int): Int = {
      nameBuf.setLength(0)
      nameBuf.append(first.toChar)
      var b = rd()
      while (b > 0 && b != '>' && b != '/' && !Character.isWhitespace(b)) {
        nameBuf.append(b.toChar)
        b = rd()
      }
      b
    }

    private def nameIs(s: String): Boolean = {
      if (nameBuf.length != s.length) return false
      var i = 0
      while (i < s.length && nameBuf.charAt(i) == s.charAt(i)) i += 1
      i == s.length
    }

    /** After the tag name: consume attributes to '>'; true if the element
      * is self-closing (`…/>`). `delim` is the byte that ended the name. */
    private def finishTag(delim: Int): Boolean = {
      if (delim == '>') return false
      if (delim == '/') { skipPast('>'); return true }
      var lastNonWs = 0
      var b = rd()
      while (b > 0 && b != '>') {
        if (!Character.isWhitespace(b)) lastNonWs = b
        b = rd()
      }
      lastNonWs == '/'
    }

    /** Capture the character content of the just-opened element `tag`
      * up to its closing tag: entities decoded, CDATA verbatim, comments
      * dropped (the StAX textOf contract). Used only for the small header
      * fields — never the text payload. */
    private def capture(tag: String): String = {
      val sb = new java.lang.StringBuilder(32)
      val bytes = new java.io.ByteArrayOutputStream(64)
      def flush(): Unit = {
        if (bytes.size > 0) {
          sb.append(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
          bytes.reset()
        }
      }
      var doneCap = false
      while (!doneCap) {
        val b = rd()
        if (b < 0) doneCap = true
        else if (b == '<') {
          val c = rd()
          if (c == '/') {
            val d = { val f = rd(); readName(f) }
            if (nameIs(tag)) { if (d != '>') skipPast('>'); doneCap = true }
            // mismatched closer inside a capture: malformed; stop anyway
            else doneCap = true
          } else if (c == '!') {
            // <!-- comment --> or <![CDATA[ … ]]>
            val c2 = rd()
            if (c2 == '-') { rd(); skipRun('-', 2) } // consume 2nd '-', then to -->
            else if (c2 == '[') {
              // "<![CDATA[" — consume "CDATA[", then verbatim to ]]>
              var k = 0
              while (k < 6 && rd() > 0) k += 1
              var brackets = 0
              var inCd = true
              while (inCd) {
                val d = rd()
                if (d < 0) inCd = false
                else if (d == ']') {
                  if (brackets >= 2) bytes.write(']') // 3+ run: oldest is content
                  brackets = math.min(brackets + 1, 2)
                } else if (d == '>' && brackets >= 2) { brackets = 0; inCd = false }
                else {
                  while (brackets > 0) { bytes.write(']'); brackets -= 1 }
                  bytes.write(d)
                }
              }
            }
          } else { bytes.write('<'); if (c >= 0) bytes.write(c) } // malformed; literal
        } else if (b == '&') {
          flush()
          // entity: read to ';' (bounded — entities are short)
          val ent = new java.lang.StringBuilder(8)
          var d = rd()
          var k = 0
          while (d > 0 && d != ';' && k < 12) { ent.append(d.toChar); d = rd(); k += 1 }
          sb.append(decodeEntity(ent.toString))
        } else bytes.write(b)
      }
      flush()
      sb.toString
    }

    // ----- page/revision state -----------------------------------------

    private var title: String = _
    private var ns: String = _
    private var pageWanted = true
    private var inPage = false
    private var inRevision = false
    private var revTs: java.lang.Long = _
    private var revOrd = 0L
    private var pending: WikiXml.Revision = _
    private var done = false

    private def advance(): Unit = {
      while (pending == null && !done) {
        if (!skipPast('<')) { done = true; return }
        val b = rd()
        if (b < 0) { done = true; return }
        else if (b == '/') {
          val d = { val f = rd(); if (f < 0) { done = true; return }; readName(f) }
          if (d != '>' && d >= 0) skipPast('>')
          if (inRevision && nameIs("revision")) {
            inRevision = false
            if (pageWanted)
              pending = WikiXml.Revision(ns, title, revTs, "", revOrd)
            revOrd += 1L
          } else if (nameIs("page")) inPage = false
        } else if (b == '!') {
          val c = rd()
          if (c == '-') { rd(); if (!skipRun('-', 2)) done = true }
          else if (c == '[') { // <![CDATA[ outside captures: skip body
            var k = 0
            while (k < 6 && rd() > 0) k += 1
            if (!skipRun(']', 2)) done = true
          } else skipPast('>') // <!DOCTYPE …> (no internal subset in dumps)
        } else if (b == '?') { skipPast('>') }
        else {
          val d = readName(b)
          if (inRevision && nameIs("text")) {
            // THE fast path: raw-scan to </text>, nothing decoded
            if (!finishTag(d)) skipTextBody()
          } else if (inRevision && nameIs("timestamp")) {
            val s = if (finishTag(d)) "" else capture("timestamp")
            revTs = if (s.isEmpty) null else WikiXml.parseTsMicros(s)
          } else if (nameIs("revision")) {
            finishTag(d)
            if (inPage) { inRevision = true; revTs = null }
          } else if (nameIs("page")) {
            finishTag(d)
            inPage = true; title = null; ns = null; revOrd = 0L
            pageWanted = nsFilter.isEmpty
          } else if (inPage && !inRevision && nameIs("title")) {
            title = if (finishTag(d)) "" else capture("title")
          } else if (inPage && !inRevision && nameIs("ns")) {
            ns = if (finishTag(d)) "" else capture("ns")
            pageWanted = nsFilter.forall(_ == ns)
          } else {
            finishTag(d) // unknown element: attrs consumed, content walked
          }
        }
      }
    }

    /** Skip a `<text>` body without decoding: scan for `</text` (then
      * whitespace* '>'), detouring around comments and CDATA sections —
      * the only places a literal `</text>` could legally hide (bare `<`
      * in character data must be `&lt;`). */
    private def skipTextBody(): Unit = {
      while (true) {
        if (!skipPast('<')) return
        val b = rd()
        if (b < 0) return
        if (b == '/') {
          val d = { val f = rd(); if (f < 0) return; readName(f) }
          if (nameIs("text")) { if (d != '>' && d >= 0) skipPast('>'); return }
          if (d != '>' && d >= 0) skipPast('>')
        } else if (b == '!') {
          val c = rd()
          if (c == '-') { rd(); if (!skipRun('-', 2)) return }
          else if (c == '[') {
            var k = 0
            while (k < 6 && rd() > 0) k += 1
            if (!skipRun(']', 2)) return
          }
        }
        // any other element start inside text: keep scanning
      }
    }

    override def hasNext: Boolean = {
      if (pending == null && !done) advance()
      pending != null
    }

    override def next(): WikiXml.Revision = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
  }

  /** Decode one entity body (between '&' and ';'): the five XML named
    * entities plus decimal/hex character references; unknown entities pass
    * through verbatim (StAX would reject — dumps contain none). */
  private[sources] def decodeEntity(e: String): String = e match {
    case "amp" => "&"
    case "lt" => "<"
    case "gt" => ">"
    case "quot" => "\""
    case "apos" => "'"
    case _ if e.startsWith("#x") || e.startsWith("#X") =>
      new String(Character.toChars(Integer.parseInt(e.substring(2), 16)))
    case _ if e.startsWith("#") =>
      new String(Character.toChars(Integer.parseInt(e.substring(1))))
    case other => "&" + other + ";"
  }
}
