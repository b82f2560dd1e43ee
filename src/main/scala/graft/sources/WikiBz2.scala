package graft.sources

import java.io.InputStream

/** Splittable ingest for **multistream** bzip2 dumps (SURVEY §4's named
  * fix for the one-file-one-task bottleneck): a `*-multistream.xml.bz2`
  * dump is a byte-aligned concatenation of independent bzip2 STREAMS,
  * each compressing a chunk of ~100 whole `<page>` elements. Stream
  * starts — unlike the *bit*-aligned block starts inside a stream — are
  * byte-findable ("BZh" + level digit + the 6-byte π block magic), so one
  * driver-side scan of the compressed bytes yields split points, and the
  * worst single file becomes N independent partitions instead of one
  * task pinned to one decompressor thread.
  *
  * The 10-byte pattern (with the level-digit constraint) has a ~2⁻⁷⁹
  * per-position false-positive probability in compressed data — at
  * dump scale, never. Wikimedia also publishes a companion
  * `…-multistream-index.txt.bz2` (offset:pageid:title lines); feeding
  * those offsets through [[planRanges]] skips the scan entirely — the
  * scan is the self-contained fallback that needs no side file.
  *
  * Page-boundary handoff rule: a partition decompresses its byte range
  * (whole streams by construction) into an XML *fragment* — the dump
  * header before the first page (partition 0), whole pages, and possibly
  * the trailing `</mediawiki>` (last partition). [[PageFragmentStream]]
  * turns that fragment into a well-formed document for the parsers:
  * synthetic `<mediawiki>` root, content from each `<page` through its
  * `</page>` passed through verbatim, everything between pages (header,
  * inter-page whitespace, trailing close tag) dropped. Sound because raw
  * `<page`/`</page>` bytes cannot appear inside XML character data
  * (escaping) and pages never straddle streams in multistream dumps.
  * (An XML *comment* between pages could hide a fake `<page` from this
  * byte scan — dump chunks contain no comments, and in-page comments are
  * passed through verbatim to the real parser, so only a comment in the
  * inter-page gap could confuse the splitter.) */
object WikiBz2 {

  // "BZh" + '1'..'9' + block magic 0x314159265359 (BCD π)
  private val StreamMagic: Array[Int] =
    Array('B', 'Z', 'h', -1 /* level digit */, 0x31, 0x41, 0x59, 0x26, 0x53, 0x59)

  private def matchesAt(win: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < StreamMagic.length) {
      val b = win(off + i) & 0xFF
      val want = StreamMagic(i)
      if (want >= 0) { if (b != want) return false }
      else if (b < '1' || b > '9') return false
      i += 1
    }
    true
  }

  /** Byte offsets of every bz2 stream start in the (compressed) input —
    * one sequential pass, ~buffer-copy speed. Returns at least offset 0
    * for a stream that starts with the magic. */
  def findStreamStarts(in: InputStream): Seq[Long] = {
    val starts = Seq.newBuilder[Long]
    val keep = StreamMagic.length - 1
    val buf = new Array[Byte]((1 << 16) + keep)
    var carried = 0    // bytes carried from the previous buffer's tail
    var base = 0L      // file offset of buf(0)
    var eof = false
    while (!eof) {
      var filled = carried
      while (filled < buf.length && !eof) {
        val n = in.read(buf, filled, buf.length - filled)
        if (n < 0) eof = true else filled += n
      }
      val scanEnd = filled - keep
      var i = 0
      while (i < scanEnd || (eof && i <= filled - StreamMagic.length)) {
        if (buf(i) == 'B' && matchesAt(buf, i)) starts += base + i
        i += 1
      }
      if (!eof) {
        // carry the tail so a magic spanning two buffers still matches
        System.arraycopy(buf, filled - keep, buf, 0, keep)
        base += filled - keep
        carried = keep
      }
    }
    starts.result()
  }

  /** Group stream boundaries into split ranges of at least
    * `minSplitBytes` compressed bytes: [start, end) pairs covering the
    * whole file, each beginning on a stream start. */
  def planRanges(starts: Seq[Long], fileLen: Long,
      minSplitBytes: Long): Seq[(Long, Long)] = {
    require(starts.headOption.contains(0L),
      s"bz2 split: file does not begin with a stream magic (starts=${starts.take(3)})")
    val cuts = Seq.newBuilder[Long]
    var last = 0L
    cuts += 0L
    starts.drop(1).foreach { s =>
      if (s - last >= minSplitBytes) { cuts += s; last = s }
    }
    val cs = cuts.result()
    cs.zip(cs.drop(1) :+ fileLen).filter { case (a, b) => b > a }
  }

  /** Well-formed-document adapter over a decompressed multistream
    * fragment (see object doc): synthetic root, pages passed through,
    * inter-page content dropped. EOF inside a page fails loudly — split
    * ranges that honor stream boundaries never truncate a page, so a
    * truncation means corrupt input, not a silent partial page. */
  final class PageFragmentStream(in: InputStream) extends InputStream {
    private val PageOpen = "<page".getBytes("US-ASCII")
    private val PageClose = "</page>".getBytes("US-ASCII")

    private var pending: Array[Byte] = "<mediawiki>".getBytes("US-ASCII")
    private var pendingPos = 0
    private var state = 0 // 0 = seeking <page, 1 = inside page, 2 = done
    private var mp = 0    // match progress in the current pattern

    override def read(): Int = {
      while (true) {
        if (pending != null) {
          if (pendingPos < pending.length) {
            val b = pending(pendingPos); pendingPos += 1; return b & 0xFF
          }
          pending = null; pendingPos = 0
          if (state == 2) return -1
        }
        if (state == 2) return -1
        val c = in.read()
        if (c == -1) {
          if (state == 1)
            throw new java.io.IOException(
              "wikixml bz2 split: EOF inside <page> — corrupt range")
          state = 2
          pending = "</mediawiki>".getBytes("US-ASCII")
          pendingPos = 0
        } else if (state == 0) {
          if (c == (PageOpen(mp) & 0xFF)) {
            mp += 1
            if (mp == PageOpen.length) {
              // require a real <page> element: next byte closes the tag
              // or starts an attribute, not "<pages…"
              val c2 = in.read()
              if (c2 == '>' || c2 == ' ' || c2 == '\n' || c2 == '\r' || c2 == '\t') {
                val head = new Array[Byte](PageOpen.length + 1)
                System.arraycopy(PageOpen, 0, head, 0, PageOpen.length)
                head(PageOpen.length) = c2.toByte
                pending = head; pendingPos = 0
                state = 1; mp = 0
              } else if (c2 == -1) {
                state = 2; pending = "</mediawiki>".getBytes("US-ASCII"); pendingPos = 0
              } else {
                mp = if (c2 == '<') 1 else 0
              }
            }
          } else mp = if (c == '<') 1 else 0 // pattern head is its only '<'
        } else {
          // state 1: pass through, watching for the exact close tag
          if (c == (PageClose(mp) & 0xFF)) {
            mp += 1
            if (mp == PageClose.length) { state = 0; mp = 0 }
          } else mp = if (c == '<') 1 else 0
          return c
        }
      }
      -1 // unreachable
    }

    override def close(): Unit = in.close()
  }
}
