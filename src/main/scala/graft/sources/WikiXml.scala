package graft.sources

import java.io.InputStream
import java.time.{LocalDateTime, ZoneOffset}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.commons.compress.archivers.sevenz.SevenZFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming MediaWiki revision-history XML source — the reference's
  * decompress-scan + XML-event-scan operators (S4/S5,
  * /root/reference/main.py:172-175 and 135-164) re-expressed for Spark.
  *
  * Design, mirroring the reference's constraints:
  *  - **Never materialize a decompressed file.** The reference pipes
  *    `7z e -so` into `lxml.etree.iterparse`; here each Spark task opens
  *    its file as an InputStream, wrapped by the Hadoop codec matching
  *    the extension (.bz2/.gz) or — for the reference's actual
  *    `metahistory7zdump` input (main.py:53,173) — commons-compress's
  *    [[SevenZFile]] (7z needs seekable input, so remote files are
  *    staged to task-local disk first, exactly like the reference's
  *    download-then-`7z e -so`; local files are read in place), and
  *    parses it with StAX pull events — the JVM's streaming model,
  *    equivalent to iterparse's end-element events.
  *  - **One file = one partition = one task** (the reference's
  *    per-file `Pool` worker, main.py:99). A page's revisions are
  *    contiguous within a file, so per-page state lives entirely inside
  *    one task — never split across partitions.
  *  - **The source emits raw revisions**; filtering (ns=0, epoch) and the
  *    daily downsample are separate declarative operators
  *    ([[graft.operators.Diachronic]]), so Catalyst can prune/push rather
  *    than having the semantics baked into the parser like the
  *    reference's parse_revision (main.py:151-161).
  *  - **DataSource V2 with column pruning** ([[WikiXmlSource]]): `text`
  *    is ~99% of dump bytes, so a title-only query must never build the
  *    text strings. The scan pushes required columns down to the
  *    reader (without `text` it runs the byte lexer [[WikiLexer]]), and
  *    the reader's `close()` releases the stream on early termination
  *    (`limit`, failure) — no leaked handles.
  *
  * Output schema = the reference's frozen 4-column table (main.py:111):
  * namespace/title as raw strings, timestamp as UTC-naive microseconds
  * (trailing-Z strip, main.py:153), text with null→"" (main.py:156).
  */
object WikiXml {

  /** The reference's output schema (main.py:111), declared statically
    * (SURVEY.md §1.3 — no degenerate inferred schemas on empty files),
    * plus `rev_ord` — the revision's document-order index within its page.
    * The reference resolves identical-timestamp ties by document order
    * (first wins, main.py:154); a parallel engine needs that order as
    * data, so the parser captures it and [[dailySnapshots]] tie-breaks on
    * it (then drops it from the 4-column output). */
  val schema: StructType = StructType(Seq(
    StructField("namespace", StringType),
    StructField("title", StringType),
    StructField("timestamp", TimestampType),
    StructField("text", StringType),
    StructField("rev_ord", LongType)))

  /** One parsed revision. `timestampMicros` is µs since epoch of the
    * dump's UTC-naive wall time (boxed so a missing element maps to SQL
    * NULL rather than a sentinel). */
  final case class Revision(
      namespace: String, title: String, timestampMicros: java.lang.Long,
      text: String, revOrd: Long)

  /** Pull-parse one revision-history XML stream into revisions.
    * Dispatch mirrors /root/reference/main.py:135-164: element end-events
    * for title/ns populate page state (guaranteed to fire before the
    * page's revisions — dump element order), revision-end emits, page-end
    * resets. Unknown tags no-op (the reference's defaultdict). Lazily
    * evaluated; the stream is consumed incrementally and never closed
    * here — the caller owns the stream's lifecycle.
    *
    * `nsFilter` is the pushed-down F1 filter: a filtered page's `<text>`
    * events are skipped without assembling the string. */
  def parseStream(in: InputStream, nsFilter: Option[String] = None): Iterator[Revision] = {
    val factory = XMLInputFactory.newInstance()
    // No coalescing: textOf assembles character chunks itself, and a
    // coalescing parser would eagerly buffer each full <text> body (the
    // ~99% payload) even on filtered pages, where skipElem discards the
    // chunks unread.
    factory.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.FALSE)
    // dumps are untrusted input: no DTDs / external entities
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    val reader = factory.createXMLStreamReader(in)

    new Iterator[Revision] {
      private var title: String = _
      private var ns: String = _
      // pushed-down F1 filter: <ns> precedes a page's revisions in the
      // dump, so a mismatch skips the page's revision payloads entirely
      private var pageWanted = true
      private var revTs: java.lang.Long = _
      private var revText: String = ""
      private var revOrd: Long = 0L
      private var pending: Revision = _
      private var done = false
      // current element path tracking: we only read text at known leaves
      private var inPage = false
      private var inRevision = false

      private def textOf(r: XMLStreamReader): String = {
        val sb = new StringBuilder
        var ev = r.next()
        while (ev != XMLStreamConstants.END_ELEMENT) {
          if (ev == XMLStreamConstants.CHARACTERS || ev == XMLStreamConstants.CDATA)
            sb.append(r.getText)
          ev = r.next()
        }
        sb.toString
      }

      /** Consume the current element to its end without materializing
        * characters — a filtered page's `text`. */
      private def skipElem(r: XMLStreamReader): Unit = {
        var ev = r.next()
        while (ev != XMLStreamConstants.END_ELEMENT) ev = r.next()
      }

      private def parseTs(s: String): java.lang.Long = parseTsMicros(s)

      @annotation.tailrec
      private def advance(): Unit = {
        if (!reader.hasNext) { done = true }
        else {
          reader.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              reader.getLocalName match {
                case "page" =>
                  inPage = true; title = null; ns = null; revOrd = 0L
                  pageWanted = nsFilter.isEmpty
                  advance()
                case "revision" if inPage =>
                  inRevision = true; revTs = null; revText = ""
                  advance()
                case "title" if inPage && !inRevision =>
                  title = textOf(reader); advance()
                case "ns" if inPage && !inRevision =>
                  ns = textOf(reader)
                  pageWanted = nsFilter.forall(_ == ns)
                  advance()
                case "timestamp" if inRevision =>
                  revTs = parseTs(textOf(reader)); advance()
                case "text" if inRevision =>
                  if (pageWanted) revText = textOf(reader)
                  else skipElem(reader)
                  advance()
                case _ => advance()
              }
            case XMLStreamConstants.END_ELEMENT =>
              reader.getLocalName match {
                case "revision" if inRevision =>
                  inRevision = false
                  if (pageWanted) {
                    pending = Revision(ns, title, revTs,
                      if (revText == null) "" else revText, revOrd)
                    revOrd += 1L
                  } else {
                    // filtered page: emit nothing, keep walking (rev_ord
                    // still advances so unfiltered reads agree)
                    revOrd += 1L
                    advance()
                  }
                case "page" =>
                  inPage = false
                  advance()
                case _ => advance()
              }
            case XMLStreamConstants.END_DOCUMENT =>
              done = true
            case _ => advance()
          }
        }
      }

      override def hasNext: Boolean = {
        while (pending == null && !done) advance()
        pending != null
      }

      override def next(): Revision = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending
        pending = null
        r
      }
    }
  }

  /** ISO8601 with trailing Z → µs since epoch, stored as UTC-naive
    * (main.py:153); converted at fixed UTC so the result is
    * JVM-timezone-independent. Shared by the StAX parser and the pruned
    * byte lexer ([[WikiLexer]]).
    *
    * Hand-rolled fixed-format fast path (digits + days-from-civil): a
    * dump has one timestamp per revision and `LocalDateTime.parse` costs
    * ~2 µs each — at 30k revisions per 22 MB file that was the single
    * largest remaining cost of the pruned scan. Falls back to the JDK
    * parser on anything non-canonical; WikiXmlSpec property-tests
    * equality over random instants. */
  private[graft] def parseTsMicros(s: String): java.lang.Long = {
    def digit(i: Int): Boolean = { val c = s.charAt(i); c >= '0' && c <= '9' }
    val canonical = s.length >= 19 &&
      digit(0) && digit(1) && digit(2) && digit(3) && s.charAt(4) == '-' &&
      digit(5) && digit(6) && s.charAt(7) == '-' && digit(8) && digit(9) &&
      s.charAt(10) == 'T' && digit(11) && digit(12) && s.charAt(13) == ':' &&
      digit(14) && digit(15) && s.charAt(16) == ':' && digit(17) && digit(18)
    if (canonical) {
      def d2(i: Int) = (s.charAt(i) - '0') * 10 + (s.charAt(i + 1) - '0')
      val y = d2(0) * 100 + d2(2)
      val mo = d2(5); val dy = d2(8)
      // days-from-civil (proleptic Gregorian, epoch 1970-01-01)
      val yy = if (mo <= 2) y - 1 else y
      val era = (if (yy >= 0) yy else yy - 399) / 400
      val yoe = yy - era * 400
      val doy = (153 * (if (mo > 2) mo - 3 else mo + 9) + 2) / 5 + dy - 1
      val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
      val days = era * 146097L + doe - 719468L
      var micros =
        (days * 86400L + d2(11) * 3600L + d2(14) * 60L + d2(17)) * 1000000L
      var i = 19
      if (i < s.length && s.charAt(i) == '.') { // optional fraction
        i += 1
        var scale = 100000L
        while (i < s.length && digit(i)) {
          if (scale > 0) { micros += (s.charAt(i) - '0') * scale; scale /= 10 }
          i += 1
        }
      }
      java.lang.Long.valueOf(micros)
    } else {
      val ldt = LocalDateTime.parse(s.stripSuffix("Z"))
      java.lang.Long.valueOf(
        ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
    }
  }

  /** Open a .7z archive's entries as a lazy stream-per-entry iterator plus
    * one close-everything hook. 7z requires seekable input (LZMA2 blocks
    * are randomly accessed), so unlike the pipe-able gz/bz2 codecs a
    * remote file is staged to task-local disk first — the same shape as
    * the reference's download-then-`7z e -so` (main.py:84-94,173). Local
    * (`file:`) paths are opened in place, no copy. */
  private[sources] def openSevenZ(file: Path, conf: Configuration)
      : (Iterator[InputStream], () => Unit) = {
    val uri = file.toUri
    val (local, dropStaged) =
      if (uri.getScheme == null || uri.getScheme == "file")
        (new java.io.File(uri.getPath), () => ())
      else {
        val tmp = java.io.File.createTempFile("graft-wiki-", ".7z")
        val fs = file.getFileSystem(conf)
        val in = fs.open(file)
        try java.nio.file.Files.copy(in, tmp.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        (tmp, () => { tmp.delete(); () })
      }
    val sz = SevenZFile.builder().setFile(local).get()
    val entries = Iterator.continually(sz.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory)
      .map(e => sz.getInputStream(e): InputStream)
    (entries, () => { sz.close(); dropStaged() })
  }

  /** Read a directory/glob of revision-history XML files — plain,
    * Hadoop-codec-compressed (.gz/.bz2), or .7z — as the 5-column
    * revisions DataFrame via the column-pruning [[WikiXmlSource]] V2
    * source. One task per file; each task streams its file through the
    * codec + StAX pipeline without materializing it. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[WikiXmlSource].getName).load(path)

  /** Multi-path variant (e.g. a manifest-derived file list). */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format(classOf[WikiXmlSource].getName).load(paths: _*)

  /** The reference's full per-file pipeline (filter ns=0 → epoch filter →
    * greedy daily downsample, main.py:151-161) as declarative ops over the
    * revisions table. Output: one row per (title, day) = the earliest
    * revision that day — SURVEY.md §2.4. */
  def dailySnapshots(revisions: DataFrame,
      epoch: String = graft.operators.Diachronic.DefaultEpoch): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Diachronic
      .firstPerDay(
        revisions.filter(col("namespace") === "0"),
        key = col("title"), ts = col("timestamp"), tieBreak = col("rev_ord"),
        payload = Seq("namespace" -> col("namespace"), "text" -> col("text")),
        epoch = epoch)
      .withColumnRenamed("key", "title")
      .select(col("namespace"), col("title"), col("first_ts").as("timestamp"), col("text"))
  }
}
