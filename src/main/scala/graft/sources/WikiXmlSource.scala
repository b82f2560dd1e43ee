package graft.sources

import java.io.InputStream
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for MediaWiki revision-history dumps (round-2 verdict
  * task: replace the `sc.binaryFiles` escape hatch so Catalyst reaches
  * the parser).
  *
  * Why V2 instead of an RDD: with `binaryFiles` + `createDataFrame`,
  * column pruning stops at the conversion boundary — every query over
  * revisions pays full `text` materialization (~99% of dump bytes) even
  * when counting titles. Here [[WikiXmlScanBuilder]] implements
  * `SupportsPushDownRequiredColumns`, so `.select("title")` reaches the
  * reader, whose byte lexer ([[WikiLexer]]) never decodes the payload.
  * Plan shape: `BatchScan wikixml ... ReadSchema: [title]`.
  *
  * Partitioning keeps the reference's unit of parallelism: one input
  * file = one [[InputPartition]] = one task (main.py:99's per-file Pool
  * worker), bar large multistream `.bz2` ([[WikiXmlScan]]) — a page's
  * revisions never straddle partitions, which the downstream
  * daily-downsample tie-break relies on.
  *
  * Lifecycle: the reader's `close()` (called by Spark on task completion
  * *including* early-exit `limit` and failure paths) closes the decoded
  * stream / 7z archive and deletes any task-local staged copy — the
  * round-1/2 advice's stream-leak fix. */
final class WikiXmlSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wikixml"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WikiXml.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val paths = WikiXmlSource.paths(properties.asScala.toMap)
    new WikiXmlTable(paths)
  }
}

object WikiXmlSource {
  /** Paths from reader options: single `path`, or the JSON list Spark
    * encodes for `.load(p1, p2, …)` — parsed with json4s (already on
    * Spark's classpath), so a legal comma or quote inside a file name
    * survives instead of being split into bogus paths. */
  private[sources] def paths(props: Map[String, String]): Seq[String] = {
    val many = props.get("paths").toSeq.flatMap { js =>
      org.json4s.jackson.JsonMethods.parse(js) match {
        case org.json4s.JArray(vs) =>
          vs.collect { case org.json4s.JString(s) if s.nonEmpty => s }
        case _ => throw new IllegalArgumentException(
          s"wikixml: malformed paths option (expected JSON array): $js")
      }
    }
    val one = props.get("path").toSeq
    val all = one ++ many
    require(all.nonEmpty, "wikixml source requires a path, e.g. .load(\"/dumps/*.xml.7z\")")
    all
  }

  /** Expand globs / directories to concrete files on the driver, as
    * (path, length in bytes), sorted for deterministic partition ids. */
  private[sources] def listFiles(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      require(matched.nonEmpty, s"wikixml: no input matches $p")
      matched.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
      }
    }.map(st => st.getPath.toString -> st.getLen).distinct.sorted
}

final class WikiXmlTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"wikixml(${paths.mkString(",")})"
  override def schema(): StructType = WikiXml.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WikiXmlScanBuilder(paths)
}

final class WikiXmlScanBuilder(paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = WikiXml.schema
  private var pushedNs: Option[String] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `namespace = <literal>` reaches the parser: a filtered page's
    * revisions are consumed without assembling title/text strings or
    * emitting rows — the reference's F1 filter (ns == "0") applied where
    * it is cheapest. The dump's element order guarantees `<ns>` precedes
    * the page's revisions, which is what makes the early skip sound.
    * Everything else stays a post-scan filter (returned un-accepted). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("namespace", v: String) => true
      case IsNotNull("namespace") => true
      case _ => false
    }
    pushedNs = accepted.collectFirst { case EqualTo("namespace", v: String) => v }
    pushed = accepted
    // EqualTo is exact at the parser level, but returning everything keeps
    // Spark's own filter as a correctness backstop at zero cost
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** The bz2 split size is the per-core share of the scan's `.bz2`
    * bytes, capped by `spark.sql.files.maxPartitionBytes` like Spark's
    * own file sources: one multistream dump reads on every core. */
  override def build(): Scan = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val files = WikiXmlSource.listFiles(paths, conf)
    val sqlConf = spark.sessionState.conf
    val cores = sqlConf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val bz2Bytes = files.collect { case (f, len) if f.endsWith(".bz2") => len }.sum
    new WikiXmlScan(files, new SerializableConfiguration(conf), required, pushedNs,
      bz2SplitBytes = math.min(sqlConf.filesMaxPartitionBytes, (bz2Bytes + cores - 1) / cores))
  }
}

final class WikiXmlScan(files: Seq[(String, Long)], conf: SerializableConfiguration,
    required: StructType, nsFilter: Option[String], bz2SplitBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"wikixml ${files.length} files, ReadSchema: [${required.fieldNames.mkString(", ")}]" +
      nsFilter.map(v => s", PushedNsFilter: namespace=$v").getOrElse("")

  /** One partition per file, except a multistream `.bz2` longer than
    * `bz2SplitBytes`, which splits at bz2 stream boundaries into ranges
    * of at least that size ([[WikiBz2]]): the single worst file of a dump
    * (a 100 GB meta-history multistream) becomes N parallel tasks instead
    * of one task pinned to one decompressor. The boundary scan is one
    * sequential driver pass per such file at planning time (Wikimedia's
    * companion index file can replace it; [[WikiBz2.planRanges]] accepts
    * any offset list); a file within one split is planned whole without
    * it. Non-bz2 and single-stream files keep one task per file either
    * way. */
  override def planInputPartitions(): Array[InputPartition] =
    files.flatMap { case (f, len) =>
      val ranges =
        if (f.endsWith(".bz2") && len > bz2SplitBytes) {
          val path = new Path(f)
          val in = path.getFileSystem(conf.value).open(path)
          val starts = try WikiBz2.findStreamStarts(in) finally in.close()
          if (starts.headOption.contains(0L) && starts.length > 1)
            WikiBz2.planRanges(starts, len, bz2SplitBytes)
          else Nil // single-stream (or foreign) bz2: whole file
        } else Nil
      if (ranges.length <= 1) Seq(WikiXmlInputPartition(f): InputPartition)
      else ranges.map { case (s, e) => WikiXmlInputPartition(f, s, e): InputPartition }
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new WikiXmlReaderFactory(conf, required, nsFilter)
}

final case class WikiXmlInputPartition(file: String, start: Long = 0L,
    end: Long = -1L) extends InputPartition {
  /** Whole-file partition (the default) vs a bz2 stream-range split. */
  def isRange: Boolean = end >= 0L
}

final class WikiXmlReaderFactory(conf: SerializableConfiguration,
    required: StructType, nsFilter: Option[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WikiXmlPartitionReader(
      partition.asInstanceOf[WikiXmlInputPartition], conf, required, nsFilter)
}

/** Per-task reader: decode (codec / 7z / bz2 stream range) → StAX parse →
  * pruned InternalRows. Streams; holds one revision at a time. */
final class WikiXmlPartitionReader(part: WikiXmlInputPartition,
    conf: SerializableConfiguration,
    required: StructType, nsFilter: Option[String])
    extends PartitionReader[InternalRow] {

  private val file = part.file
  private val textRequired = required.fieldNames.contains("text")
  private var closeAll: () => Unit = () => ()

  // text required → StAX (reference semantics); text pruned → the raw
  // byte lexer, which skips the ~99% payload without XML tokenization
  // (WikiXmlSpec asserts both paths emit identical rows)
  private def parse(in: InputStream): Iterator[WikiXml.Revision] =
    if (textRequired) WikiXml.parseStream(in, nsFilter)
    else WikiLexer.scan(in, nsFilter)

  private val revisions: Iterator[WikiXml.Revision] = {
    val path = new Path(file)
    if (part.isRange) {
      // multistream bz2 split: seek to the range's stream start, decode
      // the whole streams inside [start, end), adapt the page fragment
      // into a well-formed document ([[WikiBz2.PageFragmentStream]])
      val fs = path.getFileSystem(conf.value)
      val raw = fs.open(path)
      raw.seek(part.start)
      val bounded = new org.apache.commons.compress.utils.BoundedInputStream(
        raw, part.end - part.start)
      val bz = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(bounded, true)
      val in: InputStream = new WikiBz2.PageFragmentStream(bz)
      closeAll = () => { in.close(); raw.close() }
      parse(in)
    } else if (file.endsWith(".7z")) {
      val (entries, close) = WikiXml.openSevenZ(path, conf.value)
      closeAll = close
      entries.flatMap(parse)
    } else {
      val fs = path.getFileSystem(conf.value)
      val raw = fs.open(path)
      val codec = new CompressionCodecFactory(conf.value).getCodec(path)
      val in: InputStream = if (codec == null) raw else codec.createInputStream(raw)
      closeAll = () => in.close()
      parse(in)
    }
  }

  // one boxed getter per required column, resolved once per task
  private val getters: Array[WikiXml.Revision => Any] =
    required.fieldNames.map {
      case "namespace" => (r: WikiXml.Revision) => UTF8String.fromString(r.namespace)
      case "title" => (r: WikiXml.Revision) => UTF8String.fromString(r.title)
      case "timestamp" => (r: WikiXml.Revision) => r.timestampMicros
      case "text" => (r: WikiXml.Revision) => UTF8String.fromString(r.text)
      case "rev_ord" => (r: WikiXml.Revision) => java.lang.Long.valueOf(r.revOrd)
      case other => throw new IllegalArgumentException(s"wikixml: unknown column $other")
    }

  private var cur: WikiXml.Revision = _

  override def next(): Boolean =
    if (revisions.hasNext) { cur = revisions.next(); true } else false

  override def get(): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < getters.length) { vals(i) = getters(i)(cur); i += 1 }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = closeAll()
}
