package graft.index

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, Type}

/** The coordinator probe's postings read, on the driver: no Spark job, no
  * Catalyst plan, no Hadoop-conf broadcast — the analog of ES answering a
  * term lookup from its term dictionary instead of a scan.
  *
  * Given the files whose footer term range can hold a wanted term (listed
  * once per state, footers kept: `Live.filesHolding`), each file is opened
  * with its kept footer. The `term in (…)` predicate drops row groups by
  * their statistics and pages by the column index
  * (`readNextFilteredRowGroup`), so at scale only the pages that can hold
  * a term are read. The `term` column is scanned through a column reader,
  * and only the matching rows of the other nine columns are decoded.
  * parquet-mr's record-at-a-time read (a record filter through a record
  * converter) is slower than a Spark job for the same rows, so neither is
  * used.
  */
object PostingsReader {

  private val Columns = Seq("term", "salt", "blockIdx", "firstDocId", "lastDocId", "n",
    "docDeltas", "tfs", "dls", "maxImpact")

  /** Test seam: called with each file's path before the probe opens it. */
  @volatile private[graft] var beforeOpen: String => Unit = _ => ()

  /** The blocks of `terms` in `files`, stopping after `limit` of them (in
    * file order, then row order). Fails loudly on a file lacking one of
    * PostingBlock's columns.
    */
  def read(conf: Configuration, files: Seq[TermRanges.FileRange], terms: Seq[String],
           limit: Int): Array[PostingBlock] = {
    val wanted = new java.util.HashSet[Binary]()
    terms.foreach(t => wanted.add(Binary.fromString(t)))
    val options = HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("term"), wanted)))
      .useStatsFilter(true)
      .useColumnIndexFilter(true)
      .useRecordFilter(false)
      .build()
    val out = Array.newBuilder[PostingBlock]
    var left = limit
    val it = files.iterator
    while (left > 0 && it.hasNext) {
      val f = it.next()
      beforeOpen(f.path)
      val input = HadoopInputFile.fromStatus(f.status, conf)
      val reader = ParquetFileReader.open(input, f.footer, options, input.newStream())
      try {
        val schema = requested(f)
        reader.setRequestedSchema(schema)
        val createdBy = f.footer.getFileMetaData.getCreatedBy
        var pages = reader.readNextFilteredRowGroup()
        while (pages != null) {
          val blocks = rowGroup(new ColumnReadStoreImpl(pages, NoConverter, schema, createdBy),
            schema, pages, wanted, left)
          out ++= blocks
          left -= blocks.length
          pages = if (left > 0) reader.readNextFilteredRowGroup() else null
        }
      } finally reader.close()
    }
    out.result()
  }

  /** PostingBlock's columns of `f`, resolved by name. */
  private def requested(f: TermRanges.FileRange): MessageType = {
    val schema = f.footer.getFileMetaData.getSchema
    val missing = Columns.filterNot(schema.containsField)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"postings file ${f.path} lacks column(s) ${missing.mkString(", ")}")
    // by index: MessageType's getType(String*) makes getType(String) ambiguous
    val fields: Seq[Type] = Columns.map(c => schema.getType(schema.getFieldIndex(c)))
    new MessageType(schema.getName, fields.asJava)
  }

  /** The matching rows of one (filtered) row group, at most `limit`. The
    * `term` column is scanned first; the other columns skip to the matched
    * rows only.
    */
  private def rowGroup(store: ColumnReadStoreImpl, schema: MessageType, pages: PageReadStore,
                       wanted: java.util.Set[Binary], limit: Int): Array[PostingBlock] = {
    def column(name: String) = new Column(store.getColumnReader(schema.getColumnDescription(Array(name))))
    val term = column("term")
    val rows = pages.getRowCount
    val hits = Array.newBuilder[Long]
    val terms = Array.newBuilder[String]
    var found = 0
    var i = 0L
    while (i < rows && found < limit) {
      val t = term.binaryOrNull()
      if (t != null && wanted.contains(t)) {
        hits += i; terms += t.toStringUsingUTF8; found += 1
      }
      i += 1
    }
    if (found == 0) return Array.empty
    val at = hits.result()
    // each column read in full at the matched rows, one column at a time
    def ints(name: String) = { val c = column(name); at.map { r => c.skipTo(r); c.int() } }
    def longs(name: String) = { val c = column(name); at.map { r => c.skipTo(r); c.long() } }
    def bytes(name: String) = { val c = column(name); at.map { r => c.skipTo(r); c.bytes() } }
    val salt = ints("salt"); val blockIdx = ints("blockIdx")
    val firstDocId = longs("firstDocId"); val lastDocId = longs("lastDocId")
    val n = ints("n")
    val docDeltas = bytes("docDeltas"); val tfs = bytes("tfs"); val dls = bytes("dls")
    val maxImpact = { val c = column("maxImpact"); at.map { r => c.skipTo(r); c.double() } }
    val ts = terms.result()
    Array.tabulate(found)(j => PostingBlock(ts(j), salt(j), blockIdx(j), firstDocId(j),
      lastDocId(j), n(j), docDeltas(j), tfs(j), dls(j), maxImpact(j)))
  }

  /** A cursor over one flat column: `row` is the next row's ordinal. */
  private final class Column(r: ColumnReader) {
    private val maxDef = r.getDescriptor.getMaxDefinitionLevel
    private var row = 0L
    private def defined = r.getCurrentDefinitionLevel == maxDef
    private def next(): Unit = { r.consume(); row += 1 }

    def skipTo(target: Long): Unit =
      while (row < target) { if (defined) r.skip(); next() }

    def binaryOrNull(): Binary = {
      val v = if (defined) r.getBinary else null
      next(); v
    }
    def bytes(): Array[Byte] = { val v = binaryOrNull(); if (v == null) null else v.getBytes }
    def int(): Int = { present(); val v = r.getInteger; next(); v }
    def long(): Long = { present(); val v = r.getLong; next(); v }
    def double(): Double = { present(); val v = r.getDouble; next(); v }

    // a primitive field of PostingBlock has no null, as in Spark's decoding
    private def present(): Unit =
      if (!defined) throw new IllegalStateException(s"null ${r.getDescriptor} in a posting block")
  }

  /** Values are read from the column readers, never pushed to converters. */
  private object NoConverter extends GroupConverter {
    private val primitive = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = primitive
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
