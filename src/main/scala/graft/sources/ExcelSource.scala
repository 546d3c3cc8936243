package graft.sources

import java.io.{ByteArrayInputStream, InputStream, OutputStream}
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import graft.operators.Casting
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Excel (.xlsx) source — SURVEY §2.1 S3, the reference's bronze
  * orders / order-items ingest (docs/etl_processes.md:133,189:
  * `com.crealytics.spark.excel` with header=true, inferSchema=true).
  *
  * No connector jar is available offline, so this parses the format
  * directly with the JDK: an .xlsx file is a ZIP (java.util.zip) of
  * SpreadsheetML XML parts (javax.xml.stream StAX). Supported surface —
  * everything a tabular data drop actually contains:
  *   - shared strings (incl. rich-text runs), inline strings, formula
  *     string results (t="str"), booleans, error cells (→ null);
  *   - sparse rows/cells via the `r` cell reference (gaps → null);
  *   - date/time numerics: styles.xml number formats (built-in ids and
  *     custom format codes) classify a cell as date or datetime, and
  *     the serial is converted to an ISO string — including the 1900
  *     leap-year-bug offset and the 1904 date system flag;
  *   - sheet selection by workbook order (default first), name, or
  *     index, resolved through the workbook rels (not by hardcoded
  *     part name) — the capability the crealytics `dataAddress`
  *     option provides.
  *
  * Spark-first distribution: files land as one row each via the
  * `binaryFile` datasource and are parsed executor-side in a flatMap —
  * a directory of workbooks parallelizes per file with zero driver
  * involvement. That is the right unit of scale for this format: a
  * single sheet is capped at 1,048,576 rows by Excel itself, so
  * per-file parallelism is all the parallelism the format admits.
  * Schema inference is a single distributed aggregate over the parsed
  * strings (one pass, no collect of data rows); only per-file HEADER
  * rows are collected (one tiny row per file, to validate consistency).
  *
  * Like the reference's reader, all cells surface as strings first and
  * `inferSchema` then casts each column to the narrowest type covering
  * every non-null value (long → double → boolean → date → timestamp →
  * string), through the same null-on-error cast loop (Casting.castTo)
  * the CSV path uses.
  */
object ExcelSource {

  // ───────────────────────── reading ─────────────────────────

  /** Which worksheet to read from each workbook. The connector the
    * reference docs name (`com.crealytics.spark.excel`,
    * docs/etl_processes.md:133,189) selects sheets via `dataAddress`
    * (`'SheetName'!A1`); this is the same capability without the A1
    * range part (tabular drops start at A1).
    */
  sealed trait SheetSelector extends Serializable
  /** Workbook order (the default — what the crealytics default
    * `dataAddress=A1` reads). */
  case object FirstSheet extends SheetSelector
  /** By exact sheet name; a workbook without it fails loudly naming
    * the sheets it does have (silent fallback to sheet 1 would read
    * the wrong data). */
  final case class SheetName(name: String) extends SheetSelector
  /** By 0-based workbook-order index. */
  final case class SheetIndex(index: Int) extends SheetSelector

  /** Rectangular sub-range of a sheet, 0-based INCLUSIVE bounds;
    * `None` = open (an `A3` start cell reads to the sheet's end in
    * both directions). Row 0 of the RANGE is the header — that's what
    * lets a workbook with preamble rows above its real header parse
    * correctly, the crealytics `dataAddress` capability
    * (`'Sheet1'!A3:C35`, docs/etl_processes.md:133,189) the r9 sheet
    * selector left out. Rows with no cell inside the column window
    * are skipped like cell-less rows (no phantom all-null rows). */
  final case class CellRange(firstRow: Int, firstCol: Int,
                             lastRow: Option[Int], lastCol: Option[Int])
      extends Serializable

  /** Crealytics-style `dataAddress` grammar: `[sheet!]start[:end]`
    * where `sheet` is a bare name or `'quoted name'` ('' = embedded
    * quote) and start/end are A1 cell refs. Returns the sheet
    * selector (FirstSheet when unqualified) + the range. */
  object DataAddress {
    private val Cell = "([A-Za-z]{1,3})([0-9]+)".r
    def parse(addr: String): (SheetSelector, CellRange) = {
      require(addr != null && addr.trim.nonEmpty, "empty dataAddress")
      val a = addr.trim
      val (sel: SheetSelector, rangePart: String) =
        if (a.startsWith("'")) {
          // scan for the closing quote, skipping doubled ''
          val sb = new StringBuilder
          var i = 1
          var closed = -1
          while (i < a.length && closed < 0) {
            if (a.charAt(i) == '\'') {
              if (i + 1 < a.length && a.charAt(i + 1) == '\'') {
                sb.append('\''); i += 2
              } else closed = i
            } else { sb.append(a.charAt(i)); i += 1 }
          }
          require(closed > 0 && closed + 1 < a.length &&
                  a.charAt(closed + 1) == '!',
            s"malformed dataAddress '$addr': expected 'sheet'!range")
          (SheetName(sb.toString), a.substring(closed + 2))
        } else a.indexOf('!') match {
          case -1 => (FirstSheet, a)
          case i  => (SheetName(a.substring(0, i)), a.substring(i + 1))
        }
      def cell(s: String): (Int, Int) = s match {
        case Cell(colS, rowS) =>
          // A1 rows are 1-based: 'A0' would make firstRow -1 (noop)
          // but an end row of 0 silently reads NOTHING — reject
          require(rowS.toInt >= 1,
            s"malformed dataAddress '$addr': row in '$s' is 1-based")
          (rowS.toInt - 1, colIndex(colS))
        case _ => throw new IllegalArgumentException(
          s"malformed dataAddress '$addr': '$s' is not an A1 cell ref")
      }
      val range = rangePart.split(":", -1) match {
        case Array(s) =>
          val (r0, c0) = cell(s); CellRange(r0, c0, None, None)
        case Array(s, e) =>
          val (r0, c0) = cell(s)
          val (r1, c1) = cell(e)
          require(r1 >= r0 && c1 >= c0,
            s"malformed dataAddress '$addr': end cell precedes start")
          CellRange(r0, c0, Some(r1), Some(c1))
        case _ => throw new IllegalArgumentException(
          s"malformed dataAddress '$addr': expected start[:end]")
      }
      (sel, range)
    }
  }

  /** Read one .xlsx file or a directory of them into a DataFrame.
    * Row 0 of (every) sheet is the header; headers must agree across
    * files. `sourceFileCol` adds a file-lineage column (the reference
    * adds `input_file_name()` post-read — same information).
    * `sheet` picks the worksheet per workbook (default: first).
    */
  def read(spark: SparkSession, path: String,
           inferSchema: Boolean = true,
           sourceFileCol: Option[String] = None,
           sheet: SheetSelector = FirstSheet,
           range: Option[CellRange] = None): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    // (file, rowIdx, cells padded to that file's header width)
    val parsed = bin.flatMap { case (p, bytes) =>
      val rows = parseNamed(p, bytes, Int.MaxValue, sheet, range)
      val width = rows.headOption.map(_.length).getOrElse(0)
      // stray cells beyond the header width are dropped (the schema is
      // the header's); that must not happen in silence — one warning
      // per file names it and counts the affected rows
      val over = rows.count(_.length > width)
      if (over > 0)
        org.slf4j.LoggerFactory.getLogger("graft.sources.ExcelSource").warn(
          s"ExcelSource: $p has $over row(s) with cells beyond the " +
          s"header's $width column(s); extra cells dropped")
      rows.iterator.zipWithIndex.map { case (cells, i) =>
        (p, i.toLong, cells.padTo(width, null: String).take(width).toSeq)
      }
    }
    // header pass stops the sheet scan after row 0 (maxRows early
    // stop); the auxiliary parts (shared strings, styles) still decode
    // — header cells are usually shared strings — but the data rows,
    // the bulk of a large sheet, are never touched
    val hdrRows = bin.flatMap { case (p, bytes) =>
      parseNamed(p, bytes, maxRows = 1, sheet, range).headOption
        .map(h => (p, 0L, h.toSeq))
    }.collect().sortBy(_._1)
    require(hdrRows.nonEmpty, s"no non-empty .xlsx sheets under $path")
    val first = hdrRows.head
    hdrRows.foreach { case (p, _, h) =>
      require(h == first._3,
        s"header mismatch: $p has $h, ${first._1} has ${first._3}")
    }
    val header = first._3.zipWithIndex.map {
      case (h, i) => if (h == null || h.isEmpty) s"_c$i" else h
    }
    // Spark resolves column names case-insensitively by default, and
    // header cells are arbitrary text ("order.total", "ID" vs "id") —
    // dedupe case-insensitively and address columns by alias, with
    // dots kept out of resolution via the backtick form below
    require(header.map(_.toLowerCase).distinct.size == header.size,
      s"duplicate header names (case-insensitive): $header")
    val cols = header.zipWithIndex.map {
      case (h, i) => col("_3").getItem(i).as(h)
    } ++ sourceFileCol.map(c => col("_1").as(c))
    val df = parsed.filter(_._2 > 0L).toDF("_1", "_2", "_3")
      .select(cols: _*)
    if (!inferSchema) df
    else {
      // the inference aggregate below and every caller action would
      // each re-run the ZIP+StAX parse of EVERY workbook (the ingest
      // path alone runs isEmpty + the landing write on the returned
      // frame — three full parses). Persist the parsed string frame
      // across them: inference materializes the cache in one parse,
      // all later actions read columnar cache. MEMORY_AND_DISK keeps
      // it bounded-spill, and the format itself caps the data (1M
      // rows/sheet), so the cache is ingest-batch-sized, never
      // table-sized. Lifetime: one slot — the next ExcelSource.read
      // in this JVM evicts it (batch-ingest contract; two CONCURRENT
      // Excel reads merely recompute, never return wrong data).
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Option(lastCache.getAndSet(cached))
        .foreach(_.unpersist(blocking = false))
      Casting.castTo(cached, inferTypes(cached, header))
    }
  }

  /** The one retained parse cache — see the persist note in [[read]]. */
  private val lastCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Narrowest type covering all non-null values of each column, from
    * one distributed aggregate pass (no data collected). */
  private[sources] def inferTypes(df: DataFrame,
                                  names: Seq[String]): StructType = {
    // ANSI-off sessions (the engine default) get the legacy cast —
    // null on malformed input with NO exception; try_cast is only for
    // ANSI-on sessions, where its per-failing-cell TryEval catch would
    // otherwise be an exception storm over every non-numeric cell
    // (same rule as Casting.castTo)
    val ansiOn = df.sparkSession.conf
      .get("spark.sql.ansi.enabled", "true").toBoolean
    def nullableCast(c: org.apache.spark.sql.Column, dt: DataType) =
      if (ansiOn) c.try_cast(dt) else c.cast(dt)
    val flags = names.flatMap { n =>
      val c = Casting.ref(n)
      def cnt(b: org.apache.spark.sql.Column) =
        sum(when(b, 1L).otherwise(0L))
      Seq(
        cnt(c.isNotNull).as(s"n:$n"),
        cnt(c.rlike("^-?\\d+$") && nullableCast(c, LongType).isNotNull)
          .as(s"long:$n"),
        cnt(nullableCast(c, DoubleType).isNotNull).as(s"dbl:$n"),
        cnt(lower(c).isin("true", "false")).as(s"bool:$n"),
        // shape AND validity: "2023-02-30" is date-shaped but must not
        // infer DateType (the later cast would silently null it)
        cnt(c.rlike("^\\d{4}-\\d{2}-\\d{2}$") &&
            nullableCast(c, DateType).isNotNull).as(s"date:$n"),
        cnt(c.rlike("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$") &&
            nullableCast(c, TimestampType).isNotNull).as(s"ts:$n"))
    }
    val r = df.agg(flags.head, flags.tail: _*).collect()(0)
    def v(k: String, n: String) = r.getAs[Long](s"$k:$n")
    StructType(names.map { n =>
      val total = v("n", n)
      val dt =
        if (total == 0L) StringType
        else if (v("long", n) == total) LongType
        else if (v("dbl", n) == total) DoubleType
        else if (v("bool", n) == total) BooleanType
        else if (v("date", n) == total) DateType
        else if (v("date", n) + v("ts", n) == total && v("ts", n) > 0)
          TimestampType
        else StringType
      StructField(n, dt)
    })
  }

  // ───────────────── workbook parsing (executor-side) ─────────────────

  /** [[parseWorkbook]] with the FILE named in any failure — a corrupt
    * workbook in a 10k-file directory must say which one it is, not
    * surface a bare ZipException from some task. */
  /** [[read]] with a crealytics-style `dataAddress`
    * (`'Sheet2'!A3:C35`, `Sheet1!B2`, `A1`): sheet qualifier +
    * sub-range in one string, the option surface the reference's
    * connector exposes (docs/etl_processes.md:133,189). */
  def readAddress(spark: SparkSession, path: String, dataAddress: String,
                  inferSchema: Boolean = true,
                  sourceFileCol: Option[String] = None): DataFrame = {
    val (sel, range) = DataAddress.parse(dataAddress)
    read(spark, path, inferSchema, sourceFileCol, sel, Some(range))
  }

  private def parseNamed(path: String, bytes: Array[Byte],
                         maxRows: Int,
                         sheet: SheetSelector = FirstSheet,
                         range: Option[CellRange] = None): Vector[Array[String]] =
    try parseWorkbook(bytes, maxRows, sheet, range) catch {
      case e: Exception => throw new java.io.IOException(
        s"not a readable .xlsx workbook: $path (${e.getMessage})", e)
    }

  /** Parse the selected worksheet into rows of cell strings (null =
    * empty/error cell), in document order. Pure JDK; one streaming XML
    * pass per part over the in-memory bytes. `maxRows` stops the sheet
    * scan early (the header pass reads one row, not the workbook). */
  private[sources] def parseWorkbook(bytes: Array[Byte],
                                     maxRows: Int = Int.MaxValue,
                                     sheet: SheetSelector = FirstSheet,
                                     range: Option[CellRange] = None): Vector[Array[String]] = {
    val parts = collectParts(bytes)
    val (sheetPath, date1904) = locateSheet(parts, sheet)
    val shared = parts.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    val dateKind = parts.get("xl/styles.xml")
      .map(parseStyleDateKinds).getOrElse(Array.empty[Int])
    // a sheet outside the conventional worksheets dir (exotic rels
    // target) falls back to a targeted second scan; a sheet that then
    // STILL cannot be found is an error, not an empty sheet — silently
    // parsing such a workbook as zero rows would drop its data from a
    // multi-file read with no trace (parseNamed adds the file name)
    parts.get(sheetPath).orElse(entryBytes(bytes, sheetPath)) match {
      case None => throw new IllegalArgumentException(
        s"selected worksheet part '$sheetPath' not found in archive")
      case Some(sh) => parseSheet(sh, shared, dateKind, date1904, maxRows, range)
    }
  }

  /** All parts a parse needs, in ONE pass over the archive (the
    * stream decompresses sequentially — per-part rescans would decode
    * every preceding entry again for each of the five parts). */
  private def collectParts(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val in = new ZipInputStream(new ByteArrayInputStream(zip))
    val out = Map.newBuilder[String, Array[Byte]]
    try {
      var e: ZipEntry = in.getNextEntry
      while (e != null) {
        val n = e.getName
        if (n == "xl/workbook.xml" || n == "xl/_rels/workbook.xml.rels" ||
            n == "xl/sharedStrings.xml" || n == "xl/styles.xml" ||
            n.startsWith("xl/worksheets/"))
          out += n -> in.readAllBytes()
        e = in.getNextEntry
      }
    } finally in.close()
    out.result()
  }

  private def entryBytes(zip: Array[Byte], name: String): Option[Array[Byte]] = {
    val in = new ZipInputStream(new ByteArrayInputStream(zip))
    try {
      var e: ZipEntry = in.getNextEntry
      while (e != null) {
        if (e.getName == name) return Some(in.readAllBytes())
        e = in.getNextEntry
      }
      None
    } finally in.close()
  }

  private def xmlReader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes): InputStream)
  }

  /** The selected sheet's part path (via workbook order + rels) and
    * the date1904 flag. Falls back to the conventional part name when
    * the rels are absent (FirstSheet only — name/index selection NEEDS
    * the workbook part to resolve, so its absence is an error there).
    * An unknown sheet name or out-of-range index fails loudly, naming
    * the sheets the workbook does have — silently reading sheet 1
    * instead would be wrong-data, the worst failure mode. */
  private def locateSheet(parts: Map[String, Array[Byte]],
                          sel: SheetSelector): (String, Boolean) = {
    var date1904 = false
    // (name, rid) in workbook document order
    val sheets = Vector.newBuilder[(String, String)]
    parts.get("xl/workbook.xml").foreach { wb =>
      val r = xmlReader(wb)
      try while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "workbookPr" =>
                val v = r.getAttributeValue(null, "date1904")
                date1904 = v == "1" || v == "true"
              case "sheet" =>
                val rid = (0 until r.getAttributeCount)
                  .find(i => r.getAttributeLocalName(i) == "id")
                  .map(r.getAttributeValue).orNull
                val name = r.getAttributeValue(null, "name")
                if (rid != null) sheets += ((name, rid))
              case _ =>
            }
          case _ =>
        }
      } finally r.close()
    }
    val all = sheets.result()
    val chosenRid: Option[String] = sel match {
      case FirstSheet => all.headOption.map(_._2)
      case SheetName(n) =>
        Some(all.find(_._1 == n).map(_._2).getOrElse(throw new IllegalArgumentException(
          s"no worksheet named '$n'; workbook has ${all.map(_._1).mkString("[", ", ", "]")}")))
      case SheetIndex(i) =>
        Some(all.lift(i).map(_._2).getOrElse(throw new IllegalArgumentException(
          s"sheet index $i out of range; workbook has ${all.size} sheet(s)")))
    }
    val target = (for {
      rid <- chosenRid
      rels <- parts.get("xl/_rels/workbook.xml.rels")
      t <- relTarget(rels, rid)
    } yield if (t.startsWith("/")) t.drop(1) else s"xl/$t")
    sel match {
      case FirstSheet => (target.getOrElse("xl/worksheets/sheet1.xml"), date1904)
      case _ => (target.getOrElse(throw new IllegalArgumentException(
        "workbook rels missing: cannot resolve the selected sheet's part")), date1904)
    }
  }

  private def relTarget(rels: Array[Byte], rid: String): Option[String] = {
    val r = xmlReader(rels)
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship" &&
            r.getAttributeValue(null, "Id") == rid)
          return Option(r.getAttributeValue(null, "Target"))
      }
      None
    } finally r.close()
  }

  /** `<si>` entries; rich-text runs concatenate all `<t>` text. */
  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = xmlReader(bytes)
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var inT = false
    try while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t" if cur != null => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inT) cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => out += cur.toString; cur = null
            case _ =>
          }
        case _ =>
      }
    } finally r.close()
    out.result()
  }

  /** Per-cellXfs-index date classification: 0 = not a date (raw
    * serial surfaces), 1 = date, 2 = datetime, 3 = time of day.
    * Built-in numFmtIds follow ECMA-376 §18.8.30; custom codes are
    * classified by their tokens (quoted text and [..] sections
    * stripped first). Elapsed-duration formats — built-ins 45-47 and
    * custom codes with [h]/[m]/[s] brackets — stay 0: a 30-hour
    * duration anchored at 1899-12-30 would be semantic corruption, so
    * the raw numeric serial is the honest value. */
  private def parseStyleDateKinds(bytes: Array[Byte]): Array[Int] = {
    val custom = scala.collection.mutable.Map[Int, String]()
    val xfs = Vector.newBuilder[Int]
    var inCellXfs = false
    val r = xmlReader(bytes)
    try while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "numFmt" =>
              val id = r.getAttributeValue(null, "numFmtId")
              val code = r.getAttributeValue(null, "formatCode")
              if (id != null && code != null) custom(id.toInt) = code
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              val id = Option(r.getAttributeValue(null, "numFmtId"))
                .map(_.toInt).getOrElse(0)
              xfs += id
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          if (r.getLocalName == "cellXfs") inCellXfs = false
        case _ =>
      }
    } finally r.close()
    xfs.result().map(id => numFmtDateKind(id, custom.get(id))).toArray
  }

  private def numFmtDateKind(id: Int, code: Option[String]): Int = id match {
    case 22 => 2
    case i if (i >= 14 && i <= 17) || (i >= 27 && i <= 36) ||
              (i >= 50 && i <= 58) => 1
    case i if i >= 18 && i <= 21 => 3 // h:mm[:ss] [AM/PM]: time of day
    case i if i >= 45 && i <= 47 => 0 // mm:ss, [h]:mm:ss: durations
    case _ =>
      code.map { c =>
        // elapsed-duration brackets, checked BEFORE [..] stripping
        if ("\\[[hms]+\\]".r.findFirstIn(c.toLowerCase).isDefined) 0
        else {
          val bare = c.replaceAll("\"[^\"]*\"", "")
            .replaceAll("\\[[^\\]]*\\]", "").toLowerCase
          // 'm' is ambiguous (month vs minute): date detection keys on
          // y/d — "h:mm" must not read as a date, and real date codes
          // carry a year or day token
          val hasDate = bare.exists("yd".contains(_))
          val hasTime = bare.exists("hs".contains(_)) || bare.contains(":")
          if (hasDate && hasTime) 2
          else if (hasDate) 1
          else if (hasTime) 3
          else 0
        }
      }.getOrElse(0)
  }

  private def parseSheet(bytes: Array[Byte], shared: Vector[String],
                         dateKind: Array[Int], date1904: Boolean,
                         maxRows: Int,
                         range: Option[CellRange] = None): Vector[Array[String]] = {
    val firstRow = range.map(_.firstRow).getOrElse(0)
    val lastRow = range.flatMap(_.lastRow).getOrElse(Int.MaxValue)
    val firstCol = range.map(_.firstCol).getOrElse(0)
    val lastColExcl = range.flatMap(_.lastCol).map(_ + 1).getOrElse(Int.MaxValue)
    val rows = Vector.newBuilder[Array[String]]
    var nRows = 0
    var physRow = 0           // document-order row count (fallback when
                              // a producer omits the r= row attribute)
    val r = xmlReader(bytes)
    var cells: scala.collection.mutable.ArrayBuffer[String] = null
    var cellCol = -1          // 0-based column of the current <c>
    var cellType = ""
    var cellStyle = 0
    var text: StringBuilder = null
    var inIs = false          // inside <is> (inline string)
    var capture = false       // inside <v> or <is><t>
    try while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              // sheet row number: the 1-based r= attribute when present
              // (sparse sheets omit EMPTY rows entirely — document
              // order alone would mis-place everything after a gap),
              // else document order
              val rowNum = Option(r.getAttributeValue(null, "r"))
                .map(_.toInt - 1).getOrElse(physRow)
              physRow = rowNum + 1
              // past the range: stop the scan (the point of a bounded
              // range on a huge sheet). Safe because ECMA-376 requires
              // <row> elements in ascending r order — unlike CELLS,
              // where real producers do emit out-of-order refs
              if (rowNum > lastRow) return rows.result()
              cells =
                if (rowNum < firstRow) null // preamble row: skip cheaply
                else scala.collection.mutable.ArrayBuffer[String]()
            case "c" if cells != null =>
              val ref = r.getAttributeValue(null, "r")
              cellCol = if (ref != null) colIndex(ref) else cells.length
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              cellStyle = Option(r.getAttributeValue(null, "s"))
                .map(_.toInt).getOrElse(0)
              text = new StringBuilder
            case "is" => inIs = true
            case "v" if text != null => capture = true
            case "t" if inIs && text != null => capture = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (capture) text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => capture = false
            case "t" => capture = false
            case "is" => inIs = false
            case "c" if cells != null =>
              val v = cellValue(cellType, text.toString, cellStyle,
                                shared, dateKind, date1904)
              if (cellCol < cells.length) {
                // out-of-order or duplicate `r` refs (malformed
                // producers emit both): place the value at its
                // REFERENCED index — blind append would silently
                // shift it into the wrong column. A duplicate ref
                // keeps the last value (spreadsheet overwrite
                // semantics).
                cells(cellCol) = v
              } else {
                while (cells.length < cellCol) cells += null
                cells += v
              }
              text = null
            case "row" =>
              // cell-less <row/> elements (style/height carriers real
              // producers emit) hold no data: skip, don't emit a
              // phantom all-null row (or a zero-width header). The
              // column window is applied here: values sit at their
              // ABSOLUTE column index, so the slice both drops
              // out-of-window cells and shifts firstCol to index 0.
              if (cells != null && cells.nonEmpty) {
                if (firstCol == 0 && lastColExcl == Int.MaxValue) {
                  anchorRangeStart(range, nRows, physRow - 1, firstRow)
                  rows += cells.toArray // unranged: exact r9 behavior
                  nRows += 1
                } else {
                  val windowed = cells.slice(firstCol,
                    math.min(lastColExcl, cells.length)).toArray
                  // a row whose cells all sit OUTSIDE the column
                  // window carries nothing — emitting it would be a
                  // phantom all-null row the preamble was supposed
                  // to exclude
                  if (windowed.exists(_ != null)) {
                    anchorRangeStart(range, nRows, physRow - 1, firstRow)
                    rows += windowed
                    nRows += 1
                  }
                }
              }
              cells = null
              if (nRows >= maxRows) return rows.result()
            case _ =>
          }
        case _ =>
      }
    } finally r.close()
    rows.result()
  }

  /** Header-anchor guard for ranged reads: the FIRST emitted row must
    * be the row at the range's start (crealytics anchors the header at
    * the start cell). Without this, a start row that is sparse-omitted
    * from the XML, cell-less, or all-null inside the column window is
    * silently skipped and the next qualifying DATA row is promoted to
    * header — mislabeling every column by one row. Fail loudly with
    * the 1-based sheet coordinates instead. */
  private def anchorRangeStart(range: Option[CellRange], nRows: Int,
                               rowNum: Int, firstRow: Int): Unit =
    if (range.isDefined && nRows == 0 && rowNum != firstRow)
      throw new IllegalArgumentException(
        s"dataAddress start row ${firstRow + 1} has no cells inside the " +
        s"range's column window (first non-empty row is ${rowNum + 1}): " +
        "the header must anchor at the range start — fix the dataAddress " +
        "or the sheet's preamble")

  private def cellValue(t: String, raw: String, style: Int,
                        shared: Vector[String], dateKind: Array[Int],
                        date1904: Boolean): String = t match {
    case "s" =>
      if (raw.trim.isEmpty) null else shared.lift(raw.trim.toInt).orNull
    case "inlineStr" => raw
    case "str" => raw
    case "b" => // empty = no value, same as the numeric branch
      if (raw.trim.isEmpty) null
      else if (raw.trim == "1") "true" else "false"
    case "e" => null
    case "d" => raw // ISO-8601 date literal cell
    case _ => // number ("" or "n")
      if (raw.isEmpty) null
      else {
        val kind = if (style < dateKind.length) dateKind(style) else 0
        kind match {
          case 0 => raw
          case 3 => // time of day: the serial's fraction, HH:mm:ss
            val frac = raw.toDouble
            val secs = math.round((frac - math.floor(frac)) * 86400.0) % 86400
            f"${secs / 3600}%02d:${(secs % 3600) / 60}%02d:${secs % 60}%02d"
          case k => serialToIso(raw.toDouble, k == 2, date1904)
        }
      }
  }

  /** "BC12" → 0-based column 54. */
  private[sources] def colIndex(ref: String): Int = {
    var i = 0; var n = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    n - 1
  }

  private val Epoch1900 = LocalDate.of(1899, 12, 30)

  /** Excel serial → ISO date / datetime string. 1900 system: serials
    * below 60 predate the phantom 1900-02-29 and shift by one; 1904
    * system offsets by 1462 days. Time is rounded to whole seconds
    * (Excel's own display precision). */
  private[graft] def serialToIso(serial: Double, withTime: Boolean,
                                   date1904: Boolean): String = {
    val adj = if (date1904) serial + 1462
              else if (serial < 60) serial + 1 else serial
    var days = math.floor(adj).toLong
    var secs = math.round((adj - math.floor(adj)) * 86400.0)
    if (secs >= 86400) { days += 1; secs -= 86400 }
    val d = Epoch1900.plusDays(days)
    if (withTime)
      f"$d ${secs / 3600}%02d:${(secs % 3600) / 60}%02d:${secs % 60}%02d"
    else d.toString
  }

  // ───────────────────────── writing ─────────────────────────

  /** Write a minimal valid .xlsx (inline strings, date/datetime
    * styles). The format itself caps a sheet at 1,048,576 rows, so a
    * single workbook is a small-result contract — large exports go
    * through [[writeDir]], one workbook per partition. Deterministic
    * bytes (fixed zip entry times) so content-addressed caches work. */
  def write(header: Seq[String], rows: IterableOnce[Seq[Any]],
            out: OutputStream): Unit =
    writeSheets(Seq(("Sheet1", header, rows)), out)

  /** Multi-sheet variant: one (name, header, rows) per worksheet, in
    * workbook order. Sheet names must be distinct and non-empty.
    * Rows stream straight into the zip entry — a million-row sheet
    * never materializes as one XML string in memory. */
  def writeSheets(sheetsIn: Seq[(String, Seq[String], IterableOnce[Seq[Any]])],
                  out: OutputStream): Unit = {
    require(sheetsIn.nonEmpty, "at least one sheet required")
    val names = sheetsIn.map(_._1)
    require(names.forall(_.nonEmpty) && names.distinct.size == names.size,
      s"sheet names must be distinct and non-empty: $names")
    // Excel's own naming rules — violating them produces a zip this
    // library round-trips but Excel "repairs" or rejects on open,
    // breaking the "minimal VALID .xlsx" contract at the consumer's
    // desktop instead of here
    val badChars = Set(':', '\\', '/', '?', '*', '[', ']')
    names.foreach { nm =>
      require(nm.length <= 31,
        s"sheet name '$nm' exceeds Excel's 31-character cap")
      require(!nm.exists(badChars), s"sheet name '$nm' contains a " +
        "character Excel forbids (one of : \\ / ? * [ ])")
    }
    val zip = new ZipOutputStream(out)
    def part(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(1577836800000L) // 2020-01-01, fixed for determinism
      zip.putNextEntry(e)
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val n = sheetsIn.size
    val sheetOverrides = (1 to n).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString("\n")
    part("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |$sheetOverrides
        |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
        |</Types>""".stripMargin)
    part("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    val sheetDecls = names.zipWithIndex.map { case (nm, i) =>
      s"""<sheet name="${xmlEscape(nm)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    part("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets>$sheetDecls</sheets>
        |</workbook>""".stripMargin)
    val sheetRels = (1 to n).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
      .mkString("\n")
    part("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |$sheetRels
        |<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
        |</Relationships>""".stripMargin)
    // style index 1 = date (built-in 14), 2 = datetime (built-in 22)
    part("xl/styles.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>
        |<borders count="1"><border/></borders>
        |<cellStyleXfs count="1"><xf/></cellStyleXfs>
        |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs>
        |</styleSheet>""".stripMargin)
    sheetsIn.zipWithIndex.foreach { case ((_, header, rows), si) =>
      val e = new ZipEntry(s"xl/worksheets/sheet${si + 1}.xml")
      e.setTime(1577836800000L)
      zip.putNextEntry(e)
      def flush(s: String): Unit = zip.write(s.getBytes("UTF-8"))
      flush("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        "\n<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>")
      var rowNum = 1
      def emitRow(vals: Seq[Any]): Unit = {
        val sheet = new StringBuilder
        sheet ++= s"""<row r="$rowNum">"""
        vals.zipWithIndex.foreach { case (v, i) =>
          val ref = s"${colRef(i)}$rowNum"
          v match {
            case null | None => // gap
            case b: Boolean =>
              sheet ++= s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
            case n @ (_: Int | _: Long | _: Short | _: Byte) =>
              sheet ++= s"""<c r="$ref"><v>$n</v></c>"""
            case d: Double =>
              sheet ++= s"""<c r="$ref"><v>$d</v></c>"""
            case f: Float =>
              sheet ++= s"""<c r="$ref"><v>$f</v></c>"""
            case d: java.math.BigDecimal =>
              sheet ++= s"""<c r="$ref"><v>${d.toPlainString}</v></c>"""
            case d: java.sql.Date =>
              sheet ++= s"""<c r="$ref" s="1"><v>${dateSerial(d.toLocalDate)}</v></c>"""
            case d: LocalDate =>
              sheet ++= s"""<c r="$ref" s="1"><v>${dateSerial(d)}</v></c>"""
            case t: java.sql.Timestamp =>
              val ldt = t.toLocalDateTime
              val serial = dateSerial(ldt.toLocalDate) +
                ldt.toLocalTime.toSecondOfDay / 86400.0
              sheet ++= s"""<c r="$ref" s="2"><v>$serial</v></c>"""
            case t: java.time.Instant =>
              val ldt = java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)
              val serial = dateSerial(ldt.toLocalDate) +
                ldt.toLocalTime.toSecondOfDay / 86400.0
              sheet ++= s"""<c r="$ref" s="2"><v>$serial</v></c>"""
            case s =>
              sheet ++= s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(s.toString)}</t></is></c>"""
          }
        }
        sheet ++= "</row>"
        rowNum += 1
        flush(sheet.toString)
      }
      emitRow(header)
      rows.iterator.foreach(emitRow)
      flush("</sheetData></worksheet>")
      zip.closeEntry()
    }
    zip.finish()
  }

  /** Distributed export: one `part-NNNNN.xlsx` per partition, written
    * EXECUTOR-side through the Hadoop FileSystem API (works for
    * file:// and any configured cluster FS), plus a `_SUCCESS` marker
    * once every partition committed — the same layout contract as the
    * parquet sinks, so [[read]] on the directory round-trips. No rows
    * ever pass through the driver; the per-file row bound is the
    * caller's partitioning (Excel caps a sheet at 1,048,575 data rows
    * and the writer enforces it per partition, failing loudly rather
    * than emitting a workbook Excel itself would refuse to open).
    * Empty partitions still emit a header-only part so a fully-empty
    * frame round-trips to its schema instead of a read error.
    * Tasks write to a `part-NNNNN.xlsx.inprogress` name and rename on
    * completion — a crashed task never leaves a half-written file
    * that a later directory read would pick up. */
  def writeDir(df: DataFrame, dir: String): Unit = {
    val header = df.columns.toSeq
    val spark = df.sparkSession
    // Hadoop Configuration is not Serializable; ship its entries and
    // rebuild executor-side (public-API equivalent of Spark's internal
    // SerializableConfiguration)
    import scala.jdk.CollectionConverters._
    val confEntries = spark.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val bcConf = spark.sparkContext.broadcast(confEntries)
    import org.apache.hadoop.fs.Path
    val dirPath = new Path(dir)
    val driverFs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    driverFs.mkdirs(dirPath)
    // stale part/marker files from a previous failed export would
    // merge into this one on read — clear them first
    Option(driverFs.globStatus(new Path(dirPath, "part-*.xlsx*")))
      .getOrElse(Array.empty).foreach(s => driverFs.delete(s.getPath, false))
    driverFs.delete(new Path(dirPath, "_SUCCESS"), false)
    val maxRows = 1048575 // Excel's sheet cap minus the header row
    val rdd0 = df.rdd
    // a ZERO-partition frame (spark.emptyDataFrame, empty relations)
    // schedules no tasks at all — without this the export would be an
    // unreadable dir of just _SUCCESS; one header-only part keeps the
    // "empty frame round-trips to its schema" contract
    if (rdd0.getNumPartitions == 0) {
      val out = new Path(dirPath, "part-00000.xlsx")
      val os = driverFs.create(out, true)
      try write(header, Iterator.empty, os) finally os.close()
      val ok = driverFs.create(new Path(dirPath, "_SUCCESS"), true)
      ok.close()
      return
    }
    rdd0.mapPartitionsWithIndex { (pid, it) =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      bcConf.value.foreach { case (k, v) => conf.set(k, v) }
      val out = new Path(dir, f"part-$pid%05d.xlsx")
      // the ATTEMPT id in the tmp name keeps speculative / retried
      // task attempts from clobbering each other's in-flight bytes;
      // whichever attempt renames first wins, the loser removes its
      // own tmp (both produced a complete workbook for the same
      // partition, so either winning is correct)
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val tmp = new Path(dir, f"part-$pid%05d.xlsx.inprogress-$attempt")
      val fs = out.getFileSystem(conf)
      val os = fs.create(tmp, true)
      var n = 0L
      val rows = it.map { r =>
        n += 1
        if (n > maxRows) throw new IllegalStateException(
          s"partition $pid exceeds Excel's $maxRows-row sheet cap; " +
          "repartition the frame before writeDir")
        r.toSeq
      }
      try write(header, rows, os) finally os.close()
      publishPart(fs, tmp, out,
                  new Path(dir, f"part-$pid%05d.xlsx.claim"), attempt)
      Iterator.single(1)
    }.count()
    // failed/lost task attempts that died between create and rename
    // leave `*.xlsx.inprogress-<attempt>` tmps behind — invisible to
    // read() (its glob is *.xlsx) but accumulating forever. When
    // count() returns every partition has a COMMITTED part, so the
    // sweep is correct to run. HARD CONTRACT (see [[publishPart]]):
    // a committed part can never be replaced afterwards — a zombie
    // speculative twin that Spark kills asynchronously finds the
    // partition's claim file taken and its part committed, deletes
    // its own tmp, and exits without ever renaming. The only residue
    // a zombie can leave is an inprogress tmp recreated after this
    // sweep (it creates its tmp at task start, before observing the
    // claim) — invisible to read() and cleared by the next writeDir's
    // unconditional part-*.xlsx* pre-sweep, which runs whether or not
    // _SUCCESS exists; a crashed JOB leaves tmps but no _SUCCESS,
    // handled the same way. (Swept in-task instead, a speculative
    // twin could delete a LIVE attempt's in-flight tmp.) Claim files
    // must PERSIST past this point: deleting them here would reopen
    // the replace window for a zombie arriving later — the pre-sweep
    // of the next export is their collector.
    Option(driverFs.globStatus(new Path(dirPath, "part-*.xlsx.inprogress-*")))
      .getOrElse(Array.empty).foreach(s => driverFs.delete(s.getPath, false))
    val ok = driverFs.create(new Path(dirPath, "_SUCCESS"), true)
    ok.close()
  }

  /** Commit one task attempt's complete workbook `tmp` as the
    * partition's part file `out` — exactly-once publish under
    * speculative execution, as a hard contract rather than a
    * tolerated race.
    *
    * Speculation cannot be scoped off at runtime (`spark.speculation`
    * is a scheduler conf fixed at context start — the
    * checkpointKeepingLayout scoped-conf pattern does not apply), so
    * the exclusivity is built from `create(path, overwrite = false)`.
    * SCOPE: that create is atomic on HDFS, POSIX-local, ABFS, and GCS
    * — there the never-replaced contract below is hard. Hadoop S3A
    * implements it as check-then-create (S3's native conditional PUT
    * is not wired through), so on S3A two racers can both win a claim
    * and the guarantee degrades to the old protocol's tolerance: both
    * rename complete, equivalent workbooks and last-writer-wins —
    * rows are never lost or mixed, only the "rename cannot happen at
    * all" property is local/HDFS-only (same envelope as the table
    * layer's commit records; see LakehouseTable's filesystem
    * contract doc and FsContractSpec). The
    * first attempt to create the partition's CLAIM file owns the
    * publish and renames its tmp into place; every later attempt —
    * including a zombie speculative twin still running after the
    * stage completed — finds the claim taken and the part committed,
    * deletes its own tmp, and exits WITHOUT renaming. A committed
    * part is therefore never replaced (the pre-claim-protocol writer
    * relied on "both workbooks are equivalent" to tolerate a late
    * zombie's rename landing over the winner; now the rename cannot
    * happen at all). Claim files persist until the next export's
    * pre-sweep — deleting them sooner would reopen the window.
    *
    * Crash recovery: a claimer that dies between claim and rename
    * leaves a claim with no part. Its retry (or a speculative twin)
    * polls briefly for the part, then TAKES OVER: deletes the dead
    * claim and loops back to claiming. Two concurrent stealers are
    * possible only after a mid-window crash plus a full poll timeout
    * in both — and even then each renames a complete workbook of the
    * same rows, so the pathological outcome matches the old
    * protocol's common case. Bounded takeovers fail loudly rather
    * than spin. */
  private[graft] def publishPart(fs: org.apache.hadoop.fs.FileSystem,
                                   tmp: org.apache.hadoop.fs.Path,
                                   out: org.apache.hadoop.fs.Path,
                                   claim: org.apache.hadoop.fs.Path,
                                   attempt: Long,
                                   pollMs: Long = 100L,
                                   polls: Int = 50): Unit = {
    var takeovers = 0
    while (true) {
      val claimed =
        try {
          val s = fs.create(claim, false)
          try s.write(java.lang.Long.toString(attempt)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally s.close()
          true
        } catch { case _: java.io.IOException => false }
      if (claimed) {
        // sole owner: the target can only exist after a takeover of a
        // crashed claimer that DID rename (we then re-publish the same
        // rows — replace is correct); on filesystems whose rename
        // refuses an existing target, that existing part is it
        if (!fs.rename(tmp, out)) {
          require(fs.exists(out),
            s"rename $tmp -> $out failed with no committed part")
          fs.delete(tmp, false)
        }
        return
      }
      // claim taken: winner committed, in flight, or dead mid-window
      var waited = 0
      while (!fs.exists(out) && waited < polls) {
        Thread.sleep(pollMs); waited += 1
      }
      if (fs.exists(out)) { fs.delete(tmp, false); return } // lost cleanly
      takeovers += 1
      require(takeovers <= 3,
        s"claim $claim held with no committed part after " +
        s"${takeovers} takeover attempts — cannot publish $out")
      fs.delete(claim, false)
    }
  }

  private def colRef(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private[sources] def dateSerial(d: LocalDate): Long = {
    val adj = ChronoUnit.DAYS.between(Epoch1900, d)
    if (adj < 61) adj - 1 else adj
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      // XML 1.0 forbids most control characters even escaped — strip
      // them (scraped text contains them; a verbatim write would
      // produce a workbook no parser, ours included, can read)
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }
}
