package graft.sources

import java.io.InputStream

import scala.collection.mutable.ArrayBuffer

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

/** Minimal xlsx (SpreadsheetML) reader — plain JVM, no external deps
  * (offline build; spark-excel is unavailable). Covers what the
  * reference's daily snapshot files need (`main.py:70,78`):
  * shared strings, inline strings, numeric cells, Excel serial dates,
  * and styled-but-empty rows (all-null rows are dropped, matching
  * pandas `read_excel` — SURVEY §7 quirk 4).
  *
  * Scale note: a single sheet parses on one JVM (zip + XML are
  * inherently sequential), so per-FILE is the parallel unit. Every
  * snapshot, one file or a directory of them, reads through
  * [[XlsxDataSource]] (`spark.read.format("xlsx")`), which assigns one
  * file per input partition and parses on executors via [[readBytes]],
  * the one parse path.
  */
object Xlsx {

  /** Raw sheet: header row + data rows of Option[String] cell values
    * (numeric cells render via shortest-round-trip, e.g. "44256"). */
  final case class Sheet(header: Seq[String], rows: Seq[Seq[Option[String]]])

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  /** Parse an xlsx from its raw bytes — the executor-side entry point
    * ([[XlsxDataSource]]): zip entries arrive in archive order, so both
    * parts are buffered before parsing (sharedStrings may follow the
    * sheet). Snapshot files are small by nature; a sheet too big to
    * buffer is too big for ONE parse task and belongs in a splittable
    * format instead. */
  def readBytes(bytes: Array[Byte], context: String = "<bytes>"): Sheet = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    var sharedBytes: Array[Byte] = null
    var sheetBytes: Array[Byte] = null
    try {
      var e = zin.getNextEntry
      while (e != null && (sharedBytes == null || sheetBytes == null)) {
        e.getName match {
          case "xl/sharedStrings.xml" => sharedBytes = zin.readAllBytes()
          case "xl/worksheets/sheet1.xml" => sheetBytes = zin.readAllBytes()
          case _ =>
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    if (sheetBytes == null)
      throw new IllegalArgumentException(s"no sheet1 in $context")
    val shared = Option(sharedBytes)
      .map(b => readSharedStrings(new java.io.ByteArrayInputStream(b)))
      .getOrElse(Vector.empty)
    buildSheet(readSheet(new java.io.ByteArrayInputStream(sheetBytes), shared))
  }

  private def buildSheet(raw: Seq[Seq[Option[String]]]): Sheet = {
    val width = raw.map(_.size).maxOption.getOrElse(0)
    val padded = raw.map(r => r.padTo(width, None))
    val header = padded.headOption.getOrElse(Seq.empty).map(_.getOrElse(""))
    val data = padded.drop(1).filter(_.exists(_.isDefined))
    Sheet(header, data)
  }

  private def readSharedStrings(in: InputStream): Vector[String] = {
    val reader = factory.createXMLStreamReader(in)
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    var inSi = false
    var inT = false
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            reader.getLocalName match {
              case "si" => inSi = true; sb.clear()
              case "t" if inSi => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inT =>
            sb.append(reader.getText)
          case XMLStreamConstants.END_ELEMENT =>
            reader.getLocalName match {
              case "t" => inT = false
              case "si" => inSi = false; out += sb.toString
              case _ =>
            }
          case _ =>
        }
      }
    } finally reader.close()
    out.result()
  }

  /** Column letter(s) of an A1-style cell ref → 0-based index. */
  private def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1
  }

  private def readSheet(in: InputStream, shared: Vector[String]): Seq[Seq[Option[String]]] = {
    val reader = factory.createXMLStreamReader(in)
    val rows = ArrayBuffer.empty[Seq[Option[String]]]
    var row: ArrayBuffer[Option[String]] = null
    var cellCol = -1
    var cellType = ""
    var inV = false
    val v = new StringBuilder
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            reader.getLocalName match {
              case "row" => row = ArrayBuffer.empty
              case "c" if row != null =>
                cellCol = Option(reader.getAttributeValue(null, "r"))
                  .map(colIndex).getOrElse(row.size)
                cellType = Option(reader.getAttributeValue(null, "t")).getOrElse("n")
              case "v" | "t" if cellCol >= 0 => inV = true; v.clear()
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inV =>
            v.append(reader.getText)
          case XMLStreamConstants.END_ELEMENT =>
            reader.getLocalName match {
              case "v" | "t" if inV =>
                inV = false
                val value = cellType match {
                  case "s" => shared.lift(v.toString.trim.toInt)
                  case _   => Some(v.toString)
                }
                while (row.size <= cellCol) row += None
                // rich/inline strings may emit several <t> runs per cell
                row(cellCol) = (row(cellCol), value) match {
                  case (Some(a), Some(b)) => Some(a + b)
                  case (a, b) => b.orElse(a)
                }
              case "c" => cellCol = -1
              case "row" if row != null => rows += row.toSeq; row = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally reader.close()
    rows.toSeq
  }
}
