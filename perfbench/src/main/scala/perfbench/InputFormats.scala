package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/**
 * Writers for the binary input formats, without a Spark session: parquet
 * through parquet-hadoop's example object model, xlsx as the minimal
 * SpreadsheetML package. Input conversion thus costs no session start, and
 * the first set-up is the first to start Spark in the run.
 */
object InputFormats {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** NDJSON `src` (flat objects) to `files` parquet files of contiguous
    * rows in the directory `dst`; `schema` lists (column, "long" |
    * "string"), every column optional. */
  def ndjsonToParquet(src: Path, dst: Path, schema: Seq[(String, String)], files: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    val fields = schema.map {
      case (n, "long") => s"optional int64 $n;"
      case (n, "string") => s"optional binary $n (UTF8);"
      case (n, t) => throw new IllegalArgumentException(s"$n: unsupported type $t")
    }
    val msg = MessageTypeParser.parseMessageType(fields.mkString("message row { ", " ", " }"))
    val rows = new SimpleGroupFactory(msg)
    val lines = Files.readAllLines(src, UTF_8)
    val per = (lines.size + files - 1) / files
    Files.createDirectories(dst)
    for (part <- 0 until files) {
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dst.resolve(f"part-$part%05d.parquet").toUri))
        .withType(msg).withCompressionCodec(CompressionCodecName.SNAPPY)
        .withConf(new org.apache.hadoop.conf.Configuration()).build()
      try for (i <- part * per until math.min(lines.size, (part + 1) * per)) {
        val obj = JsonMethods.parse(lines.get(i))
        val g = rows.newGroup()
        for ((n, t) <- schema) (obj \ n, t) match {
          case (JInt(v), "long") => g.append(n, v.toLong)
          case (JString(v), "string") => g.append(n, v)
          case (JNothing | JNull, _) => ()
          case (v, _) => throw new IllegalArgumentException(s"$src: $n is $v, not $t")
        }
        w.write(g)
      } finally w.close()
    }
  }

  /** Header CSV `src` (no quoting) to a one-sheet xlsx with inline-string
    * cells, the layout ExcelIO reads. */
  def csvToXlsx(src: Path, dst: Path, sheet: String): Unit = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    val lines = Files.readAllLines(src, UTF_8)
    for (i <- 0 until lines.size) {
      sb ++= s"""<row r="${i + 1}">"""
      for (v <- lines.get(i).split(",", -1))
        sb ++= s"""<c t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      sb ++= "</row>"
    }
    sb ++= "</sheetData></worksheet>"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>"),
      "_rels/.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        (s"""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="$rel">""" +
          s"""<sheets><sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" -> sb.toString)
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(dst))
    try for ((name, body) <- parts) {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }
}
