package graft.sources

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

object ExcelSpec {
  /** Build a minimal valid xlsx: shared strings, inline strings, numerics,
    * a sparse row (missing cell), and an empty row (must be skipped).
    */
  def makeXlsx(rows: Seq[Seq[Any]]): Array[Byte] = {
    val sharedPool = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int = sharedPool.getOrElseUpdate(s, sharedPool.size)

    val sheetRows = rows.zipWithIndex.map { case (cells, r) =>
      val cs = cells.zipWithIndex.collect {
        case (v: String, c) if v.nonEmpty =>
          s"""<c r="${colRef(c, r + 1)}" t="s"><v>${sharedIdx(v)}</v></c>"""
        case (v: Double, c) =>
          s"""<c r="${colRef(c, r + 1)}"><v>$v</v></c>"""
        case (v: Int, c) =>
          s"""<c r="${colRef(c, r + 1)}"><v>$v</v></c>"""
      }.mkString
      s"""<row r="${r + 1}">$cs</row>"""
    }.mkString
    val sheet =
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetRows</sheetData></worksheet>"""
    val sst = sharedPool.keys.map(s => s"<si><t>$s</t></si>").mkString
    val sharedXml =
      s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">$sst</sst>"""

    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook/>""")
    put("xl/sharedStrings.xml", sharedXml)
    put("xl/worksheets/sheet1.xml", sheet)
    zip.close()
    bos.toByteArray
  }

  private def colRef(c: Int, row: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString + row
  }
}

class ExcelSpec extends SparkSpec {
  import spark.implicits._

  private def sample = ExcelSpec.makeXlsx(Seq(
    Seq("name", "qty", "note"),
    Seq("alpha", 3, "ok"),
    Seq("", "", ""),                       // empty row — skipped
    Seq("beta", 2.5, "x"),
    Seq("gamma")))                         // sparse row

  test("read parses shared strings, numerics, skips empty rows, pads sparse rows") {
    val dir = tempDir("graft_xlsx_")
    val f = new FileOutputStream(s"$dir/t.xlsx"); f.write(sample); f.close()
    val df = Excel.read(spark, s"$dir/t.xlsx")
    assert(df.columns.toSeq == Seq("name", "qty", "note"))
    val got = df.as[(String, String, String)].collect().toSet
    assert(got == Set(("alpha", "3", "ok"), ("beta", "2.5", "x"), ("gamma", null, null)))
  }

  test("write fails fast past the enforced row cap, and the cap bounds the collect") {
    val dir = tempDir("graft_xlsx_cap_")
    val big = spark.range(0, 100).selectExpr("id", "id * 2 as v")
    val ex = intercept[IllegalArgumentException] {
      Excel.write(big, s"$dir/too_big.xlsx", maxRows = 10)
    }
    assert(ex.getMessage.contains("capped at 10 rows"))
    // at exactly the cap it writes and round-trips
    Excel.write(big.limit(10), s"$dir/ok.xlsx", maxRows = 10)
    assert(Excel.read(spark, s"$dir/ok.xlsx").count() == 10)
  }

  test("readDir parses a directory of workbooks distributed") {
    val dir = tempDir("graft_xlsx_d_")
    val a = ExcelSpec.makeXlsx(Seq(Seq("k", "v"), Seq("a", 1)))
    val b = ExcelSpec.makeXlsx(Seq(Seq("k", "v"), Seq("b", 2)))
    val f1 = new FileOutputStream(s"$dir/a.xlsx"); f1.write(a); f1.close()
    val f2 = new FileOutputStream(s"$dir/b.xlsx"); f2.write(b); f2.close()
    val df = Excel.readDir(spark, dir)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.as[(String, String)].collect().toSet == Set(("a", "1"), ("b", "2")))
  }
}
