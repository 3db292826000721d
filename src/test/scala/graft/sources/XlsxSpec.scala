package graft.sources

import graft.SparkSpecBase
import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** JDK-only XLSX codec (S4 scan / S6 sink). */
class XlsxSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String): String =
    s"/tmp/graft_cache/xlsx_spec/$name-${System.nanoTime()}.xlsx"

  test("multi-sheet write → read roundtrip, named-sheet resolution") {
    val a = Seq(("1", "alpha"), ("2", "beta & <gamma>")).toDF("id", "name")
    val b = Seq(("x", "9"), ("y", null: String)).toDF("k", "v")
    val path = tmp("rt")
    Xlsx.writeSheets(Seq("First" -> a, "Second Sheet" -> b), path)
    val gotA = Xlsx.read(spark, path, Some("First")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotA == Set(("1", "alpha"), ("2", "beta & <gamma>"))) // XML escaping survives
    val gotB = Xlsx.read(spark, path, Some("Second Sheet")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotB == Set(("x", "9"), ("y", null))) // null -> blank cell -> null
    // default = first sheet
    assert(Xlsx.read(spark, path).columns.toSeq == Seq("id", "name"))
  }

  test("shared-string cells resolve through xl/sharedStrings.xml") {
    // hand-built workbook using the shared-strings encoding (our writer uses
    // inline strings, so this path needs its own fixture)
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>hdr</t></si><si><t>hello</t></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>42</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val sheets = Xlsx.parseWorkbook(bos.toByteArray)
    assert(sheets.length == 1)
    val (name, header, rows) = sheets.head
    // row 2 is wider than the header row: header padded (blank name), the
    // numeric cell read as its raw <v> text
    assert(name == "S" && header == Seq("hdr", ""))
    assert(rows == Seq(Seq("hello", "42")))
  }

  test("sparse rows: skipped cells come back null at their column position") {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>""" +
        """<row r="2"><c r="B2"><v>7</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val (_, header, rows) = Xlsx.parseWorkbook(bos.toByteArray).head
    assert(header == Seq("a", null, "c").map(h => if (h == null) "" else h))
    assert(rows == Seq(Seq(null, "7", null)))
  }

  test("many workbooks scan as one DataFrame via glob (one task per file)") {
    val dir = s"/tmp/graft_cache/xlsx_spec/multi-${System.nanoTime()}"
    (1 to 3).foreach { i =>
      val df = Seq((s"$i", s"wb$i")).toDF("id", "src")
      Xlsx.writeSheets(Seq("Data" -> df), s"$dir/wb$i.xlsx")
    }
    val got = Xlsx.read(spark, s"$dir/*.xlsx", Some("Data"))
    assert(got.columns.toSeq == Seq("id", "src"))
    assert(got.collect().map(_.getString(1)).sorted.toSeq == Seq("wb1", "wb2", "wb3"))
    // the scan parallelizes per FILE: 3 files -> 3 input partitions
    assert(got.rdd.getNumPartitions >= 3)
  }

  test("reads the reference's real production crosswalk workbook") {
    // produced by Excel/openxlsx, not our own writer — validates the codec
    // against shared-string encoding and real-world part layout
    val p = "/root/reference/chicago/legacy_permits/crosswalk.xlsx"
    assume(new java.io.File(p).exists())
    val df = Xlsx.read(spark, p)
    assert(df.columns.toSeq == Seq("meta_pin", "year", "tab", "original_pin"))
    val rows = df.collect()
    assert(rows.length == 49)
    // a real reviewer artifact: mostly 14-digit pin pairs, plus a zero row
    // and free-text annotation rows at the tail — all read faithfully
    val pinRows = rows.filter(r =>
      r.getString(0) != null && r.getString(0).matches("\\d{14}"))
    assert(pinRows.length >= 45)
    assert(pinRows.forall(_.getString(3).matches("\\d{14}")))
    assert(pinRows.map(_.getString(1)).toSet.subsetOf(Set("2021", "2022", "2023")))
    assert(rows.exists(r => r.getString(0) != null && r.getString(0).contains("Green font")))
  }

  test("multi-file scan aligns heterogeneous workbooks by header name") {
    val dir = s"/tmp/graft_cache/xlsx_spec/hetero-${System.nanoTime()}"
    // a_* sorts first -> its header (id, src) is the schema; the second
    // workbook has the columns REVERSED plus an extra one
    Xlsx.writeSheets(Seq("Data" -> Seq(("1", "wb1")).toDF("id", "src")), s"$dir/a_wb1.xlsx")
    Xlsx.writeSheets(Seq("Data" -> Seq(("wb2", "extra", "2")).toDF("src", "junk", "id")), s"$dir/b_wb2.xlsx")
    val got = Xlsx.read(spark, s"$dir/*.xlsx", Some("Data")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("1", "wb1"), ("2", "wb2")), s"by-name alignment broken: $got")
  }

  test("schema falls back to the first file that HAS the sheet; absent everywhere fails loudly") {
    val dir = s"/tmp/graft_cache/xlsx_spec/fallback-${System.nanoTime()}"
    // a_* sorts first but lacks the "Data" sheet — its file must contribute
    // neither schema nor rows, NOT collapse the scan to zero columns
    Xlsx.writeSheets(Seq("Other" -> Seq(("x", "y")).toDF("p", "q")), s"$dir/a_other.xlsx")
    Xlsx.writeSheets(Seq("Data" -> Seq(("1", "wb1")).toDF("id", "src")), s"$dir/b_data.xlsx")
    val got = Xlsx.read(spark, s"$dir/*.xlsx", Some("Data"))
    assert(got.columns.toSeq == Seq("id", "src"))
    assert(got.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "wb1")))
    val err = intercept[IllegalArgumentException] {
      Xlsx.read(spark, s"$dir/*.xlsx", Some("Nope")).collect()
    }
    assert(err.getMessage.contains("Nope"))
  }

  test("duplicate header names disambiguate positionally instead of last-wins") {
    // two "v" columns (hand-built: real-world sheets have them, our own
    // writer can't): both must survive with distinct schema names, values
    // kept in their original positions
    val path = tmp("dupes")
    val bytes = Xlsx.buildWorkbook(
      Seq("Data" -> Seq(Seq("k", "v", "v"), Seq("a", "first", "second")))
    )
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    val got = Xlsx.read(spark, path, Some("Data"))
    assert(got.columns.toSeq == Seq("k", "v", "v_2"))
    val r = got.collect().head
    assert((r.getString(0), r.getString(1), r.getString(2)) == (("a", "first", "second")))
  }

  test("mangleDupes bumps past literal collisions: [amount, amount, amount_2]") {
    // pre-r5 defect: the seen-counter keyed on the ORIGINAL name mangled
    // this header to [amount, amount_2, amount_2] — a NEW collision the
    // helper exists to prevent. Candidates must bump until unique.
    assert(
      Xlsx.mangleDupes(Seq("amount", "amount", "amount_2")) ==
        Seq("amount", "amount_2", "amount_2_2"))
    val tricky = Seq("amount", "amount_2", "amount", "amount", "amount_2")
    val mangled = Xlsx.mangleDupes(tricky)
    assert(mangled.distinct == mangled, s"still colliding: $mangled")
    assert(mangled.head == "amount" && mangled(1) == "amount_2")
    // and through the full scan: three same-named columns survive positionally
    val path = tmp("dupes3")
    val bytes = Xlsx.buildWorkbook(
      Seq("Data" -> Seq(Seq("amount", "amount", "amount_2"), Seq("first", "second", "third")))
    )
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    val got = Xlsx.read(spark, path, Some("Data"))
    assert(got.columns.toSeq == Seq("amount", "amount_2", "amount_2_2"))
    val r = got.collect().head
    assert((r.getString(0), r.getString(1), r.getString(2)) == (("first", "second", "third")))
  }

  test("cell fill colors roundtrip through styles.xml (S5 surface)") {
    val path = tmp("fills")
    val df = Seq(
      ("p1", "FFFFFF00"),                     // yellow flag
      ("p2", "FFFFC000"),                     // orange flag
      ("p3", "theme:7:0.3999755851924192"),   // the theme-encoded flag color
      ("p4", "FF92D050"),                     // green: colored but NOT a flag
      ("p5", null: String)                    // unfilled
    ).toDF("pin", "pin_fill")
    Xlsx.writeSheets(Seq("Reviewed" -> df), path, fillColumns = Map("pin" -> "pin_fill"))
    val got = Xlsx.readWithFill(spark, path, Some("Reviewed"), "pin")
    // the spec column was consumed as formatting, not written as data
    assert(got.columns.toSeq == Seq("pin", "fill_spec"))
    val specs = got.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(specs == Map(
      "p1" -> "FFFFFF00", "p2" -> "FFFFC000",
      "p3" -> "theme:7:0.3999755851924192", "p4" -> "FF92D050", "p5" -> null))
    // the reference's flag predicate (yellow/orange/theme-7) over the column
    import org.apache.spark.sql.functions.col
    val flagged = got.filter(Xlsx.fillIsFlagged(col("fill_spec")))
      .collect().map(_.getString(0)).toSet
    assert(flagged == Set("p1", "p2", "p3"))
    // the plain reader still reads the same file, ignoring formatting
    assert(Xlsx.read(spark, path, Some("Reviewed")).collect().map(_.getString(0)).toSet ==
      Set("p1", "p2", "p3", "p4", "p5"))
  }

  test("removeFlaggedRows deletes flagged rows, preserves other rows' fills and other sheets") {
    val dir = s"/tmp/graft_cache/xlsx_spec/qc-${System.nanoTime()}"
    val orig = s"$dir/orig.xlsx"
    val cleaned = s"$dir/cleaned.xlsx"
    val data = Seq(
      ("p1", "keep1", null: String),
      ("p2", "drop-yellow", "FFFFFF00"),
      ("p3", "keep-green", "FF92D050"),
      ("p4", "drop-theme", "theme:7:0.3999755851924192"),
      ("p5", "drop-orange", "FFFFC000")
    ).toDF("pin", "note", "pin_fill")
    val other = Seq(("x", "y")).toDF("a", "b")
    Xlsx.writeSheets(
      Seq("Sheet1" -> data, "Other" -> other), orig, fillColumns = Map("pin" -> "pin_fill"))
    Xlsx.removeFlaggedRows(orig, cleaned, "Sheet1", "pin")
    val got = Xlsx.readWithFill(spark, cleaned, Some("Sheet1"), "pin")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // flagged rows gone; the green NON-flag fill survives the rewrite
    assert(got == Set(("p1", "keep1", null), ("p3", "keep-green", "FF92D050")))
    // untouched sheet passes through with its data intact
    assert(Xlsx.read(spark, cleaned, Some("Other")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("x", "y")))
  }

  test("removeFlaggedRows round-trips header-row fills like the reference's in-place edit") {
    val dir = s"/tmp/graft_cache/xlsx_spec/qc-hdr-${System.nanoTime()}"
    val orig = s"$dir/orig.xlsx"
    val cleaned = s"$dir/cleaned.xlsx"
    // workbook with a FILLED header row (blue on both header cells) plus a
    // flagged and an unflagged data row — built via the styled writer since
    // writeSheets only styles data cells
    val rows = Seq(
      Seq("pin", "note"),
      Seq("p1", "keep"),
      Seq("p2", "drop")
    )
    val fills = Seq(
      Seq("FF00B0F0", "FF00B0F0"),       // header fills
      Seq(null: String, null: String),
      Seq("FFFFFF00", null: String)      // p2 flagged yellow
    )
    val bytes = Xlsx.buildWorkbookStyled(Seq(("Sheet1", rows, fills)))
    val f = new java.io.File(orig)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    Xlsx.removeFlaggedRows(orig, cleaned, "Sheet1", "pin")
    val got = Xlsx.parseWorkbookStyled(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cleaned))).head
    assert(got.header == Seq("pin", "note"))
    assert(got.rows == Seq(Seq("p1", "keep")))       // flagged row deleted
    assert(got.headerFills == Seq("FF00B0F0", "FF00B0F0"), "header fills must survive the QC rewrite")
    assert(got.fills == Seq(Seq(null, null)))
  }

  test("fillIsFlagged mirrors the reference's RGB/alpha/theme normalization") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      ("FFFFFF00", true), ("FFFFC000", true),          // ARGB exact
      ("#FFFFFF00", true), ("ffffc000", true),         // hash prefix, case fold
      ("FFFF00", true), ("FFC000", true),              // 6-char RGB, alpha assumed
      ("theme:7:0.3999755851924192", true),            // theme fill, tint rounded
      ("theme:7:0.39997600", true),                    // same tint after round(6)
      ("theme:4:0.3999755851924192", false),           // wrong theme index
      ("theme:7:0.2", false),                          // wrong tint
      ("FF92D050", false), ("FFFFFFFF", false),        // non-flag colors
      (null: String, false)                            // unfilled
    )
    val got = cases.map(_._1).toDF("spec")
      .select(col("spec"), Xlsx.fillIsFlagged(col("spec")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (spec, want) =>
      assert(got(spec) == want, s"spec '$spec' expected $want")
    }
  }

  test("rich-text inline strings concatenate runs; phonetic runs are skipped") {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r></is></c><c r="B1" t="s"><v>0</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val (_, header, _) = Xlsx.parseWorkbook(bos.toByteArray).head
    assert(header == Seq("Hello World", "東京"))
  }

  test("cell text escaping: & < > \" round-trip, tab/LF/CR kept, other control chars dropped") {
    val cells = Seq(
      "plain text" -> "plain text",
      "a & b <c> \"d\"" -> "a & b <c> \"d\"",
      "&amp; stays literal" -> "&amp; stays literal",
      "tab\tlf\ncr\rcrlf\r\n" -> "tab\tlf\ncr\rcrlf\r\n",
      "bell\u0007nul\u0000us\u001f<" -> "bellnulus<",
      "\u0001" -> ""
    )
    val sheet = Seq("v") +: cells.map(c => Seq(c._1))
    val (_, header, got) = Xlsx.parseWorkbook(Xlsx.buildWorkbook(Seq("S" -> sheet))).head
    assert(header == Seq("v"))
    assert(got.map(_.head) == cells.map(_._2))
  }

  test("column reference math") {
    assert(Xlsx.colRef(0) == "A" && Xlsx.colRef(25) == "Z" && Xlsx.colRef(26) == "AA")
    assert(Xlsx.colIndex("A1") == 0 && Xlsx.colIndex("Z9") == 25 && Xlsx.colIndex("BC12") == 54)
    (0 until 200).foreach(i => assert(Xlsx.colIndex(Xlsx.colRef(i) + "1") == i))
  }
}
