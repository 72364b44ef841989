package graft

import java.nio.file.{Files, Paths}
import graft.ingest.Ingest

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDirWith(names: String*): String = {
    val d = tempRoot("ingest_spec")
    names.foreach(n => Files.writeString(d.resolve(n), "x"))
    d.toString
  }

  test("discover parses both filename conventions, sorts chronologically") {
    val dir = tmpDirWith(
      "2024-06-02_transactions.xlsx", "2024-05-01_transactions.xlsx",
      "All Lists_05_15_2024_export.xlsx", "README.txt")
    val found = Ingest.discover(dir)
    assert(found.map(_.date) == Seq("2024-05-01", "2024-05-15",
      "2024-06-02"))
    assert(found.map(_.kind) == Seq("transactions", "lists",
      "transactions"))
    val latest = Ingest.latestOnly(found)
    assert(latest("transactions").date == "2024-06-02")
    assert(latest("lists").date == "2024-05-15")
  }

  test("discover on missing dir is empty") {
    assert(Ingest.discover("/no/such/dir").isEmpty)
  }

  test("withLoadMetadata stamps the DLT metadata columns") {
    val df = Ingest.withLoadMetadata(Seq(1, 2).toDF("v"), "2024-06-01",
      isSeed = true, sourceFile = "f.xlsx")
    assert(df.columns.toSet ==
      Set("v", "load_date", "snapshot_date", "is_seed", "source_file"))
    val r = df.head()
    assert(r.getAs[String]("snapshot_date") == "2024-06-01")
    assert(r.getAs[Boolean]("is_seed"))
  }

  test("appendExport slices strictly past the watermark and advances it") {
    val df = Seq("2024-01-01", "2024-02-01", "2024-03-01").toDF("d")
    val (slice1, w1) = Ingest.appendExport(df, "d", Some("2024-01-01"))
    assert(slice1.count() == 2)
    assert(w1.contains("2024-03-01"))
    val (slice2, w2) = Ingest.appendExport(df, "d", w1)
    assert(slice2.count() == 0)
    assert(w2.contains("2024-03-01"), "empty slice keeps prior watermark")
  }

  // S1 — in-engine XLSX decode of the checked-in 2-sheet fixture, wired
  // through the same discover path the dated CSV landings use.
  private val fixtureDir =
    new java.io.File(getClass.getResource("/fixtures").toURI).toString

  test("chunkedBackfill: resumes after a crash, idempotent re-run, observed row counts") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AtomicTable
    val base = tempRoot("backfill")
    val target = base.resolve("t").toString
    val store = new Ingest.StateStore(base.resolve("state.json").toString)
    val data = Seq(
      (1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c"), (4L, "2024-01-02", "d"),
      (5L, "2024-01-03", "e"), (6L, "2024-01-04", "f"))
      .toDF("k", "day", "v")
    val chunks = Seq(("2024-01-01", "2024-01-02"),
      ("2024-01-02", "2024-01-03"), ("2024-01-03", "2024-01-05"))
    def run(cs: Seq[(String, String)]) =
      Ingest.chunkedBackfill(spark, target, store, cs, Seq("k"))(
        (s, e) => data.filter(col("day") >= s && col("day") < e))
    // "crash" after two chunks
    val r1 = run(chunks.take(2))
    assert(r1.map(_.status) == Seq("processed", "processed"))
    assert(r1.map(_.rows) == Seq(2L, 2L)) // observe rode the write job
    // resume with the full plan: completed chunks skip, the rest runs
    val r2 = run(chunks)
    assert(r2.map(_.status) == Seq("skipped", "skipped", "processed"))
    assert(r2.last.rows == 2L)
    val got = AtomicTable.read(spark, target).get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got.toSeq == Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d",
      5L -> "e", 6L -> "f"))
    // full re-run is a no-op: no work, no new versions
    val versions = AtomicTable.committedVersions(spark, target)
    assert(run(chunks).forall(_.status == "skipped"))
    assert(AtomicTable.committedVersions(spark, target) == versions)
  }

  test("quarantineSplit: first-failing-rule precedence, both halves committable") {
    import org.apache.spark.sql.functions._
    import graft.operators.AtomicTable
    val feed = Seq(
      (1L, 10.0, "2024-01-01"),  // clean
      (2L, -5.0, "2024-01-02"),  // fails rule 1
      (3L, 7.0, "garbage"),      // fails rule 2
      (4L, -1.0, "garbage"))     // fails both -> rule 1 wins
      .toDF("k", "amount", "date_str")
    val rules = Seq(
      "amount_negative" -> (col("amount") >= 0),
      "date_unparseable" -> expr("try_cast(date_str AS DATE)").isNotNull)
    val (good, bad) = Ingest.quarantineSplit(feed, rules)
    assert(good.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(!good.columns.contains("_quarantine_reason"))
    assert(bad.select("k", "quarantine_reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq(2L -> "amount_negative", 3L -> "date_unparseable",
        4L -> "amount_negative"))
    // the DLQ discipline: both halves commit; nothing is lost
    val base = tempRoot("dlq")
    AtomicTable.commit(good, base.resolve("good").toString, 0L)
    AtomicTable.commit(bad, base.resolve("dlq").toString, 0L)
    val total = AtomicTable.read(spark, base.resolve("good").toString)
      .get.count() +
      AtomicTable.read(spark, base.resolve("dlq").toString).get.count()
    assert(total == 4L)
  }

  test("quarantine: a rule predicate evaluating to NULL quarantines the row") {
    import org.apache.spark.sql.functions._
    // x NULL makes `x > 0` NULL — when(!ok, ...) alone never fires on
    // NULL, silently passing null-violating rows (r11 ADVICE)
    val feed = Seq(1L -> Some(5.0), 2L -> None, 3L -> Some(-1.0))
      .toDF("k", "x")
    val (good, bad) = Ingest.quarantineSplit(feed,
      Seq("x_not_positive" -> (col("x") > 0)))
    assert(good.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(bad.select("k", "quarantine_reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq(2L -> "x_not_positive", 3L -> "x_not_positive"))
  }

  test("Observed: an empty frame reports the non_empty failure, not an NPE") {
    import graft.quality.Observed
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val pending = Observed.instrument(empty, "empty_t", Seq("v"))
    pending.df.write.format("noop").mode("overwrite").save()
    val byCheck = pending.results()
      .map(r => r.check -> r.violations).toMap
    assert(byCheck("non_empty_observed") == 1L) // zero rows = violation
    assert(byCheck("not_null_observed(v)") == 0L) // NULL sum -> 0
  }

  test("saveTableObserved: metrics ride the commit write, no extra action needed") {
    import graft.operators.AtomicTable
    import graft.ref.Catalog
    val root = tempRoot("cat_obs").toString
    val cat = new Catalog(spark, root)
    val df = Seq((1L, Some("x")), (2L, None), (3L, None))
      .toDF("id", "maybe")
    val (out, results) = cat.saveTableObserved("mart", "obs_t", df,
      Seq("id", "maybe"))
    // results were produced by the commit's own job — assert without
    // running any further action first
    val byCheck = results.map(r => r.check -> r.violations).toMap
    assert(byCheck("non_empty_observed") == 0L)
    assert(byCheck("not_null_observed(id)") == 0L)
    assert(byCheck("not_null_observed(maybe)") == 2L)
    assert(out.count() == 3L)

    // skip-unchanged hit: the same frame again serves the committed
    // version with the (skipped) results and never reads an Observation
    // (which would block forever), so the second call is time-bounded
    val skipCat = new Catalog(spark, root, skipUnchanged = true)
    skipCat.saveTableObserved("mart", "obs_s", df, Seq("id", "maybe"))
    val versions = AtomicTable.committedVersions(spark, s"$root/mart/obs_s")
    val again = scala.concurrent.Future(
      skipCat.saveTableObserved("mart", "obs_s", df, Seq("id", "maybe")))(
      scala.concurrent.ExecutionContext.global)
    val (served, skipped) = scala.concurrent.Await.result(again,
      scala.concurrent.duration.Duration(120, "s"))
    assert(skipCat.skipped == Seq("mart.obs_s"))
    assert(skipped.map(r => r.check -> r.violations) == Seq(
      "non_empty_observed(skipped)" -> 0L,
      "not_null_observed(id)(skipped)" -> 0L,
      "not_null_observed(maybe)(skipped)" -> 0L))
    assert(AtomicTable.committedVersions(spark, s"$root/mart/obs_s") ==
      versions, "a skip commits no new version")
    assert(served.count() == 3L)
  }

  test("xlsx: discover finds the workbook, both sheets decode with typed cells") {
    import graft.sources.Xlsx
    val found = Ingest.discover(fixtureDir)
    assert(found.map(_.kind) == Seq("lists"))
    assert(found.head.date == "2024-05-15")
    val sheets = Xlsx.readAll(spark, found.head.path)
    assert(sheets.keySet == Set("Customer", "Item"))

    val cust = sheets("Customer")
    assert(cust.columns.toSeq ==
      Seq("Customer Name", "Main Email", "Balance Total", "Tax Exempt"))
    val rows = cust.collect().map(r =>
      (0 until 4).map(i => Option(r.getString(i)).orNull))
    assert(rows(0) == Seq("Acme Anchors & Co", "sales@acme.example",
      "1250.75", "true"), "shared strings + number + boolean")
    assert(rows(1) == Seq("Café Müller GmbH", null, "0", "false"),
      "skipped cell decodes as null; entities and unicode survive")
    assert(rows(2) == Seq("Inline Industries", "ops@inline.example",
      "42", null), "inline strings; short row padded with null")

    // second sheet: positional cells (no r= attrs), different schema
    val item = sheets("Item")
    assert(item.columns.toSeq == Seq("Item", "Price"))
    assert(item.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("AM6-6", "3.5"), ("SP10", "12")))

    // the landing contract: standardized names feed staging unchanged
    assert(graft.functions.Fns.standardizeColumns(cust).columns.toSeq ==
      Seq("customer_name", "main_email", "balance_total", "tax_exempt"))
  }

  test("xlsx: distributed many-file decode maps headers by name, missing columns null") {
    import graft.sources.Xlsx
    val out = Xlsx.readManyAsRows(spark, fixtureDir, "Customer",
      columns = Seq("Main Email", "Customer Name", "Terms"))
    val rows = out.orderBy("Customer Name").collect()
    assert(out.columns.toSeq ==
      Seq("source_file", "Main Email", "Customer Name", "Terms"))
    assert(rows.length == 3)
    assert(rows.forall(_.getString(0).endsWith(".xlsx")))
    // column order in the output is caller-fixed, not sheet order
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("Acme Anchors & Co", "Café Müller GmbH", "Inline Industries"))
    // a requested column absent from the sheet degrades to null
    assert(rows.forall(_.isNullAt(3)))
  }

  private def zipBytes(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (n, c) =>
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private val wbNs = "xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\""

  private def oneSheetWorkbook(sheetName: String, sheetXml: String,
                               styles: Option[String],
                               date1904: Boolean = false): Array[Byte] = {
    val pr = if (date1904) """<workbookPr date1904="1"/>""" else ""
    val wb = s"""<?xml version="1.0"?><workbook $wbNs xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">$pr<sheets><sheet name="$sheetName" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels = """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    zipBytes(Seq(
      "xl/workbook.xml" -> wb,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheetXml) ++
      styles.map("xl/styles.xml" -> _))
  }

  test("xlsx: date-styled serials convert to ISO dates only behind the flag") {
    import graft.sources.Xlsx
    // style 1 → builtin 14 (m/d/yyyy), style 2 → custom 164 (date code),
    // style 3 → currency (must NOT convert)
    val styles = s"""<?xml version="1.0"?><styleSheet $wbNs><numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy-mm-dd;@"/><numFmt numFmtId="165" formatCode="&quot;$$&quot;#,##0.00"/></numFmts><cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/><xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="165" applyNumberFormat="1"/></cellXfs></styleSheet>"""
    val sheet = s"""<?xml version="1.0"?><worksheet $wbNs><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>Date</t></is></c><c r="B1" t="inlineStr"><is><t>Custom</t></is></c><c r="C1" t="inlineStr"><is><t>Amount</t></is></c><c r="D1" t="inlineStr"><is><t>Note</t></is></c></row><row r="2"><c r="A2" s="1"><v>45299</v></c><c r="B2" s="2"><v>45299.75</v></c><c r="C2" s="3"><v>1250.5</v></c><c r="D2" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r></is></c></row></sheetData></worksheet>"""
    val bytes = oneSheetWorkbook("Data", sheet, Some(styles))

    val converted = Xlsx.decodeSheet(bytes, "Data",
      convertDateSerials = true).rows(1)
    assert(converted(0) == "2024-01-08", "builtin date style → ISO")
    assert(converted(1) == "2024-01-08", "custom date code, fraction truncated")
    assert(converted(2) == "1250.5", "currency style stays lexical")
    assert(converted(3) == "Hello World",
      "multi-run inline string concatenates all runs")

    val raw = Xlsx.decodeSheet(bytes, "Data").rows(1)
    assert(raw(0) == "45299" && raw(1) == "45299.75",
      "flag off preserves the stored-lexical contract")

    // Mac-origin workbook: same serial, 1904 epoch → different date.
    val macBytes = oneSheetWorkbook("Data", sheet, Some(styles),
      date1904 = true)
    val mac = Xlsx.decodeSheet(macBytes, "Data",
      convertDateSerials = true).rows(1)
    assert(mac(0) == "2028-01-09", "1904-system serial 45299")
  }

  test("xlsx: phonetic rPh runs excluded from shared and inline strings") {
    val wb = s"""<?xml version="1.0"?><workbook $wbNs xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels = """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val sst = s"""<?xml version="1.0"?><sst $wbNs><si><r><t>Tokyo HQ</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh></si></sst>"""
    val sheet = s"""<?xml version="1.0"?><worksheet $wbNs><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><r><t>Osaka </t></r><rPh sb="0" eb="2"><t>オオサカ</t></rPh><r><t>Branch</t></r></is></c></row></sheetData></worksheet>"""
    val bytes = zipBytes(Seq(
      "xl/workbook.xml" -> wb, "xl/_rels/workbook.xml.rels" -> rels,
      "xl/sharedStrings.xml" -> sst,
      "xl/worksheets/sheet1.xml" -> sheet))
    val row = graft.sources.Xlsx.decodeSheet(bytes, "S").rows(0)
    assert(row(0) == "Tokyo HQ", "shared string skips phonetic run")
    assert(row(1) == "Osaka Branch",
      "inline rich text skips phonetic run, concatenates real runs")
  }

  test("xlsx: readManyAsRows skips non-xlsx files and sheetless workbooks") {
    import graft.sources.Xlsx
    val dir = tempRoot("xlsx_mixed")
    val goodSheet = s"""<?xml version="1.0"?><worksheet $wbNs><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>Name</t></is></c></row><row r="2"><c r="A2" t="inlineStr"><is><t>alpha</t></is></c></row></sheetData></worksheet>"""
    Files.write(dir.resolve("2024-06-01_data.xlsx"),
      oneSheetWorkbook("Data", goodSheet, None))
    Files.write(dir.resolve("2024-06-02_other.xlsx"),
      oneSheetWorkbook("Other", goodSheet, None))
    Files.writeString(dir.resolve("2024-06-03_data.csv"), "Name\nnot-a-zip")
    val out = Xlsx.readManyAsRows(spark, dir.toString, "Data",
      columns = Seq("Name")).collect()
    assert(out.length == 1, "CSV filtered by glob; sheetless workbook skipped")
    assert(out.head.getString(1) == "alpha")
  }

  test("Checks.singlePass: one job, byte-identical to the individual checks") {
    import graft.quality.Checks
    val df = Seq(
      (1L, Some("a"), Some("Amazon")),
      (2L, None, Some("Website")),
      (2L, Some("b"), Some("Fax")),      // dup key + bad channel
      (3L, Some("c"), None)              // NULL channel: not a violation
    ).toDF("k", "name", "channel")
    val sp = Checks.singlePass(df, "t", uniqueCols = Seq("k"),
      checkNonEmpty = true, notNullCols = Seq("name"),
      accepted = Seq("channel" -> Seq("Amazon", "Website", "Invoice")))
    val expected = Seq(
      Checks.nonEmpty(df, "t"),
      Checks.unique(df, "t", "k"),
      Checks.notNull(df, "t", "name"),
      Checks.acceptedValues(df, "t", "channel",
        Seq("Amazon", "Website", "Invoice")))
    assert(sp.results == expected)
    assert(sp.rows == 4L)
    // empty frame: non_empty fires, every sum coalesces to zero
    val empty = Seq.empty[(Long, Option[String], Option[String])]
      .toDF("k", "name", "channel")
    val spe = Checks.singlePass(empty, "t", uniqueCols = Seq("k"),
      checkNonEmpty = true, notNullCols = Seq("name"),
      accepted = Seq("channel" -> Seq("Amazon")))
    assert(spe.rows == 0L)
    assert(spe.results.map(_.violations) == Seq(1L, 0L, 0L, 0L))
    // combination naming + the no-unique-key (single global agg) form
    val combo = Checks.singlePass(df, "t",
      uniqueCols = Seq("k", "name"), combination = true)
    assert(combo.results ==
      Seq(Checks.uniqueCombination(df, "t", Seq("k", "name"))))
    val flat = Checks.singlePass(df, "t", notNullCols = Seq("name"))
    assert(flat.results == Seq(Checks.notNull(df, "t", "name")))
    assert(flat.rows == 4L)
    // several unique columns without `combination` would group by all
    // of them yet report unique(k): refused
    intercept[IllegalArgumentException] {
      Checks.singlePass(df, "t", uniqueCols = Seq("k", "name"))
    }
  }

  test("StateStore: changed on new file, stable after markProcessed, changed on touch") {
    val dir = tmpDirWith("a.xlsx")
    val f = s"$dir/a.xlsx"
    val store = new Ingest.StateStore(s"$dir/state/processed.json")
    assert(store.changed(Seq(f)))
    store.markProcessed(Seq(f))
    assert(!store.changed(Seq(f)))
    Files.setLastModifiedTime(Paths.get(f),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    assert(store.changed(Seq(f)))
  }

  test("StateStore: a key holding a quote or a backslash round-trips") {
    val store = new Ingest.StateStore(s"${tmpDirWith()}/state/done.json")
    val keys = Seq("a\"b.xlsx", "c\\d.xlsx", "plain.xlsx")
    keys.foreach(store.markDone)
    assert(keys.forall(store.isDone), store.load().toString)
    assert(store.load().keySet == keys.toSet)
  }

  test("StateStore: a torn state file fails loudly instead of reading as fewer entries") {
    val path = s"${tmpDirWith()}/state/done.json"
    val store = new Ingest.StateStore(path)
    Seq("batch_001", "batch_002", "batch_003").foreach(store.markDone)
    assert(store.load().size == 3)
    // a write cut off after the second entry: every byte it holds is
    // the start of the full file
    val full = Files.readString(Paths.get(path))
    Files.writeString(Paths.get(path),
      full.substring(0, full.indexOf(", \"batch_003\"")))
    intercept[IllegalStateException](store.load())
  }
}
