package graft.pipeline

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** §3.3 legacy wide-sheet chain on micro-fixtures. */
class LegacyPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  // primary `pin` (= select-renamed PIN1) + extra wide PIN2, Excel-serial
  // dates, 9/10-digit permit numbers
  private def sheet = Seq(
    // P-1: primary pin + hyphenated extra dup of it → collapses after normalize
    ("000000001", 45000, "100 MAIN ST", "note a", null, "ACME", "100",
     "12345678901234", "12-34-567-890-1234"),
    // P-2: 13-digit primary → normalized by prepending 0; crosswalk remaps it
    ("0000000002", 45001, "200 OAK AVE", "note b", "REINSTATED", "BOB", "250",
     "2345678901234", null),
    // P-3: all-zero primary → blacklisted; no extras → drops entirely
    ("000000003", 45002, "300 PINE RD", "note c", null, "CARL", "50",
     "00000000000000", null),
    // P-4: no pins at all → survives as null-pin row → review
    ("0000000004", 45003, "400 ELM ST", "note d", null, "DANA", "75",
     null, null)
  ).toDF("permit_no", "date_serial", "address", "notes", "reinstated_note",
         "applicant", "amount", "pin", "PIN2")

  private def crosswalk =
    Seq(("02345678901234", "99999999999999")).toDF("original_pin", "meta_pin")

  private def universe =
    Seq("12345678901234", "99999999999999").toDF("pin")

  test("run: dedupe after normalize, crosswalk remap, reinstated overwrite, flag split") {
    val (upload, review) = LegacyPipeline.run(sheet, Seq("PIN2"), crosswalk, universe)
    val up = upload.collect()
    // P-1 collapses to one row (both pins normalize to the same), amount 100 valid
    // P-2 remapped to 99999999999999 (in universe), amount 250 valid
    assert(up.length == 2)
    val p2 = upload.filter($"permit_no" === "0000000002").collect().head
    assert(p2.getAs[String]("pin") == "99999999999999")
    assert(p2.getAs[String]("notes") == "REINSTATED") // P12 overwrite
    // buckets + 1-based renumbering present
    assert(up.forall(r => r.getAs[Long]("lline") >= 1L))
    // P-3 blacklisted away entirely; P-4 null-pin lands in review
    val rev = review.collect()
    assert(rev.length == 1)
    assert(rev.head.getAs[String]("permit_no") == "0000000004")
    assert(!rev.head.getAs[Boolean]("valid_pin"))
    assert(rev.head.getAs[Boolean]("valid_amount")) // 75 is fine — only pin failed
  }

  test("splitFinal over one shared materialization returns the unshared split's rows") {
    val flagged = LegacyPipeline.runFlagged(sheet, Seq("PIN2"), crosswalk, universe)
    // the split before the sides shared a materialization
    val flagCols = Seq("valid_filled", "valid_pin", "valid_permit", "valid_addr_len",
      "valid_note_len", "valid_name_len", "pin14_in_data", "not_duplicate",
      "valid_row", "valid_amount", "duplicate_pin_permit")
    val expUp = graft.ops.ReshapeOps.numberedBuckets(
      flagged.filter($"valid_row").drop(flagCols: _*),
      Seq($"permit_no", $"pin"), 250, "bucket", "lline")
    val expRev = flagged.filter(!$"valid_row")
    val (upload, review) = LegacyPipeline.splitFinal(flagged)
    assert(upload.limit(1).collect().length == 1) // partial first consumer
    assert(rows(review) == rows(expRev) && rows(review).nonEmpty)
    assert(rows(upload) == rows(expUp))
    assert(upload.columns.toSeq == expUp.columns.toSeq)
    assert(review.columns.toSeq == expRev.columns.toSeq)
  }

  test("expandPins: originals keep their primary pin (null included), extras add rows") {
    val out = LegacyPipeline.expandPins(sheet, Seq("PIN2"))
    // P-1: original + extra = 2 rows; P-2/P-3: 1 each; P-4: null-pin row
    assert(out.count() == 5)
    assert(out.filter($"pin".isNull).count() == 1)
    // the reference asymmetry: null primary + extra present → BOTH rows
    val withExtra = Seq(("000000005", 45004, "A", "n", null, "E", "10",
      null, "12345678901234"))
      .toDF("permit_no", "date_serial", "address", "notes", "reinstated_note",
            "applicant", "amount", "pin", "PIN2")
    val both = LegacyPipeline.expandPins(withExtra, Seq("PIN2"))
    assert(both.count() == 2)
    assert(both.filter($"pin".isNull).count() == 1)
  }

  test("excel serial dates convert with origin 1899-12-30") {
    val out = LegacyPipeline.normalize(LegacyPipeline.expandPins(sheet, Seq("PIN2")))
    val d = out.filter($"permit_no" === "000000001").select($"issue_date").collect().head.getString(0)
    assert(d == "2023-03-15") // serial 45000
  }

  test("findMissingPinsByYears: each year probes its OWN universe slice") {
    val uploaded = Seq("A", "B", "C").toDF("pin")
    // 2022 knows A+B, 2023 knows only A — the missing sets must differ
    val uniByYear = Seq(("A", "2022"), ("B", "2022"), ("A", "2023"))
      .toDF("pin", "year")
    val out = LegacyPipeline
      .findMissingPinsByYears(uploaded, uniByYear, Seq("2022", "2023"), "need_worked")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(out == Set(
      ("C", "2022", "need_worked"),
      ("B", "2023", "need_worked"),
      ("C", "2023", "need_worked")
    ))
  }
}
