package graft.pipeline

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end §3.1 chain on reference-shaped micro-fixtures. */
class PermitPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  // Socrata-shaped raw permits (FIXTURES.md A1): all strings
  private def raw = Seq(
    // permit_, issue_date, street_number, street_direction, street_name,
    // work_description, reported_cost, contact_1_name, pin_list
    ("P1", "2024-03-05T00:00:00.000000", "100", "W", "MADISON ST",
     "New garage construction", "5000", "ACME BUILDING COMPANY", "12-34-567-890-1234 | 9876543210"),
    ("P2", "2024-03-06T00:00:00.000000", "200", "N", "STATE ST",
     "Window replacement", "100.5", "JOHN DOE", null),
    ("P3", "2024-03-07T00:00:00.000000", "300", null, "OAK AVE",
     "Demolition of coach house", "nope", "JANE ROE", "99999999999999")
  ).toDF("permit_", "issue_date", "street_number", "street_direction", "street_name",
         "work_description", "reported_cost", "contact_1_name", "pin_list")

  private def universe = Seq(
    ("12345678901234", "1234567890", "100 W MADISON ST"),
    ("98765432100000", "9876543210", "200 N STATE ST")
  ).toDF("pin", "pin10", "prop_address_full")

  test("cleanPermits explodes pins, normalizes, renames to the registry contract") {
    val out = PermitPipeline.cleanPermits(raw)
    // P1 has 2 pins, P2 has null list (1 row), P3 has 1 → 4 rows
    assert(out.count() == 4)
    assert(out.columns.contains("pin") && out.columns.contains("applicant"))
    val p1pins = strings(out.filter($"permit_no" === "P1"), "pin").sorted
    assert(p1pins == Seq("12345678901234", "98765432100000")) // hyphens stripped, 10→14 padded
    // F8: BUILDING→BLDG, COMPANY→CO
    assert(strings(out.filter($"permit_no" === "P1"), "applicant").head == "ACME BLDG CO")
    // F18: 100.5 rounds HALF_EVEN → 100 (pandas parity via bround; HALF_UP
    // round() would give 101)
    assert(out.filter($"permit_no" === "P2").select($"amount").collect().head.getLong(0) == 100L)
    // non-numeric cost coerces to null
    assert(out.filter($"permit_no" === "P3").select($"amount").collect().head.isNullAt(0))
  }

  test("addSuggestedPins joins the collapsed address→pins map and tags keywords") {
    val out = PermitPipeline.addSuggestedPins(PermitPipeline.cleanPermits(raw), universe)
    val p1 = out.filter($"permit_no" === "P1").collect().head
    // single suggested PIN gets the assessor-link decoration (F12)
    assert(p1.getAs[String]("suggested_pins") ==
      "=HYPERLINK(\"https://www.cookcountyassessoril.gov/pin/12345678901234\", \"12345678901234\")")
    assert(p1.getAs[String]("property_address").startsWith("=HYPERLINK(\"https://maps.cookcountyil.gov"))
    assert(p1.getAs[String]("matched_keywords") == "Construction, Garage, New")
    val p3 = out.filter($"permit_no" === "P3").collect().head
    assert(p3.getAs[String]("suggested_pins") == "") // address not in universe
    assert(p3.getAs[String]("matched_keywords") == "Demolition, Coach")
  }

  test("full run partitions into upload (valid) and review (errors)") {
    val (upload, review) = PermitPipeline.run(raw, universe, existing = None)
    val total = upload.count() + review.count()
    assert(total == 4)
    // P1's two pins are in-universe with valid fields → upload
    assert(strings(upload, "permit_no").forall(_ == "P1"))
    // P2 (null pin) and P3 (pin not in universe, bad amount) → review
    val reviewPermits = strings(review, "permit_no").toSet
    assert(reviewPermits == Set("P2", "P3"))
    assert(review.columns.contains("errors"))
  }

  /** Warehouse rows carrying `cleaned`'s canonical 7 dedupe keys. */
  private def warehouseRows(cleaned: DataFrame) =
    cleaned.select(
      $"pin".as("parid"),
      graft.ops.TimeOps.renderPermdt(graft.ops.TimeOps.parseFlexible($"issue_date")).as("permdt"),
      $"amount".cast("decimal(38,2)").as("amount"),
      graft.ops.TextOps.addrDedupeKey($"applicant_street_address").as("note2"),
      $"applicant".as("user21"),
      $"permit_no".as("user28"),
      graft.ops.TextOps.smartfileCanon($"work_description").as("user43")
    )

  test("dedupeAgainstExisting drops rows already in the warehouse") {
    val cleaned = PermitPipeline.addSuggestedPins(PermitPipeline.cleanPermits(raw), universe)
    // fabricate an existing table matching P1/pin1's canonical keys exactly
    val existing = warehouseRows(cleaned.filter($"permit_no" === "P1" && $"pin" === "12345678901234"))
    val out = PermitPipeline.dedupeAgainstExisting(cleaned, existing)
    assert(out.count() == cleaned.count() - 1)
  }

  // 40 raw permits over 4 partitions of an RDD-backed frame (a local
  // relation would be folded on the driver at optimization time); every
  // third has a non-numeric cost and goes to review
  private def manyRaw = {
    val rows = (1 to 40).map { i =>
      (s"P$i", "2024-03-05T00:00:00.000000", s"$i", "W", "MADISON ST", "New garage",
        if (i % 3 == 0) "nope" else s"${i * 100}", "ACME",
        if (i % 2 == 0) "12-34-567-890-1234" else "9876543210")
    }
    val df = rows.toDF("permit_", "issue_date", "street_number", "street_direction",
      "street_name", "work_description", "reported_cost", "contact_1_name", "pin_list")
    spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, 4), df.schema)
  }

  /** `raw` with every row evaluation counted: a nondeterministic identity
    * UDF cannot be duplicated or folded by the optimizer.
    */
  private def counted(raw: DataFrame) = {
    val acc = spark.sparkContext.longAccumulator("raw_rows")
    val seen = udf { (s: String) => acc.add(1); s }.asNondeterministic()
    (raw.withColumn("permit_", seen($"permit_")), acc)
  }

  /** The split before the sides shared a materialization: two independent
    * filters over the flagged plan.
    */
  private def unsharedSplit(flagged: DataFrame) = (
    flagged.filter(size($"errors") === 0).drop("errors", "u_pin", "pin_in_universe"),
    flagged.filter(size($"errors") > 0).drop("u_pin", "pin_in_universe")
  )

  private def existing = warehouseRows(PermitPipeline.cleanPermits(manyRaw).filter($"permit_no" === "P1"))

  test("partitionFlagged runs the chain once for both sinks") {
    val out = s"/tmp/graft_cache/permit_spec/upload-${System.nanoTime()}"
    val (raw, acc) = counted(manyRaw)
    val (upload, review) = PermitPipeline.run(raw, universe, Some(existing))
    graft.sources.Sources.writeBatched(upload, out, 250)
    val reviewed = review.collect()
    assert(acc.value == 40L, s"each raw row must be evaluated once, not once per side: ${acc.value}")
    assert(spark.read.parquet(out).count() + reviewed.length == 39) // P1 deduped away
    // control: the unshared split re-runs the chain for its second side
    val (raw2, acc2) = counted(manyRaw)
    val (up2, rev2) = unsharedSplit(PermitPipeline.runFlagged(raw2, universe, Some(existing)))
    up2.collect(); rev2.collect()
    assert(acc2.value == 80L, s"the counter must see a re-run chain: ${acc2.value}")
  }

  test("partitionFlagged after a partial first consumer returns the unshared rows") {
    val (expUp, expRev) = unsharedSplit(PermitPipeline.runFlagged(manyRaw, universe, Some(existing)))
    val (wantUp, wantRev) = (rows(expUp), rows(expRev))
    assert(wantUp.nonEmpty && wantRev.nonEmpty)
    // upload first, partially
    val (up1, rev1) = PermitPipeline.run(manyRaw, universe, Some(existing))
    assert(up1.limit(1).collect().length == 1)
    assert(rows(rev1) == wantRev)
    assert(rows(up1) == wantUp)
    // review first, partially
    val (up2, rev2) = PermitPipeline.run(manyRaw, universe, Some(existing))
    assert(rev2.limit(1).collect().length == 1)
    assert(rows(up2) == wantUp)
    assert(rows(rev2) == wantRev)
    assert(up2.columns.toSeq == expUp.columns.toSeq && rev2.columns.toSeq == expRev.columns.toSeq)
  }
}
