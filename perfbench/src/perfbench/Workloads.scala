package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Dedup, Similarity}
import graft.model.PermitColumns
import graft.ops.{PinOps, TextOps, TimeOps}
import graft.pipeline.PermitPipeline
import graft.sources.{Sources, Xlsx}

/** What one op of a workload needs: the session, its static inputs, the
  * tracer, and where to read and write.
  */
final class Ctx(
    val spark: SparkSession,
    val in: String,
    val tracer: Tracer,
    val static: Map[String, DataFrame]
) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One workload: its static inputs, its ops, and the prefix chain a traced
  * run times by differencing (each prefix is noop-written; a stage's time is
  * its prefix's time minus the previous prefix's).
  */
trait Workload {
  def opsPerPass: Int
  def register(spark: SparkSession, in: String): Map[String, DataFrame]
  def op(c: Ctx, k: Int, out: String, prevOut: Option[String]): Unit
  def prefixes(c: Ctx): Seq[(String, () => DataFrame)]
  /** Counts a traced run reports beside the prefix times. */
  def extraCounts(c: Ctx): Map[String, Long] = Map.empty
}

object Workloads {
  val Tau = 0.7
  val Shingle = 3
  val MinHashes = 8
  val Bands = 4
  val NList = 32
  val NProbe = 4
  val TopK = 10

  /** The workload `name` over the inputs generated under `in`; a permit
    * workload's pulls are the directories there, one op each, in name order.
    */
  def apply(name: String, in: String): Workload = name match {
    case "backfill_full" | "monthly_increment" =>
      new Permits(new java.io.File(in).listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq)
    case "corpus_dedup"      => Corpus
    case other               => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def cached(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  private def universe(spark: SparkSession, in: String): DataFrame =
    cached(spark.read.schema(Sources.pinUniverseSchema).json(s"$in/universe.json"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Warehouse rows of an upload in the 7-key form
    * `PermitPipeline.dedupeAgainstExisting` expects: what the warehouse holds
    * once an upload batch is loaded.
    */
  def warehouseKeys(upload: DataFrame): DataFrame =
    upload.select(
      col("pin").as("parid"),
      TimeOps.renderPermdt(TimeOps.parseFlexible(col("issue_date"))).as("permdt"),
      col("amount").cast("decimal(38,2)").as("amount"),
      TextOps.addrDedupeKey(col("applicant_street_address")).as("note2"),
      col("applicant").as("user21"),
      col("permit_no").as("user28"),
      TextOps.smartfileCanon(col("work_description")).as("user43")
    )

  private val uploadShape = StructType(
    Seq("pin", "permit_no", "issue_date").map(StructField(_, StringType)) ++
      Seq(StructField("amount", LongType)) ++
      Seq("applicant_street_address", "applicant", "work_description").map(StructField(_, StringType))
  )

  /** backfill_full (one pull) and monthly_increment (one pull per month, each
    * deduped against the previous month's upload; the first month against
    * the prior upload). Every op writes the 250-row upload batches, their
    * zip, and the two-sheet review workbook.
    */
  final class Permits(pulls: Seq[String]) extends Workload {
    def opsPerPass: Int = pulls.size

    def register(spark: SparkSession, in: String): Map[String, DataFrame] = {
      val u = universe(spark, in)
      val prior = cached(warehouseKeys(spark.read.schema(uploadShape).json(s"$in/prior_upload.json")))
      val sheet = u.select(PinOps.zfill14(col("pin")).as("pin"))
        .withColumn("pin_hyphenated", PinOps.hyphenate(col("pin")))
      u.createOrReplaceTempView("universe")
      prior.createOrReplaceTempView("prior_upload")
      Map("universe" -> u, "prior" -> prior, "universe_sheet" -> sheet)
    }

    private def raw(c: Ctx, pull: String): DataFrame =
      c.span("sources.json_open") {
        c.spark.read.format("graft.sources.PermitsJsonSource").option("path", s"${c.in}/$pull").load()
      }

    def op(c: Ctx, k: Int, out: String, prevOut: Option[String]): Unit = {
      val r = raw(c, pulls(k))
      val (upload, review) = c.span("pipeline.construct") {
        val existing = prevOut
          .map(p => warehouseKeys(c.spark.read.parquet(s"$p/upload")))
          .getOrElse(c.static("prior"))
        val (up, rev) = PermitPipeline.partitionFlagged(
          PermitPipeline.runFlagged(r, c.static("universe"), Some(existing)))
        val sheetCols = PermitColumns.specs.map(_.name).filter(rev.columns.contains).map {
          case "errors" => array_join(col("errors"), "; ").as("errors")
          case n        => col(n)
        }
        (up, rev.select(sheetCols: _*))
      }
      if (c.tracer.active) c.span("pipeline.plan") {
        upload.queryExecution.executedPlan
        review.queryExecution.executedPlan
      }
      c.span("sources.batched_write")(Sources.writeBatched(upload, s"$out/upload", 250))
      c.span("sources.zip")(Sources.zipDirectory(s"$out/upload", s"$out/upload.zip"))
      c.span("sources.xlsx_write") {
        Xlsx.writeSheets(
          Seq("Permits" -> review, "Universe of Valid PINs" -> c.static("universe_sheet")),
          s"$out/review.xlsx")
      }
    }

    def prefixes(c: Ctx): Seq[(String, () => DataFrame)] = {
      val u = c.static("universe")
      def r = raw(c, pulls.head)
      def cleaned = PermitPipeline.cleanPermits(r)
      def suggested = PermitPipeline.addSuggestedPins(cleaned, u)
      def deduped = PermitPipeline.dedupeAgainstExisting(suggested, c.static("prior"))
      Seq(
        "json_scan" -> (() => r),
        "clean" -> (() => cleaned),
        "suggest" -> (() => suggested),
        "dedupe" -> (() => deduped),
        "flag" -> (() => PermitPipeline.flag(deduped, u))
      )
    }
  }

  /** corpus_dedup: LSH candidates verified by exact shingle Jaccard (no
    * content key, so nothing is served from the spill memo), connected
    * components over the verified pairs, one survivor per component, and an
    * IVF top-k for a query set.
    */
  object Corpus extends Workload {
    def opsPerPass: Int = 1

    def register(spark: SparkSession, in: String): Map[String, DataFrame] = {
      val docs = cached(spark.read.schema("doc_id BIGINT, text STRING").json(s"$in/docs"))
      val emb = cached(spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>").json(s"$in/embeddings"))
      val ids = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$in/query_ids.json")))
        .replaceAll("[\\[\\]\\s]", "").split(",").map(_.toLong)
      val queries = cached(emb.filter(col("vec_id").isin(ids.toIndexedSeq: _*)))
      docs.createOrReplaceTempView("docs")
      emb.createOrReplaceTempView("embeddings")
      Map("docs" -> docs, "emb" -> emb, "queries" -> queries)
    }

    private def verified(c: Ctx): DataFrame =
      Dedup.verifiedNearDupPairs(c.static("docs"), col("doc_id"), col("text"),
        Shingle, MinHashes, Bands, Tau, contentKey = None)

    def op(c: Ctx, k: Int, out: String, prevOut: Option[String]): Unit = {
      val s = c.spark
      c.span("ext.near_dup_pairs")(verified(c).write.parquet(s"$out/pairs"))
      c.span("ext.cc") {
        Dedup.connectedComponents(s.read.parquet(s"$out/pairs")).write.parquet(s"$out/labels")
      }
      c.span("ext.survivors") {
        val labeled = c.static("docs")
          .join(s.read.parquet(s"$out/labels"), Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("canonical_id"), col("doc_id")))
          .withColumn("len", length(col("text")))
        Dedup.survivorsBy(labeled, col("cluster"), col("doc_id"), col("len"), "len")
          .write.parquet(s"$out/survivors")
      }
      c.span("ext.topk") {
        Similarity.ivfTopK(c.static("emb"), c.static("queries"), "vec_id", "embedding", NList, NProbe, TopK)
          .write.parquet(s"$out/topk")
      }
    }

    private def candidates(c: Ctx): DataFrame =
      Dedup.minhashLshPairs(c.static("docs"), col("doc_id"), col("text"), Shingle, MinHashes, Bands)

    def prefixes(c: Ctx): Seq[(String, () => DataFrame)] =
      Seq("lsh_pairs" -> (() => candidates(c)), "verify" -> (() => verified(c)))

    override def extraCounts(c: Ctx): Map[String, Long] =
      Map("lsh_candidates" -> candidates(c).count())
  }

  /** Seconds to build `df` and run it into the noop sink. */
  def noopTime(df: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    noop(df())
    (System.nanoTime() - t0) / 1e9
  }
}
