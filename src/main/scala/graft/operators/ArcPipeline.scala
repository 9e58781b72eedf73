package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Decode

/** The reference's end-to-end capability as one composable pipeline
  * (reference: README.md:1-2 — an AWS Lambda that "Filters ARC kinesis
  * feed events"): Kinesis payload decode (base64 → gunzip → JSON) → Arc
  * content-event envelope parse → predicate filter (type / operation /
  * published / website / section) → projection → partition-keyed emit with
  * dead-letter routing.
  *
  * The envelope schema follows the public Arc content-event / ANS document
  * shape (SURVEY.md §0.1): `{version, type, subtype, operation, date, id,
  * body}` where body carries `headlines.basic`, `taxonomy.sections[]`,
  * `credits.by[]`, `revision.published`, `websites{}`.
  *
  * Runs identically over a batch DataFrame or a Structured-Streaming
  * DataFrame — the plan is fully declarative, so the micro-batch engine
  * incrementalizes it exactly as Kinesis→Lambda invocations did, with
  * per-record tolerance instead of per-batch retry.
  *
  * The decoded envelope sits behind a plan boundary (a one-element
  * `explode`) because predicate pushdown would otherwise substitute the
  * whole decode into every filter conjunct and decode each record once per
  * conjunct instead of once.
  */
object ArcPipeline {

  val sectionSchema: StructType = StructType(
    Seq(StructField("_id", StringType), StructField("name", StringType))
  )

  val bodySchema: StructType = StructType(
    Seq(
      StructField("_id", StringType),
      StructField("type", StringType),
      StructField("canonical_url", StringType),
      StructField("headlines", StructType(Seq(StructField("basic", StringType)))),
      StructField("publish_date", StringType),
      StructField("credits", StructType(Seq(
        StructField("by", ArrayType(StructType(Seq(StructField("name", StringType)))))
      ))),
      StructField("taxonomy", StructType(Seq(StructField("sections", ArrayType(sectionSchema))))),
      StructField("revision", StructType(Seq(StructField("published", BooleanType)))),
      StructField("websites", MapType(StringType, StructType(Seq(StructField("website_url", StringType)))))
    )
  )

  val envelopeSchema: StructType = StructType(
    Seq(
      StructField("version", StringType),
      StructField("type", StringType),
      StructField("subtype", StringType),
      StructField("operation", StringType),
      StructField("date", StringType),
      StructField("id", StringType),
      StructField("body", bodySchema),
      StructField("_corrupt", StringType)
    )
  )

  /** Filter policy — the predicate set the reference Lambda hard-codes. */
  final case class FilterConfig(
      allowedTypes: Seq[String] = Seq("story", "video", "gallery"),
      allowedOperations: Seq[String] = Seq("insert", "update", "delete"),
      requirePublished: Boolean = true,
      website: Option[String] = None,
      sectionAllowlist: Seq[String] = Seq.empty
  )

  /** Stage 1 — decode: base64 text → gunzip → UTF-8 JSON → envelope
    * struct. Malformed payloads land with a non-null `_corrupt` field
    * (A8), never fail the batch. */
  def decodeEnvelope(raw: DataFrame, payloadCol: Column): DataFrame =
    decodeGzip(raw, Decode.fromBase64(payloadCol))

  /** gzip bytes → `event`, every input column kept, through the fused
    * decode [[graft.catalyst.GunzipJsonExpression]]: a payload it cannot
    * gunzip lands with `_corrupt = "UNDECODABLE"`, a malformed document
    * with `_corrupt` = its text. The envelope leaves through a one-element
    * `explode` (a `Generate`), the plan boundary the object doc explains. */
  private def decodeGzip(raw: DataFrame, gz: Column): DataFrame = {
    graft.catalyst.GraftExtensions.register(raw.sparkSession)
    val event = call_function("graft_gunzip_json", gz, lit(envelopeSchema.toDDL))
    raw.select(col("*"), explode(array(event)).as("event"))
  }

  /** Variant of [[run]] over the Kinesis record frame
    * ([[graft.sources.EventSource.recordSchema]]): payloads arrive as raw
    * binary (already base64-decoded by the transport), so decode goes
    * straight to gunzip → JSON. Dead letters keep [[run]]'s schema: their
    * `payload` is the base64 text of the original bytes. */
  def runRecords(
      records: DataFrame,
      cfg: FilterConfig,
      observation: Option[org.apache.spark.sql.Observation] = None
  ): (DataFrame, DataFrame) =
    split(decodeGzip(records, col("payload")), base64(col("payload")), cfg, observation)

  /** Stage 2 — THE filter (A6): conjunction of envelope predicates. */
  def eventFilter(cfg: FilterConfig): Column = {
    val base = col("event.type").isin(cfg.allowedTypes: _*) &&
      col("event.operation").isin(cfg.allowedOperations: _*)
    val published =
      if (cfg.requirePublished) col("event.body.revision.published") === true else lit(true)
    val website = cfg.website
      .map(w => col("event.body.websites").getItem(w).isNotNull)
      .getOrElse(lit(true))
    val sections =
      if (cfg.sectionAllowlist.isEmpty) lit(true)
      else
        arrays_overlap(
          col("event.body.taxonomy.sections._id"),
          array(cfg.sectionAllowlist.map(lit): _*)
        )
    base && published && website && sections
  }

  /** Stage 3 — projection (A7): the flattened downstream record. */
  def project(df: DataFrame): DataFrame =
    df.select(
      col("event.id").as("event_id"),
      col("event.type").as("content_type"),
      col("event.operation").as("operation"),
      to_timestamp(col("event.date")).as("event_ts"),
      col("event.body._id").as("doc_id"),
      col("event.body.headlines.basic").as("headline"),
      col("event.body.canonical_url").as("url"),
      col("event.body.taxonomy.sections._id").as("section_ids"),
      col("event.body.credits.by.name").as("authors")
    )

  /** Full pipeline: decode → split corrupt (A8/A10) → filter (A6) →
    * project (A7). Returns (survivors, deadLetters).
    *
    * @param observation optional [[org.apache.spark.sql.Observation]] —
    *   when supplied, the decode stage reports `total_records` /
    *   `corrupt_records` as exactly-once query metrics (the observable
    *   counterpart of the reference Lambda's skip-and-log counters; works
    *   in batch and, via listener, streaming).
    */
  def run(
      raw: DataFrame,
      payloadCol: Column,
      cfg: FilterConfig,
      observation: Option[org.apache.spark.sql.Observation] = None
  ): (DataFrame, DataFrame) =
    split(decodeEnvelope(raw, payloadCol), payloadCol, cfg, observation)

  /** Observe, split corrupt from good, filter and project one decoded frame;
    * `payload` is the dead letters' payload column. */
  private def split(
      decoded0: DataFrame,
      payload: Column,
      cfg: FilterConfig,
      observation: Option[org.apache.spark.sql.Observation]
  ): (DataFrame, DataFrame) = {
    val decoded = observation match {
      case Some(obs) =>
        decoded0.observe(
          obs,
          count(lit(1)).as("total_records"),
          count(when(col("event._corrupt").isNotNull, 1)).as("corrupt_records")
        )
      case None => decoded0
    }
    val corrupt = decoded.filter(col("event._corrupt").isNotNull)
    val good    = decoded.filter(col("event._corrupt").isNull)
    val out     = project(good.filter(eventFilter(cfg)))
    (out, corrupt.select(payload.as("payload"), col("event._corrupt").as("error")))
  }
}
