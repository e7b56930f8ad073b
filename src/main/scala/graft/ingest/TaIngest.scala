package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functions._
import graft.model._

/** TA check-result normalizer: the Spark-first re-expression of the
  * reference's per-(account,check) extract loop
  * (`source/extract-ta-data-lambda.py:98-195`).
  *
  * The reference iterates `flaggedResources` in Python and emits CSV rows;
  * here one declarative plan does it for any number of (account,check) docs
  * at once: `from_json` -> `explode(flaggedResources)` (the ref's for-loop is
  * a Generator shape, covered by explode) -> status filter -> schema-token
  * projection -> standard prefix/suffix columns. Everything stays inside
  * whole-stage codegen; at 100 TB the only shuffles anywhere in ingest are
  * the tag pivot's aggregation and the REBALANCE before the lake write.
  */
object TaIngest {

  /** Schema of one TA check-result document (FIXTURES.md §1; shape from
    * extract-ta-data-lambda.py:116-177). `metadata` is a positional,
    * nullable string array. */
  val taResultSchema: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("checkId", StringType),
      StructField("status", StringType),
      StructField("resourcesSummary", StructType(Seq(
        StructField("resourcesProcessed", LongType),
        StructField("resourcesFlagged", LongType),
        StructField("resourcesIgnored", LongType),
        StructField("resourcesSuppressed", LongType)))),
      StructField("categorySpecificSummary", StructType(Seq(
        StructField("costOptimizing", StructType(Seq(
          StructField("estimatedMonthlySavings", DoubleType),
          StructField("estimatedPercentMonthlySavings", DoubleType))))))),
      StructField("flaggedResources", ArrayType(StructType(Seq(
        StructField("status", StringType),
        StructField("region", StringType),
        StructField("resourceId", StringType),
        StructField("isSuppressed", BooleanType),
        StructField("metadata", ArrayType(StringType)))))))))))

  /** Expected input: one row per (account, check) API response with columns
    * `json` (raw TA response document), `Date`, `DateTime`, `CheckName`,
    * `AccountId`, `AccountName`, `AccountEmail` — the event-dict fields the
    * reference threads through its Step Functions states. */
  def parsed(raw: DataFrame): DataFrame =
    raw.withColumn("ta", from_json(col("json"), taResultSchema))

  private def maskIf(maskPii: Boolean, c: Column, isName: Boolean): Column =
    if (!maskPii) c else if (isName) maskNameEmail(c) else maskAccountId(c)

  /** Detail columns of one check, as a select list over the document
    * columns and `r`, one flagged resource: the schema-token projection
    * (P1) + comma strip (P3/P4) + prefix/suffix (P5) + PII mask (P12).
    * Output column names are the lowercased `Header_<id>` names — the same
    * lowercasing the Glue crawler applies (SURVEY.md §7 case-sensitivity
    * note). All columns are strings (fidelity with the CSV/crawler lake). */
  def detailColumns(spec: CheckSpec, maskPii: Boolean): Seq[Column] = {
    val projected = spec.header.zip(spec.mapping).map {
      // digit token: positional metadata cell, comma-stripped
      // (extract-ta-data-lambda.py:169-175); null cells stay null.
      // try_element_at: a flaggedResource whose metadata array is SHORTER
      // than the mapping's max index reads as null — plain element_at
      // under Spark 4's default ANSI mode would fail the whole ingest job
      // on one malformed resource
      case (name, MetaIdx(i)) =>
        stripCommas(expr(s"try_element_at(r.metadata, ${i + 1})"))
          .as(name.toLowerCase)
      // name token: field on the flaggedResource object
      case (name, Field(f)) => col(s"r.$f").cast(StringType).as(name.toLowerCase)
    }
    Seq(col("Date").as("date"), col("DateTime").as("datetime"),
      col("CheckName").as("checkname")) ++
      projected ++ accountColumns(maskPii)
  }

  /** Summary columns, as a select list over the document columns and
    * `ta`: the service-computed aggregate fields with `0` defaults when the
    * costOptimizing block is absent (extract-ta-data-lambda.py:133-147).
    * String-typed like the CSV lake. */
  def summaryColumns(maskPii: Boolean): Seq[Column] =
    Seq(col("Date").as("date"), col("DateTime").as("datetime"),
      col("CheckName").as("checkname"),
      col("ta.result.checkId").cast(StringType).as("checkid"),
      col("ta.result.status").cast(StringType).as("status"),
      col("ta.result.resourcesSummary.resourcesProcessed").cast(StringType)
        .as("resourcesprocessed"),
      col("ta.result.resourcesSummary.resourcesFlagged").cast(StringType)
        .as("resourcesflagged"),
      col("ta.result.resourcesSummary.resourcesIgnored").cast(StringType)
        .as("resourcesignored"),
      col("ta.result.resourcesSummary.resourcesSuppressed").cast(StringType)
        .as("resourcessuppressed"),
      coalesce(col("ta.result.categorySpecificSummary.costOptimizing.estimatedMonthlySavings"),
        lit(0d)).cast(StringType).as("estimatedmonthlysavings"),
      coalesce(col("ta.result.categorySpecificSummary.costOptimizing.estimatedPercentMonthlySavings"),
        lit(0d)).cast(StringType).as("estimatedpercentmonthlysavings")) ++
      accountColumns(maskPii)

  private def accountColumns(maskPii: Boolean): Seq[Column] =
    Seq(maskIf(maskPii, col("AccountId").cast(StringType), isName = false).as("accountid"),
      maskIf(maskPii, col("AccountName"), isName = true).as("accountname"),
      maskIf(maskPii, col("AccountEmail"), isName = true).as("accountemail"))

  /** The per-document columns every lake row copies. */
  private val docColumns = Seq("Date", "DateTime", "CheckName", "AccountId",
    "AccountName", "AccountEmail").map(col)

  /** The reference's warning/error status filter (P2). */
  private def flagged(r: Column): Column = r.getField("status").isin("warning", "error")

  /** Detail rows for one check: [[detailColumns]] over each of the
    * check's flagged resources. */
  def details(raw: DataFrame, spec: CheckSpec, maskPii: Boolean = false): DataFrame =
    detailsParsed(parsed(raw), spec, maskPii)

  /** details() over an already-`parsed` DataFrame. */
  def detailsParsed(p: DataFrame, spec: CheckSpec, maskPii: Boolean = false): DataFrame =
    p.filter(col("ta.result.checkId") === spec.id)
      .select(docColumns :+
        explode(col("ta.result.flaggedResources")).as("r"): _*)
      .filter(flagged(col("r")))
      .select(detailColumns(spec, maskPii): _*)

  /** Summary rows: [[summaryColumns]], one row per (account, check)
    * document. */
  def summary(raw: DataFrame, maskPii: Boolean = false): DataFrame =
    summaryParsed(parsed(raw), maskPii)

  /** summary() over an already-`parsed` DataFrame. */
  def summaryParsed(p: DataFrame, maskPii: Boolean = false): DataFrame =
    p.select(summaryColumns(maskPii): _*)

  /** Routing column of a routed frame: the key of a row's lake table
    * ([[routed]], [[graft.lake.Lake.routed]]). */
  val TableCol = "tbl"

  /** Lake table key of the summary rows in a [[routed]] frame. */
  val SummaryTable = "summary"

  private val resourceType = taResultSchema("result").dataType
    .asInstanceOf[StructType]("flaggedResources").dataType
    .asInstanceOf[ArrayType].elementType

  /** Every lake row of a parsed batch, routed by table for
    * [[graft.lake.Lake.writeTables]]: ONE generator over the parse, where
    * one projection per table would scan the source once per table.
    * Per document it emits the summary row (position 0, a null resource)
    * and each warning/error flagged resource when the document's check is
    * in `specs`. A row carries its table key [[TableCol]]
    * (`spec.tableName` or [[SummaryTable]]), the document's `date` and one
    * nullable struct column per table, named by the table key and set only
    * for its own table: [[detailColumns]] or [[summaryColumns]]. */
  def routed(p: DataFrame, specs: Seq[CheckSpec], maskPii: Boolean): DataFrame = {
    val checks = specs.distinct
    val docs = p.select(docColumns ++ Seq(col("ta"),
      posexplode(concat(array(lit(null).cast(resourceType)),
        coalesce(col("ta.result.flaggedResources"),
          array().cast(ArrayType(resourceType))))).as(Seq("pos", "r"))): _*)
    val isSummary = col("pos") === 0
    val checkId = col("ta.result.checkId")
    val table = checks.foldLeft(when(isSummary, lit(SummaryTable))) {
      (t, s) => t.when(checkId === s.id, lit(s.tableName))
    }
    val tbl = col(TableCol)
    docs.withColumn(TableCol, table)
      .filter(isSummary || (tbl.isNotNull && flagged(col("r"))))
      .select(Seq(tbl, col("Date").as("date")) ++
        checks.map(s => when(tbl === s.tableName,
          struct(detailColumns(s, maskPii): _*)).as(s.tableName)) :+
        when(isSummary, struct(summaryColumns(maskPii): _*))
          .as(SummaryTable): _*)
  }

  /** Tags normalizer (extract-tag-data-lambda.py:60-105): input is one row
    * per (resource, tag) observation with columns `ResourceArn, Key, Value,
    * RegionName, ResourceType, Date, DateTime, AccountId, AccountName,
    * AccountEmail` plus an `obs_seq` ordering column standing in for API
    * page order. Output: one row per ARN (last observation wins, A3) with
    * one column per configured tag key (pivot, A4) and the derived
    * ResourceId (J4). At scale this is a single hash aggregation keyed by
    * ARN — `max_by(value, obs_seq)` gives last-wins without a window shuffle.
    */
  def tags(tagObs: DataFrame, customerKeys: Seq[String]): DataFrame = {
    // ONE aggregation keyed by ARN — one scan of the (possibly live-API)
    // source, where the previous pivot+meta-join shape scanned it twice
    // (doubling Tagging-API sweeps and racing two snapshots of a mutating
    // source). Per-key last-wins cells come from max_by over key-gated
    // (value, seq) pairs — max_by skips NULL orderings, so other keys'
    // rows never compete and an absent key yields NULL exactly like the
    // pivot did; meta columns are plain max_by over the full group; the
    // former inner join's "has at least one customer-key observation"
    // gate is one more aggregate.
    val tagCells = customerKeys.map(k =>
      max_by(when(col("Key") === k, col("Value")),
        when(col("Key") === k, col("obs_seq"))).as(k.toLowerCase))
    val aggs = Seq(
      max_by(col("Date"), col("obs_seq")).as("date"),
      max_by(col("DateTime"), col("obs_seq")).as("datetime"),
      max_by(col("AccountId"), col("obs_seq")).as("accountid"),
      max_by(col("AccountName"), col("obs_seq")).as("accountname"),
      max_by(col("AccountEmail"), col("obs_seq")).as("accountemail"),
      max_by(col("RegionName"), col("obs_seq")).as("regionname"),
      max_by(col("ResourceType"), col("obs_seq")).as("resourcetype")) ++
      tagCells :+
      max(col("Key").isin(customerKeys: _*)).as("has_key")
    tagObs
      .groupBy(col("ResourceArn").as("resourcearn"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("has_key"))
      .select(
        Seq(col("date"), col("datetime"), col("accountid"),
          col("accountname"), col("accountemail"), col("regionname"),
          col("resourcetype"), col("resourcearn"),
          arnResourceId(col("resourcearn")).as("resourceid")) ++
          customerKeys.map(k => col(s"`${k.toLowerCase}`")): _*)
  }
}
