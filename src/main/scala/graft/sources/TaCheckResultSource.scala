package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source for TA check results — the live-API variant of S1
  * (`extract-ta-data-lambda.py:70-75`): one InputPartition per account,
  * whose reader walks that account's checks in option order and emits one
  * row per (account, check) response. A 1000-account x 8-check ingest runs
  * as 1000 partition reads of 8 fetches each, replacing the reference's
  * Step Functions `Map` states (template:1704,1210) at the account level.
  *
  * Trade-off: the reference's inner `Map` fans one account's checks out in
  * parallel, where here a one-account deployment fetches them in sequence
  * inside one task. Only the describe-result call is serialized (the
  * refresh/poll loop stays driver-side, [[Refresh.awaitAll]]). In return
  * each account is one task, so a live deployment assumes each account's
  * role once, not once per (account, check), and a refresh pays one task
  * launch per account instead of one per API request.
  *
  * The per-partition fetch is STUBBED with a deterministic synthetic
  * document (this container has no network): a production build would call
  * `support.describe_trusted_advisor_check_result` inside
  * [[TaFetchStub.fetch]] with per-partition credentials, and nothing else
  * here changes. Output schema matches TaIngest's expected input exactly.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.TaCheckResultSource")
  *   .option("accounts", "123456789012:Acme:ops@acme.example,...")
  *   .option("checks", "Qch7DwouX1,hjLMh88uM8")
  *   .option("date", "01-15-2024").option("datetime", "2024-01-15 09:00:00")
  *   .load()
  * }}}
  */
class TaCheckResultSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TaCheckResultSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TaTable(properties.asScala.toMap)
}

object TaCheckResultSource {
  /** Matches TaIngest's expected raw columns. */
  val schema: StructType = StructType(Seq(
    "json", "Date", "DateTime", "CheckName",
    "AccountId", "AccountName", "AccountEmail")
    .map(StructField(_, StringType, nullable = false)))
}

private[sources] class TaTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "ta_check_results"
  override def schema(): StructType = TaCheckResultSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TaScan(props ++ options.asScala)
}

private[sources] case class TaPartition(accountId: String, accountName: String,
    accountEmail: String, checks: Seq[(String, String)],
    date: String, dateTime: String) extends InputPartition

private[sources] class TaScan(opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with Scan with Batch {
  private var required: StructType = TaCheckResultSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // column pruning (DSv2 pushdown): a projection that only needs the
    // account columns never materializes the fetched json payload
    required = requiredSchema
  }
  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft TA check-result scan [${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val accounts = opts.getOrElse("accounts", "").split(",")
      .filter(_.nonEmpty).map { a =>
        val parts = a.split(":")
        (parts(0), parts.lift(1).getOrElse(parts(0)),
          parts.lift(2).getOrElse(parts(0)))
      }
    val checks = opts.getOrElse("checks", "").split(",").filter(_.nonEmpty)
    val date = opts.getOrElse("date", "01-01-2024")
    val dt = opts.getOrElse("datetime", "2024-01-01 00:00:00")
    val named = checks.toSeq.map(c =>
      c -> graft.model.CheckRegistry.byId.get(c).map(_.name).getOrElse(c))
    if (named.isEmpty) Array.empty
    else accounts.map { case (id, nm, em) =>
      TaPartition(id, nm, em, named, date, dt): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TaReaderFactory(required.fieldNames)
}

private[sources] class TaReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TaPartition]
    new PartitionReader[InternalRow] {
      private val remaining = p.checks.iterator
      private var check: (String, String) = _
      override def next(): Boolean =
        remaining.hasNext && { check = remaining.next(); true }
      override def get(): InternalRow = {
        val (checkId, checkName) = check
        def field(name: String): Any = UTF8String.fromString(name match {
          // the fetch only happens if the json column survived pruning;
          // throttled API responses back off in place (template:1218-1236)
          // instead of failing the whole partition read
          case "json" => Retry.withTemplateRetry()(
            TaFetchStub.fetch(p.accountId, checkId))
          case "Date" => p.date
          case "DateTime" => p.dateTime
          case "CheckName" => checkName
          case "AccountId" => p.accountId
          case "AccountName" => p.accountName
          case "AccountEmail" => p.accountEmail
        })
        new GenericInternalRow(fields.map(field))
      }
      override def close(): Unit = ()
    }
  }
}

/** STUB for the Support API call — deterministic synthetic response keyed
  * by (account, check). A real deployment swaps this body for the
  * assume-role + `describe_trusted_advisor_check_result` HTTP call
  * (extract-ta-data-lambda.py:70-75,89-95); the partitioning, schema, and
  * everything downstream stay identical.
  *
  * Metadata is synthesized PER CHECK to match that check's positional
  * `Schema_<id>` mapping (CheckRegistry / template:450-467), so every
  * derived column of every Athena view parses real values: plain `$NN.CC`
  * money where the views apply `substr(x,2)` + `replace('$')`
  * (create-athena-views-lambda.py:90,98,107), QUOTED money (`"$NN.CC"`)
  * for RDS's double-delete variant (`replace('$')` + `replace('"')`,
  * :116), and an ISO-'T' timestamp for RI lease expiration's
  * `replace(x,'T',' ')` parse (:133). The resource-id-ish cell every
  * tag join key maps to keeps the `res-<account>-<i>` shape the tag
  * source's stub ARNs carry. */
object TaFetchStub {
  def fetch(accountId: String, checkId: String): String = {
    val seed = (accountId + checkId).hashCode & 0x7fffffff
    val flagged = seed % 5 + 1
    def money(n: Long, cents: String) = "$" + (10 + n % 90) + "." + cents
    // JSON-escaped embedded quotes: the metadata CELL VALUE is "$NN.75"
    // (quotes included), the byte shape RDS's view strips
    def quotedMoney(n: Long) = "\\\"" + money(n, "75") + "\\\""
    def metadata(i: Int): Seq[String] = {
      val rid = s"res-$accountId-$i"
      checkId match {
        // EC2 low utilization (Schema_Qch7DwouX1: status,region,0..21)
        case "Qch7DwouX1" =>
          Seq(s"az-$i", rid, s"name-$i", "t3.large", money(seed + i, "50")) ++
            (1 to 14).map(d => s"$d.0%") ++
            Seq(s"${(seed + i) % 10}.5%", "0.25%", s"${i + 3} days")
        // EBS (0..8): Region,VolId,VolName,VolType,VolSize,MonthlyCost,...
        case "DAvU99Dc4C" =>
          Seq("us-east-1", rid, s"vol-name-$i", "gp3",
            s"${100 + (seed + i) % 400}", money(seed + i, "25"),
            s"snap-$i", s"snap-name-$i", s"${i + 30} days")
        // idle LB (0..3): Region,LBName,Reason,Savings
        case "hjLMh88uM8" =>
          Seq("us-east-1", rid, "Low request count", money(seed + i, "50"))
        // idle RDS (0..6): ...,SavingsOnDemand carries EMBEDDED QUOTES
        case "Ti39halfu8" =>
          Seq("us-east-1", rid, "No", "db.m5.large", s"${100 + i}",
            s"${i + 7}", quotedMoney(seed + i))
        // Redshift (0..5): Status,Region,Cluster,InstType,Reason,Savings
        case "G31sQ1E9U" =>
          Seq("warning", "us-east-1", rid, "dc2.large",
            "Underutilized cluster", money(seed + i, "25"))
        // RI lease expiration (0..9): money x2 + ISO-'T' expiration date
        case "1e93e4c0b5" =>
          Seq("warning", "us-east-1a", "m5.large", "Linux/UNIX", s"${i + 1}",
            money(seed + i, "50"), money(seed + i + 1, "25"),
            s"2024-0${i % 9 + 1}-15T0$i:30:00Z", s"ri-$accountId-$i",
            "Lease expiring")
        // Route 53 latency records (0..3)
        case "51fC20e7I2" =>
          Seq(rid, s"Z${seed % 900 + 100}$i", s"rrs-$i.example.com.", "A")
        // unassociated EIP (0..1): Region,IP
        case "Z4AUBRNSmz" =>
          Seq("us-east-1", s"52.${(seed + i) % 200}.$i.7")
        // RI optimization (0..11): defined but not in SupportedChecks
        case "cX3c2R1chu" =>
          Seq("us-east-1", "m5.large", "Linux/UNIX", s"${i + 1}", "0.85",
            money(seed + i, "25"), money(seed + i + 2, "50"),
            money(seed + i + 3, "75"), money(seed + i + 4, "25"),
            "6", "30", "1")
        // unknown check ids keep the generic EC2-ish shape
        case _ =>
          Seq(s"az-$i", rid, s"name-$i", "t3.large", money(seed + i, "50")) ++
            (1 to 14).map(d => s"$d.0%") ++
            Seq(s"${(seed + i) % 10}.5%", "0.25%", s"${i + 3} days")
      }
    }
    val resources = (0 until flagged).map { i =>
      val meta = metadata(i).map(m => s""""$m"""").mkString("[", ",", "]")
      s"""{"status":"warning","region":"us-east-1","resourceId":"r$i",
         "isSuppressed":false,"metadata":$meta}"""
    }.mkString(",")
    s"""{"result":{"checkId":"$checkId","status":"warning",
       "resourcesSummary":{"resourcesProcessed":${flagged * 10},
         "resourcesFlagged":$flagged,"resourcesIgnored":0,"resourcesSuppressed":1},
       "categorySpecificSummary":{"costOptimizing":{
         "estimatedMonthlySavings":${seed % 1000}.25,
         "estimatedPercentMonthlySavings":0.1}},
       "flaggedResources":[$resources]}}"""
  }
}
