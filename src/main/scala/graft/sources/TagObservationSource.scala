package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source for tag observations — the live-API variant of S3
  * (`extract-tag-data-lambda.py:70-79`) with the reference's
  * resourceType x region cross-product (`get-tags-lambda.py:66-87`): one
  * InputPartition per account, whose reader runs one paginated sweep per
  * (resourceType, region) in order, so a 100-account x 6-type x 20-region
  * extract runs as 100 partition reads of 120 sweeps each, replacing the
  * TagMap Step Functions state (template:2105) at the account level. Each
  * sweep PAGES through the Tagging-API stub exactly like the boto3
  * paginator — rows carry an `obs_seq` that increases across the whole
  * partition, standing in for page order, which is what makes the A3
  * last-wins dedup in TaIngest.tags deterministic when a resource is
  * re-observed on a later page. An ARN belongs to exactly one (account,
  * type, region) sweep, so every re-observation of it is ordered inside
  * one partition.
  *
  * The per-page fetch is STUBBED with deterministic synthetic observations
  * (no network in this container); a production build swaps
  * [[TagFetchStub.page]] for `resourcegroupstaggingapi.get_resources` with
  * `PaginationToken`, and nothing else changes. Output schema matches
  * TaIngest.tags' expected input exactly.
  */
class TagObservationSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TagObservationSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TagTable(properties.asScala.toMap)
}

object TagObservationSource {
  /** Matches TaIngest.tags' expected observation columns. */
  val schema: StructType = StructType(Seq(
    StructField("ResourceArn", StringType, nullable = false),
    StructField("Key", StringType, nullable = false),
    StructField("Value", StringType, nullable = false),
    StructField("RegionName", StringType, nullable = false),
    StructField("ResourceType", StringType, nullable = false),
    StructField("obs_seq", LongType, nullable = false),
    StructField("Date", StringType, nullable = false),
    StructField("DateTime", StringType, nullable = false),
    StructField("AccountId", StringType, nullable = false),
    StructField("AccountName", StringType, nullable = false),
    StructField("AccountEmail", StringType, nullable = false)))
}

private[sources] class TagTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "tag_observations"
  override def schema(): StructType = TagObservationSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TagScan(props ++ options.asScala)
}

private[sources] case class TagPartition(accountId: String,
    accountName: String, accountEmail: String,
    sweeps: Seq[(String, String)], date: String, dateTime: String)
    extends InputPartition

private[sources] class TagScan(opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with Scan with Batch {
  private var required: StructType = TagObservationSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }
  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft tag-observation scan [${required.fieldNames.mkString(",")}]"

  /** The reference's fan-out cross product (get-tags-lambda.py:66-87):
    * one partition per account carrying its resourceTypes x regions
    * sweeps. */
  override def planInputPartitions(): Array[InputPartition] = {
    val accounts = opts.getOrElse("accounts", "").split(",")
      .filter(_.nonEmpty).map { a =>
        val parts = a.split(":")
        (parts(0), parts.lift(1).getOrElse(parts(0)),
          parts.lift(2).getOrElse(parts(0)))
      }
    val types = opts.getOrElse("resourceTypes", "").split(",").filter(_.nonEmpty)
    val regions = opts.getOrElse("regions", "us-east-1").split(",")
      .filter(_.nonEmpty)
    val date = opts.getOrElse("date", "01-01-2024")
    val dt = opts.getOrElse("datetime", "2024-01-01 00:00:00")
    val sweeps = for { t <- types.toSeq; r <- regions.toSeq } yield (t, r)
    if (sweeps.isEmpty) Array.empty
    else accounts.map { case (id, nm, em) =>
      TagPartition(id, nm, em, sweeps, date, dt): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TagReaderFactory(required.fieldNames)
}

private[sources] class TagReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TagPartition]
    new PartitionReader[InternalRow] {
      // paginator state: buffered current page + next token, exactly the
      // boto3 paginate() loop shape (extract-tag-data-lambda.py:70-79),
      // restarted at token 0 for each (type, region) sweep
      private val sweeps = p.sweeps.iterator
      private var sweep: (String, String) = _
      private var buffer: Iterator[TagFetchStub.Obs] = Iterator.empty
      private var nextToken: Option[Int] = None
      private var current: TagFetchStub.Obs = _
      private var seq = 0L

      override def next(): Boolean = {
        while (!buffer.hasNext && (nextToken.isDefined || sweeps.hasNext)) {
          if (nextToken.isEmpty) { sweep = sweeps.next(); nextToken = Some(0) }
          val (rows, tok) =
            TagFetchStub.page(p.accountId, sweep._1, sweep._2, nextToken.get)
          buffer = rows.iterator
          nextToken = tok
        }
        if (buffer.hasNext) { current = buffer.next(); seq += 1; true }
        else false
      }

      override def get(): InternalRow = {
        def field(name: String): Any = name match {
          case "obs_seq" => seq
          case other => UTF8String.fromString(other match {
            case "ResourceArn" => current.arn
            case "Key" => current.key
            case "Value" => current.value
            case "RegionName" => sweep._2
            case "ResourceType" => sweep._1
            case "Date" => p.date
            case "DateTime" => p.dateTime
            case "AccountId" => p.accountId
            case "AccountName" => p.accountName
            case "AccountEmail" => p.accountEmail
          })
        }
        new GenericInternalRow(fields.map(field))
      }
      override def close(): Unit = ()
    }
  }
}

/** STUB for the Resource Groups Tagging API paginator — deterministic
  * synthetic pages keyed by (account, type, region). A real deployment
  * swaps this body for `get_resources(ResourceTypeFilters=[type],
  * TagFilters=..., PaginationToken=token)`
  * (extract-tag-data-lambda.py:66-79); partitioning, pagination, and
  * everything downstream stay identical.
  *
  * Deliberate shapes for tests: resource ids in us-east-1 align with
  * TaFetchStub's flagged `res-<account>-<i>` ids so lake tag joins hit;
  * the LAST page re-observes resource 0 with a new CostCenter value, the
  * dict-overwrite case the A3 last-wins dedup must resolve by page order. */
object TagFetchStub {
  final case class Obs(arn: String, key: String, value: String)

  val pageSize = 2
  val tagKeys: Seq[String] = Seq("CostCenter", "Env", "Team")

  private def resourceId(accountId: String, region: String, i: Int): String =
    if (region == "us-east-1") s"res-$accountId-$i"
    else s"res-$accountId-$region-$i"

  def page(accountId: String, resourceType: String, region: String,
      token: Int): (Seq[Obs], Option[Int]) = {
    val seed = (accountId + resourceType + region).hashCode & 0x7fffffff
    val nRes = seed % 4 + 2 // 2..5 resources per (account, type, region)
    val service = resourceType.split(":")(0)
    val kind = resourceType.split(":").lift(1).getOrElse("resource")
    def arn(i: Int) =
      s"arn:aws:$service:$region:$accountId:$kind/${resourceId(accountId, region, i)}"
    // token -1 = the trailing page re-observing resource 0 (a tag edited
    // mid-scan): the dict-overwrite case A3 last-wins must resolve
    if (token == -1)
      return (Seq(Obs(arn(0), "CostCenter", s"CostCenter-updated-$seed")), None)
    val start = token * pageSize
    val rows = (start until math.min(start + pageSize, nRes)).flatMap { i =>
      tagKeys.zipWithIndex.collect {
        case (k, j) if (seed + i + j) % 4 != 0 =>
          Obs(arn(i), k, s"$k-${(seed + i + j) % 7}")
      }
    }
    if (start + pageSize < nRes) (rows, Some(token + 1))
    else (rows, Some(-1))
  }
}
