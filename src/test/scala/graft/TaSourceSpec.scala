package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** A spec over the live-API sources' stub data: a TA check-result frame
  * and a tag-observation frame for two accounts on one day, and a listing
  * of the files a lake write leaves. */
trait TaSourceSpec extends SparkSpec {

  protected val accounts =
    "123456789012:Acme:ops@acme.example,999988887777:Beta:eng@beta.example"

  protected def taSource(checks: Seq[String],
      date: String = "01-15-2024"): DataFrame =
    spark.read.format("graft.sources.TaCheckResultSource")
      .option("accounts", accounts).option("checks", checks.mkString(","))
      .option("date", date).load()

  protected def tagSource(date: String = "01-15-2024"): DataFrame =
    spark.read.format("graft.sources.TagObservationSource")
      .option("accounts", accounts)
      .option("resourceTypes", "ec2:instance,ec2:volume")
      .option("regions", "us-east-1,eu-west-1")
      .option("date", date).load()

  /** Every path under `root`, `root` included. */
  protected def filesUnder(root: String): Set[String] = {
    val it = Files.walk(Paths.get(root))
    try {
      val b = Set.newBuilder[String]
      it.forEach(p => b += p.toString)
      b.result()
    } finally it.close()
  }
}
