package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColumnOps.{extractAll, extractFirst, isInSet}
import graft.operators.Http

/** Wikidata blocklist source + membership predicate (wikidata.py).
  *
  * The reference fetches one wiki-page extract through its HTTP
  * expression pipeline, regex-extracts all Q-ids, explodes and sorts
  * — cached per process. Same shape here: a 1-row frame through
  * prepareRequest → request → from_json → field navigation →
  * extract_all → explode → sort; the caller collects once and
  * broadcasts the resulting small set via isin (SURVEY.md E4/F5).
  */
object Wikidata {

  val BlockedPageId = 103442925

  private val extractSchema: StructType =
    StructType(Seq(StructField("query", StructType(Seq(
      StructField("pages", StructType(Seq(
        StructField(BlockedPageId.toString, StructType(Seq(
          StructField("extract", StringType))))))))))))

  /** The blocklist as a 1-column sorted DataFrame of Q-ids.
    * `apiBase` points at www.wikidata.org in production, a local stub
    * in tests. min_time=60s between calls per wikidata.py:47.
    */
  def blockedQidsFrame(spark: SparkSession, apiBase: String,
                       transport: Http.Transport = Http.JdkTransport,
                       userAgent: String = "GraftBot/1.0",
                       minTimeMs: Long = 60000L): DataFrame = {
    import spark.implicits._
    val base = Seq(BlockedPageId).toDF("pageids")
      .withColumn("request", Http.prepareRequest(
        url = lit(s"$apiBase/w/api.php"),
        fields = Seq(
          "action" -> lit("query"),
          "format" -> lit("json"),
          "pageids" -> col("pageids"),
          "prop" -> lit("extracts"),
          "explaintext" -> lit("1")),
        headers = Seq("User-Agent" -> lit(userAgent))))
    val responded = Http.request(base, "request",
      Http.Options(logGroup = "wikidata", badStatuses = Set(403, 429),
        minTimeMs = minTimeMs),
      transport)
    responded
      .select(extractAll(
        from_json(Http.responseText(col("response")), extractSchema)
          .getField("query").getField("pages")
          .getField(BlockedPageId.toString).getField("extract"),
        "(Q[0-9]+)").as("qid"))
      .select(explode(col("qid")).as("qid"))
      .orderBy(col("qid"))
  }

  /** Collected, ready to broadcast into `isBlockedItem`. Cache with a
    * driver-side lazy val at the call site (the reference's @cache).
    */
  def blockedQids(spark: SparkSession, apiBase: String,
                  transport: Http.Transport = Http.JdkTransport,
                  minTimeMs: Long = 60000L): Seq[String] =
    blockedQidsFrame(spark, apiBase, transport, minTimeMs = minTimeMs)
      .collect().map(_.getString(0)).toSeq

  /** entity-URL or bare-QID column → blocked? (wikidata.py:70-71:
    * str.extract "(Q[0-9]+)" then is_in the imploded blocklist).
    */
  def isBlockedItem(c: Column, blocked: Seq[String]): Column =
    isInSet(extractFirst(c, "(Q[0-9]+)"), blocked)
}
