package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Sparql, Wikidata}

class SparqlWikidataSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  lazy val stub = new HttpStub
  override def afterAll(): Unit = stub.stop()

  private val catsCsv =
    """item,itemLabel
      |http://www.wikidata.org/entity/Q1,Cat One
      |http://www.wikidata.org/entity/Q2,Cat Two
      |""".stripMargin
  private def fixtureFetch(csv: String): Sparql.Fetch = _ => csv.getBytes("UTF-8")

  test("sparql: declared schema types values; empty optionals parse as null") {
    val csv =
      """item,tvdb_id,tmdb_id
        |http://www.wikidata.org/entity/Q1,77000,
        |http://www.wikidata.org/entity/Q2,88000,615
        |""".stripMargin
    val schema = StructType(Seq(StructField("item", StringType),
      StructField("tvdb_id", LongType), StructField("tmdb_id", LongType)))
    val df = Sparql.sparql(spark, "q", schema, fixtureFetch(csv))
    assert(df.schema === schema)  // schema known pre-collection
    // an RDD-backed scan, as Spark's own readers build, not a LocalRelation
    assert(df.queryExecution.optimizedPlan.collectLeaves().map(_.getClass.getSimpleName) ===
      Seq("LogicalRDD"))
    val rows = df.orderBy("tvdb_id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getLong(2) === 615L)
  }

  test("sparql: a value that does not parse fails the call") {
    val schema = StructType(Seq(StructField("item", StringType), StructField("id", LongType)))
    intercept[org.apache.spark.SparkException] {
      Sparql.sparql(spark, "q", schema, fixtureFetch("item,id\nQ1,not-a-number\n"))
    }
  }

  private val catsSchema = StructType(Seq(
    StructField("item", StringType), StructField("itemLabel", StringType)))

  private def labels(csv: String): Seq[(String, String)] =
    Sparql.sparql(spark, "q", catsSchema, fixtureFetch(csv)).orderBy("item").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  test("sparql: header mismatch against declared schema fails fast") {
    val wrong = StructType(Seq(StructField("wrong", StringType), StructField("names", StringType)))
    intercept[IllegalArgumentException] {
      Sparql.sparql(spark, "q", wrong, fixtureFetch(catsCsv))
    }
  }

  test("sparql: a quoted field keeps its newline and its comma as one value") {
    val csv = "item,itemLabel\n" +
      "http://www.wikidata.org/entity/Q1,\"Cat\nOne\"\n" +
      "http://www.wikidata.org/entity/Q2,\"Cat, Two\"\n"
    assert(labels(csv) === Seq(
      "http://www.wikidata.org/entity/Q1" -> "Cat\nOne",
      "http://www.wikidata.org/entity/Q2" -> "Cat, Two"))
  }

  test("sparql: CRLF and LF replies parse alike") {
    assert(labels(catsCsv.replace("\n", "\r\n")) === labels(catsCsv))
    assert(labels(catsCsv).map(_._2) === Seq("Cat One", "Cat Two"))
  }

  test("sparql: an empty reply fails; a header-only reply is an empty frame") {
    intercept[IllegalArgumentException] {
      Sparql.sparql(spark, "q", catsSchema, fixtureFetch(""))
    }
    assert(Sparql.sparql(spark, "q", catsSchema, fixtureFetch("item,itemLabel\r\n")).count() === 0)
  }

  test("blocklist: fetch via HTTP pipeline, extract Q-ids, explode, sort") {
    val qids = Wikidata.blockedQids(spark, stub.base,
      graft.operators.Http.JdkTransport, minTimeMs = 0L)
    assert(qids === Seq("Q100", "Q42", "Q5"))  // sorted lexicographically
  }

  test("isBlockedItem matches entity URLs and bare QIDs against the set") {
    import spark.implicits._
    val blocked = Seq("Q42", "Q100")
    val df = Seq("http://www.wikidata.org/entity/Q42", "Q100", "Q7", "garbage")
      .toDF("item")
      .select(Wikidata.isBlockedItem(col("item"), blocked).as("b"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0)).toSeq ===
      Seq(true, true, false, null))
  }

  test("HttpParquet: fetch-once remote index scan with pushdown-capable local read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hp").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    stub.fileFixtures.put("idx.parquet", java.nio.file.Files.readAllBytes(part.toPath))
    val url = s"${stub.base}/files/idx.parquet"
    val before = stub.requestCount.get()
    val df = graft.sources.HttpParquet.read(spark, url, refresh = true)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    graft.sources.HttpParquet.read(spark, url).count()  // cache hit, no refetch
    assert(stub.requestCount.get() - before === 1)
    intercept[IllegalArgumentException] {
      graft.sources.HttpParquet.read(spark, s"${stub.base}/files/missing.parquet", refresh = true)
    }
  }
}
