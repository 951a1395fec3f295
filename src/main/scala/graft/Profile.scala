package graft
import org.apache.spark.sql.SparkSession

/** Scratch profiling main (not part of the driver contract): runs the
  * named queries N times each in one session to split plan/codegen
  * compile cost from steady-state execution.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    // runs 1-3 drop the cache first (codegen-warm after run1,
    // cache-cold); runs 4-5 keep it (steady-state)
    for (name <- names; i <- 1 to 5) {
      if (i <= 3) spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val mode = if (i <= 3) "cache-cold" else "cache-warm"
      println(f"[profile] $name run$i ($mode): ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    spark.stop()
  }
}

/** Incremental-maintenance adjudicator (not part of the driver
  * contract): times a FULL BM25 index rebuild against the
  * delta-append path at the same final corpus, so the "delta cost ≪
  * rebuild" claim in PROFILE.md is a measurement, not an assertion.
  * The delta is every Nth doc (default 7 — one day's arrivals against
  * a week-old index, proportionally).
  */
object ProfileBm25Append {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mod = args.headOption.map(_.toInt).getOrElse(7)
    // corpus replication factor: at 1x the sf0.1 corpus the numbers
    // are fixed-overhead-dominated (a dozen Spark jobs on 5k docs);
    // K>=10 is where tokenize+shuffle dominate and the delta-vs-
    // rebuild asymptotics show
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs1 = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docs = (0 until k).map { r =>
      docs1.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"))
    }.reduce(_ unionByName _).repartition(32).cache()
    println(s"[append-profile] corpus docs: ${docs.count()} (${k}x)")
    val base = docs.filter(col("doc_id") % mod =!= 0)
    val delta = docs.filter(col("doc_id") % mod === 0)
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[append-profile] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for (i <- 1 to 3) {
      time(s"rebuild_full_run$i") {
        graft.operators.Retrieval.buildBm25Index(docs, "doc_id", "text",
          s"prof_full_$i")
      }
      time(s"build_base_run$i") {
        graft.operators.Retrieval.buildBm25Index(base, "doc_id", "text",
          s"prof_base_$i")
      }
      time(s"append_delta_run$i") {
        graft.operators.Retrieval.appendToBm25Index(spark, s"prof_base_$i",
          delta, "doc_id", "text", s"prof_merged_$i")
      }
      time(s"compact_run$i") {
        graft.operators.Retrieval.compactBm25Index(spark, s"prof_merged_$i",
          s"prof_compacted_$i")
      }
    }
    spark.stop()
  }
}
