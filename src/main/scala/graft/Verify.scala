package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Failures are
  * an explicit artifact (errors.json), never a silently-missing key —
  * a round-5 schema regression hid 20 failing queries exactly that way.
  */
object Verify {

  /** Dump each selected query to `outDir/<name>` parquet under a
    * per-query wall-clock budget; returns name → error message for
    * every query that failed (timeout or throw). A failed query's
    * partial/stale output dir is deleted so errors.json and the
    * on-disk state can never disagree. Factored out of main so the
    * failure path itself is testable (VerifySpec).
    */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  queries: Seq[(String, (SparkSession, String) => DataFrame)],
                  timeoutSec: Long): collection.SortedMap[String, String] = {
    new java.io.File(outDir).mkdirs()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val errors = scala.collection.mutable.TreeMap.empty[String, String]
    def deleteOutput(name: String): Unit = {
      val dir = Paths.get(s"$outDir/$name")
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    // The pool is single-threaded, so a completed no-op barrier proves the
    // (possibly cancelled) previous callable has actually exited — only
    // then is it safe to delete its output dir, else a still-cancelling
    // executor write could recreate files after the walk and make the
    // on-disk state disagree with errors.json.
    def awaitQuiescence(): Boolean =
      try { pool.submit(new Runnable { def run(): Unit = () })
              .get(30, java.util.concurrent.TimeUnit.SECONDS); true }
      catch { case _: java.util.concurrent.TimeoutException => false
              case e: InterruptedException =>
                Thread.currentThread().interrupt(); false }
    queries.foreach { case (name, fn) =>
      val task = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          finally spark.sparkContext.clearJobGroup()
        }
      })
      try task.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          task.cancel(true)
          errors(name) = s"timeout after ${timeoutSec}s"
          System.err.println(s"[verify] $name failed: ${errors(name)}")
          if (!awaitQuiescence())
            System.err.println(s"[verify] $name still cancelling after 30s; output dir may be partially recreated")
          deleteOutput(name)
        case e: Throwable =>
          if (e.isInstanceOf[InterruptedException])
            Thread.currentThread().interrupt()
          val cause = Option(e.getCause).getOrElse(e)
          errors(name) =
            s"${cause.getClass.getSimpleName}: ${Option(cause.getMessage).getOrElse("")}"
          System.err.println(s"[verify] $name failed: ${errors(name)}")
          deleteOutput(name)
      }
      // several operators persist intermediates the returned plan still
      // references; left alone they accumulate across the ~100-query
      // dump and squeeze execution memory
      spark.sharedState.cacheManager.clearCache()
    }
    pool.shutdownNow()
    errors
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeJsonMap(path: String, m: collection.Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  /** An empty warehouse dir under java.io.tmpdir, deleted on JVM exit. */
  private def freshWarehouseDir(): String = {
    val p = Files.createTempDirectory("graft_wh_verify_")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }
    p.toString
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset]
    // (the driver passes two; the subset is a local iteration aid and
    // also filters oracle_sql.json so check_oracle.py sees a
    // consistent pair)
    val (sfDir, outDir) = (args(0), args(1))
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fresh per-run warehouse: a Verify run must not inherit index
      // tables a prior run left in cwd's spark-warehouse, nor leave
      // 100s of MB behind
      .config("spark.sql.warehouse.dir", freshWarehouseDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-query wall-clock budget: one pathological
    // plan cannot stall the whole correctness dump
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.forall(_(name)) }
      .sortBy(_._1)
    val errors = dumpQueries(spark, sfDir, outDir, selected, timeoutSec)
    writeJsonMap(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => subset.forall(_(k)) })
    // explicit failure manifest — always written (possibly "{}") so the
    // driver can distinguish "no failures" from "file never produced"
    writeJsonMap(s"$outDir/errors.json", errors)
    if (errors.nonEmpty) {
      // denominator = the queries this run actually attempted, so a
      // subset run cannot overstate its size
      System.err.println(s"[verify] ${errors.size}/${selected.size} queries FAILED to dump: ${errors.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
