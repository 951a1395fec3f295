package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Frames, Http}
import graft.pipelines.{WdOpenCritic, WdTmdb}
import graft.sources.{HttpParquet, Sparql}

/** Result of one timed unit of work: its wall seconds and how many
  * operations it attempted and failed (throws or failed checks).
  */
final case class Iter(jobS: Double, attempted: Int, failed: Int)

/** Counters recorded by the benchmark's wrappers around source calls. */
object SourceStats {
  import java.util.concurrent.atomic.AtomicLong
  val sparqlCalls, sparqlRows, sparqlBytes, parquetCalls, parquetBytes = new AtomicLong
  def reset(): Unit =
    Seq(sparqlCalls, sparqlRows, sparqlBytes, parquetCalls, parquetBytes).foreach(_.set(0))
}

/** What every workload provides to the measuring loop in [[Main]]. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val stats: SparkStats) {
  /** Set-up that the loop repeats to take a median; every repetition
    * but the last releases what it built.
    */
  def setup(last: Boolean): Unit
  /** Untimed work after set-up that the units depend on. */
  def prepare(): Unit = ()
  /** One timed unit; returns its wall seconds and output checks. */
  def iteration(): Iter
  /** Traced run only: extra per-layer numbers from separate passes. */
  def breakdown(): (Map[String, Double], Int, Int) = (Map.empty, 0, 0)
  def stub: Option[Stub] = None
  /** Per-layer numbers this workload alone defines. */
  def own: Map[String, Double] = Map.empty
  /** Extra fields for the result line (read by run.py). */
  def extra: Map[String, String] = Map.empty
  def close(): Unit = ()
}

object Main {
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        workdir: Path, tables: String, startMs: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("workdir")).toAbsolutePath, m.getOrElse("tables", ""), m("start-ms").toLong)
  }

  def session(workdir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", workdir.resolve("warehouse").toString)
      .config("spark.local.dir", workdir.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    val vs = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] => json(m.asInstanceOf[Map[String, Any]])
      case s => quote(s.toString)
    }
    "\"" + k + "\":" + vs
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    Stub.configure()
    val o = parse(args)
    HeapPeak.install()
    val spark = session(o.workdir)
    val code =
      try {
        if (o.workload == "selftest") SelfTest.run(spark, o.workdir)
        else { println(run(spark, o)); 0 }
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  /** Layer numbers from the counters and spans of the last iteration. */
  def layers(w: Workload): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(w.spark.sparkContext)
    val spans = w.tracer.recorded
    val named = Tracer.byName(spans)
    def total(n: String) = named.get(n).fold(0.0)(_._1)
    def self(n: String) = named.get(n).fold(0.0)(_._2)
    val t = w.stats.total
    val (apiReq, apiBusy, apiNonOk) =
      w.stub.fold((0L, 0.0, 0L))(_.sum("tmdb_find", "tmdb_exists", "tmdb"))
    val req = HttpStats.requests.get.toDouble
    Map(
      "sources.sparql.calls" -> SourceStats.sparqlCalls.get.toDouble,
      "sources.sparql.rows" -> SourceStats.sparqlRows.get.toDouble,
      "sources.sparql.bytes" -> SourceStats.sparqlBytes.get.toDouble,
      "sources.sparql.fetch_s" -> total("sources.sparql.fetch"),
      "sources.sparql.parse_s" -> self("pipelines.build"),
      "sources.http_parquet.calls" -> SourceStats.parquetCalls.get.toDouble,
      "sources.http_parquet.bytes" -> SourceStats.parquetBytes.get.toDouble,
      "sources.http_parquet.read_s" -> total("sources.http_parquet.read"),
      "http.requests" -> req,
      "http.distinct_urls" -> HttpStats.distinctUrls.toDouble,
      "http.dup_ratio" -> (if (HttpStats.distinctUrls == 0) 0.0 else req / HttpStats.distinctUrls),
      "http.busy_s" -> HttpStats.busySeconds,
      "http.in_flight_max" -> HttpStats.inFlightMax.get.toDouble,
      "http.stub_wait_s" -> apiBusy,
      "http.stub_requests" -> apiReq.toDouble,
      "http.non_ok" -> apiNonOk.toDouble,
      "frames.sink_s" -> total("frames.sink"),
      "frames.sink.jobs" -> w.stats.span("frames.sink").jobs.get.toDouble,
      "spark.jobs" -> t.jobs.get.toDouble,
      "spark.tasks" -> t.tasks.get.toDouble,
      "spark.executor_run_s" -> t.runMs.get / 1e3,
      "spark.executor_cpu_s" -> t.cpuNs.get / 1e9,
      "spark.gc_s" -> t.gcMs.get / 1e3,
      "spark.shuffle_write_mb" -> t.shuffleWriteBytes.get / 1048576.0,
      "spark.spill_mb" -> t.spillBytes.get / 1048576.0,
      "spark.input_mb" -> t.inputBytes.get / 1048576.0,
      "spark.task_skew" -> w.stats.taskSkew,
      "api_calls" -> w.stub.fold(0.0)(_.requests.get.toDouble)
    ) ++ w.own
  }

  /** Resets every counter and arms tracing for one iteration. */
  def beginIteration(w: Workload, traced: Boolean): Unit = {
    org.apache.spark.PerfbenchBus.drain(w.spark.sparkContext)
    w.stub.foreach(_.reset())
    HttpStats.reset(); SourceStats.reset(); w.stats.reset(); w.tracer.clear()
    w.tracer.enabled = traced
  }

  def run(spark: SparkSession, o: Opts): String = {
    val tracer = new Tracer(spark.sparkContext)
    val stats = new SparkStats
    val w: Workload = o.workload match {
      case "tmdb_api" => new PipelineWorkload(spark, tracer, stats, o, PipelineWorkload.TmdbApi, bulk = false)
      case "batch" => new BatchWorkload(
        new PipelineWorkload(spark, tracer, stats, o, PipelineWorkload.Bulk, bulk = true),
        new CatalogWorkload(spark, tracer, stats, o))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val reps = (0 until SetupReps).map(i => time(w.setup(last = i == SetupReps - 1))._2)
      w.prepare()
      // one untimed full-size unit, so the timed ones run compiled code
      // on warm caches; its output is checked like every other unit's
      beginIteration(w, traced = false)
      val warm = w.iteration()
      System.err.println(f"[perfbench] warm-up unit job_s=${warm.jobS}%.3f")
      val readyMs = System.currentTimeMillis()
      val setupS = (readyMs - o.startMs) / 1e3 - reps.sum + median(reps)
      System.err.println(s"[perfbench] setup repetitions ${reps.mkString(" ")} s; setup_s $setupS")

      if (o.trace) spark.sparkContext.addSparkListener(stats)
      val iters = ArrayBuffer.empty[(Boolean, Iter)]
      val apiCalls = ArrayBuffer.empty[Double]
      val tracedLayers = ArrayBuffer.empty[Map[String, Double]]
      val spans = ArrayBuffer.empty[Span]
      System.gc()
      HeapPeak.peakBytes.set(0)
      HeapPeak.armed = true
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      // a traced run alternates untraced and traced units, at least
      // untraced-traced-untraced, so the tracing overhead is measured in
      // the same process and a warming trend cancels; another unit
      // starts only if it is expected to end in time
      def expectedEnd = System.nanoTime() + (median(iters.map(_._2.jobS).toSeq) * 1e9).toLong
      while (iters.isEmpty || (o.trace && iters.size < 3) || expectedEnd <= deadline) {
        val traced = o.trace && iters.size % 2 == 1
        beginIteration(w, traced)
        val it = w.iteration()
        w.tracer.enabled = false
        iters += traced -> it
        apiCalls += w.stub.fold(0.0)(_.requests.get.toDouble)
        if (traced) { tracedLayers += layers(w); spans ++= w.tracer.recorded }
        System.err.println(f"[perfbench] unit ${iters.size} traced=$traced job_s=${it.jobS}%.3f")
        System.gc()
      }
      Thread.sleep(200)  // GC notifications arrive on their own thread
      HeapPeak.armed = false
      val (bd, bdAttempted, bdFailed) = if (o.trace) w.breakdown() else (Map.empty[String, Double], 0, 0)

      val attempted = warm.attempted + iters.map(_._2.attempted).sum + bdAttempted
      val failed = warm.failed + iters.map(_._2.failed).sum + bdFailed
      val plain = iters.filterNot(_._1).map(_._2.jobS).toSeq
      val traced = iters.filter(_._1).map(_._2)
      val layerMetrics: Map[String, Double] =
        if (!o.trace) Map.empty
        else {
          val names = tracedLayers.flatMap(_.keys).distinct
          names.map(n => n -> median(tracedLayers.map(_.getOrElse(n, 0.0)).toSeq)).toMap ++ bd ++ Map(
            "trace.job_s" -> median(traced.map(_.jobS).toSeq),
            "trace.overhead_s" -> (median(traced.map(_.jobS).toSeq) - median(plain)))
        }
      val endToEnd = Map(
        "setup_s" -> setupS,
        "job_s" -> median(plain),
        "heap_peak_mb" -> HeapPeak.peakBytes.get / 1048576.0,
        "api_calls" -> Main.median(apiCalls.toSeq))
      if (o.trace) writeTrace(o, spans.toSeq)
      json(Map(
        "attempted" -> attempted, "failed" -> failed,
        "iterations" -> plain.size, "traced_iterations" -> traced.size,
        "end_to_end" -> endToEnd, "per_layer" -> layerMetrics, "extra" -> w.extra))
    } finally w.close()
  }

  private def writeTrace(o: Opts, spans: Seq[Span]): Unit = {
    val self = Tracer.selfNs(spans)
    val lines = spans.map(s => json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))))
    Files.writeString(o.workdir.resolve("spans.json"),
      s"""{"run_id":"${o.workload}-${o.seed}-${o.startMs}","spans":[${lines.mkString(",\n")}]}""")
    ()
  }
}

/** The bot pipelines, WdTmdb alone (`tmdb_api`) or with WdOpenCritic
  * (the first half of `batch`), wired as the bots wire them — SPARQL through
  * `Sparql.httpFetch`, indexes through `HttpParquet.read`, API calls
  * through the JDK transport — against the stub.
  */
final class PipelineWorkload(spark: SparkSession, tracer: Tracer, stats: SparkStats,
                             o: Main.Opts, sizes: Sizes, bulk: Boolean)
    extends Workload(spark, tracer, stats) {
  private val outDir = o.workdir.resolve("rdf-out")

  /** The generated instance served by its own stub, with its answers. */
  private final class Env {
    val inputs: Inputs = Gen(o.seed, sizes)
    val tmdb: Map[String, Seq[String]] = KnownAnswer.tmdb(inputs)
    val oc: Map[String, Seq[String]] = if (bulk) KnownAnswer.openCritic(inputs) else Map.empty
    private val files = IndexFiles.write(spark, inputs, o.workdir.resolve("index"), withOc = bulk)
    val indexBytes: Map[String, Long] = files.map { case (n, b) => n -> b.length.toLong }
    val stub = new Stub(inputs, files, PipelineWorkload.StubDelayMs, "perfbench-key",
      Runtime.getRuntime.availableProcessors())
    val roundTripMs: Double = Stub.roundTripMedianMs(stub, 200)
    if (roundTripMs >= PipelineWorkload.MaxRoundTripMs) {
      stub.stop()
      throw new IllegalStateException(f"stub round trip $roundTripMs%.2f ms: loopback is not calibrated")
    }
    def all: Seq[String] = (tmdb.values ++ oc.values).flatten.toSeq
  }

  private var env: Env = _

  override def stub: Option[Stub] = Option(env).map(_.stub)

  def setup(last: Boolean): Unit = {
    val e = new Env
    if (last) env = e else e.stub.stop()
  }

  private def clearParquetCache(): Unit =
    Option(HttpParquet.cacheDir.toFile.listFiles()).foreach(_.foreach(_.delete()))

  private def index(e: Env, name: String): DataFrame = tracer("sources.http_parquet.read") {
    val fetches = e.stub.route("index").count
    val before = fetches.get
    val df = HttpParquet.read(spark, e.stub.indexUrl(name))
    if (tracer.enabled) {
      SourceStats.parquetCalls.incrementAndGet()
      if (fetches.get > before) SourceStats.parquetBytes.addAndGet(e.indexBytes(name))
    }
    df
  }

  private def fetch(e: Env): Sparql.Fetch = {
    val base = Sparql.httpFetch(Sparql.Config(endpoint = e.stub.sparqlEndpoint))
    q => tracer("sources.sparql.fetch") {
      val bytes = base(q)
      if (tracer.enabled) {
        SourceStats.sparqlCalls.incrementAndGet()
        SourceStats.sparqlBytes.addAndGet(bytes.length)
        SourceStats.sparqlRows.addAndGet(bytes.count(_ == '\n') - 1)
      }
      bytes
    }
  }

  private def tmdbSources(e: Env) = WdTmdb.Sources(
    sparqlFetch = fetch(e),
    tmdbIndex = t => index(e, s"tmdb-$t"),
    apiBase = e.stub.base,
    apiKey = e.stub.apiKey,
    transport = if (tracer.enabled) TimingTransport else Http.JdkTransport,
    blockedQids = e.inputs.blocked)

  private def ocSources(e: Env) = WdOpenCritic.Sources(
    sparqlFetch = fetch(e), apiIndex = () => index(e, "opencritic"), blockedQids = e.inputs.blocked)

  private def tmdbPart(p: String): (SparkSession, WdTmdb.Sources) => DataFrame = p match {
    case "imdb_movie" => WdTmdb.findTmdbIdsViaImdbId(_, "movie", _)
    case "imdb_tv" => WdTmdb.findTmdbIdsViaImdbId(_, "tv", _)
    case "tvdb" => WdTmdb.findTmdbIdsViaTvdbId(_, _)
    case "imdb_person" => WdTmdb.findTmdbIdsViaImdbId(_, "person", _)
    case "not_found_movie" => WdTmdb.findTmdbIdsNotFound(_, "movie", _)
    case "not_found_tv" => WdTmdb.findTmdbIdsNotFound(_, "tv", _)
    case "not_found_person" => WdTmdb.findTmdbIdsNotFound(_, "person", _)
  }

  private def ocPart(p: String): (SparkSession, WdOpenCritic.Sources) => DataFrame = p match {
    case "top_critic" => WdOpenCritic.findTopCriticScore
    case "percent_recommended" => WdOpenCritic.findPercentRecommended
  }

  /** Runs `build` then the workload's sink; returns the wall seconds
    * and the number of failed checks against `expected`.
    */
  private def runChecked(build: => DataFrame, expected: Seq[String]): (Double, Int) = {
    clearParquetCache()
    val ((df, out), dt) = Main.time(tracer("job") {
      val df = tracer("pipelines.build")(build)
      df -> tracer("frames.sink") {
        if (bulk) { Frames.writeRdfStatements(df, outDir.toString); "" }
        else {
          val buf = new java.io.ByteArrayOutputStream()
          Frames.printRdfStatements(df, out = new java.io.PrintStream(buf, true, "UTF-8"))
          buf.toString("UTF-8")
        }
      }
    })
    // untimed full collection while the plan (which holds the parsed
    // SPARQL replies) and the output are still referenced, so
    // heap_peak_mb sees them whether or not a young collection fell
    // inside the unit
    System.gc()
    java.lang.ref.Reference.reachabilityFence(df)
    val ok =
      if (bulk) Checks.exactSet(Checks.readStatements(outDir), expected)
      else Checks.sampledSubset(out.split("\n").filter(_.nonEmpty).toSeq, expected, 250)
    (dt, if (ok) 0 else 1)
  }

  private def full(e: Env): DataFrame = {
    val tm = WdTmdb.fullPipeline(spark, tmdbSources(e))
    if (!bulk) tm else Frames.concatFrames(Seq(tm, WdOpenCritic.fullPipeline(spark, ocSources(e))))
  }

  private def guarded(body: => (Double, Int)): Iter =
    try { val (dt, failed) = body; Iter(dt, 1, failed) }
    catch { case e: Exception =>
      System.err.println(s"[perfbench] unit failed: $e")
      Iter(Double.NaN, 1, 1)
    }

  def iteration(): Iter = guarded(runChecked(full(env), env.all))

  override def own: Map[String, Double] = Map("stub.round_trip_ms" -> env.roundTripMs)

  override def breakdown(): (Map[String, Double], Int, Int) = {
    tracer.enabled = false
    val tm = KnownAnswer.TmdbParts.map { p =>
      s"pipelines.wd_tmdb.${p}_s" -> guarded(runChecked(tmdbPart(p)(spark, tmdbSources(env)), env.tmdb(p)))
    }
    val oc = KnownAnswer.OcParts.map { p =>
      s"pipelines.wd_opencritic.${p}_s" -> (
        if (bulk) guarded(runChecked(ocPart(p)(spark, ocSources(env)), env.oc(p)))
        else Iter(0.0, 0, 0))
    }
    val all = tm ++ oc
    (all.map { case (n, it) => n -> it.jobS }.toMap, all.map(_._2.attempted).sum, all.map(_._2.failed).sum)
  }

  override def close(): Unit = Option(env).foreach(_.stub.stop())
}

object PipelineWorkload {
  /** Service delay of every stub answer, modelling a remote API. */
  val StubDelayMs = 8
  /** Upper bound on a bare loopback round trip at zero delay. */
  val MaxRoundTripMs = 3.0

  /** Moderate replies; hundreds of rows reach the TMDB API, mostly
    * through the movie and person find sub-pipelines. The per-type
    * counts are assumed, not taken from recorded traffic.
    */
  val TmdbApi: Sizes = Sizes(
    movie = TypeSizes(items = 2000, find = 160, statements = 1500, candidates = 15),
    tv = TypeSizes(items = 600, find = 25, statements = 400, candidates = 8),
    person = TypeSizes(items = 1500, find = 105, statements = 1000, candidates = 12),
    tvdb = TypeSizes(items = 300, find = 15, statements = 0, candidates = 0),
    ocGames = 0)

  /** Large replies in which almost every item already has its id, so
    * only tens of rows reach the API.
    */
  val Bulk: Sizes = Sizes(
    movie = TypeSizes(items = 25000, find = 6, statements = 20000, candidates = 2),
    tv = TypeSizes(items = 5000, find = 2, statements = 4000, candidates = 2),
    person = TypeSizes(items = 25000, find = 4, statements = 20000, candidates = 2),
    tvdb = TypeSizes(items = 3000, find = 2, statements = 0, candidates = 0),
    ocGames = 2000)
}

/** The nightly batch: both bots over large replies into the file
  * sink, then the catalog slice. Only tens of API calls, so
  * the Http operator is bypassed while sources, joins, Frames and the
  * analytics operators carry the load.
  */
final class BatchWorkload(p: PipelineWorkload, c: CatalogWorkload)
    extends Workload(p.spark, p.tracer, p.stats) {
  def setup(last: Boolean): Unit = { p.setup(last); c.setup(last) }
  override def prepare(): Unit = c.prepare()
  def iteration(): Iter = {
    val (a, b) = (p.iteration(), c.iteration())
    System.err.println(f"[perfbench] pipelines ${a.jobS}%.3f s, catalog ${b.jobS}%.3f s")
    Iter(a.jobS + b.jobS, a.attempted + b.attempted, a.failed + b.failed)
  }
  override def breakdown(): (Map[String, Double], Int, Int) = p.breakdown()
  override def stub: Option[Stub] = p.stub
  override def own: Map[String, Double] = p.own ++ c.own
  override def extra: Map[String, String] = c.extra
  override def close(): Unit = { p.close(); c.close() }
}

/** Writes the generated indexes as single parquet files, as the
  * indexes are published, and returns their bytes by name.
  */
object IndexFiles {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val TmdbSchema = StructType(Seq(
    StructField("id", LongType), StructField("imdb_numeric_id", LongType),
    StructField("tvdb_id", LongType), StructField("date", DateType),
    StructField("success", BooleanType)))
  private val OcSchema = StructType(Seq(
    StructField("id", LongType), StructField("top_critic_score", DoubleType),
    StructField("percent_recommended", DoubleType), StructField("num_reviews", LongType),
    StructField("latest_review_date", DateType), StructField("retrieved_at", TimestampType)))

  private def parquet(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: Path): Array[Byte] = {
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val part = dir.toFile.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one parquet part in $dir")
    Files.readAllBytes(part.head.toPath)
  }

  def write(spark: SparkSession, in: Inputs, dir: Path, withOc: Boolean): Map[String, Array[Byte]] = {
    val tmdb = in.tmdbIndex.map { case (t, rows) =>
      s"tmdb-$t" -> parquet(spark, rows.map(r => Row(r.id, r.imdbNumericId.orNull, r.tvdbId.orNull,
        java.sql.Date.valueOf(r.date), r.success)), TmdbSchema, dir.resolve(t))
    }
    val oc =
      if (!withOc) Map.empty
      else Map("opencritic" -> parquet(spark, in.ocIndex.map(r => Row(r.id, r.topCriticScore.orNull,
        r.percentRecommended.orNull, r.numReviews, r.latestReviewDate.map(java.sql.Date.valueOf).orNull,
        r.retrievedAt.map(java.sql.Timestamp.valueOf).orNull)), OcSchema, dir.resolve("opencritic")))
    tmdb ++ oc
  }
}

/** Output checks of the RDF sinks against the known answers. */
object Checks {
  /** Statements written by `writeRdfStatements`: one text line per row,
    * except OpenCritic statements, which span lines and begin and end
    * with a newline, so each reads back as a block between blank lines.
    */
  def readStatements(dir: Path): Seq[String] = {
    val files = dir.toFile.listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val out = ArrayBuffer.empty[String]
    files.foreach { f =>
      val lines = new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n", -1).dropRight(1)
      var block: ArrayBuffer[String] = null
      lines.foreach { l =>
        if (block != null) {
          if (l.isEmpty) { out += block.mkString("\n", "\n", "\n"); block = null } else block += l
        } else if (l.isEmpty) block = ArrayBuffer.empty
        else out += l
      }
      if (block != null) out += block.mkString("\n", "\n", "")
    }
    out.toSeq
  }

  def exactSet(got: Seq[String], expected: Seq[String]): Boolean = {
    val ok = got.size == expected.size && got.sorted == expected.sorted
    if (!ok) report(got, expected)
    ok
  }

  /** The capped sink's output: distinct, drawn from `expected`, and
    * exactly min(cap, |expected|) lines.
    */
  def sampledSubset(got: Seq[String], expected: Seq[String], cap: Int): Boolean = {
    val exp = expected.toSet
    val ok = got.size == math.min(cap, expected.size) && got.distinct.size == got.size && got.forall(exp)
    if (!ok) report(got, expected)
    ok
  }

  private def report(got: Seq[String], expected: Seq[String]): Unit = {
    val (g, e) = (got.toSet, expected.toSet)
    System.err.println(s"[perfbench] output check failed: got ${got.size}, expected ${expected.size}; " +
      s"unexpected ${(g -- e).take(3).mkString(" | ")}; missing ${(e -- g).take(3).mkString(" | ")}")
  }
}

/** A fixed slice of the query catalog over tables generated from the
  * seed, one query per operator family. A cold pass after set-up builds
  * the index artifacts; each unit is one serve pass.
  * Results are checked afterwards against DuckDB by run.py.
  */
final class CatalogWorkload(spark: SparkSession, tracer: Tracer, stats: SparkStats, o: Main.Opts)
    extends Workload(spark, tracer, stats) {
  private val queries = CatalogWorkload.Queries
  private val coldTimes = ArrayBuffer.empty[Double]
  private val checkDir = o.workdir.resolve("catalog-out")

  /** Runs one query and writes its result, which run.py checks. */
  private def runQuery(q: String): Unit = {
    SparkEntry.queries(q)(spark, o.tables).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
    spark.sharedState.cacheManager.clearCache()
  }

  private def artifacts: Path = Paths.get(sys.props("java.io.tmpdir"), "graft-index-artifacts")

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  /** Reads every table's footer; the tables themselves are written
    * by run.py before the JVM starts.
    */
  def setup(last: Boolean): Unit =
    CatalogWorkload.Tables.foreach(t => graft.Tables.table(spark, o.tables, t).limit(1).collect())

  /** The cold pass, alone on the session, which builds the index
    * artifacts the served queries load.
    */
  override def prepare(): Unit = {
    rmTree(artifacts)
    coldTimes += Main.time(queries.foreach(runQuery))._2
  }

  def iteration(): Iter = {
    var failed = 0
    val (_, dt) = Main.time(queries.foreach { q =>
      try tracer(s"catalog.$q")(runQuery(q))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e"); failed += 1
      }
    })
    Iter(dt, queries.size, failed)
  }

  override def own: Map[String, Double] = {
    val named = Tracer.byName(tracer.recorded)
    queries.map(q => s"catalog.${q}_s" -> named.get(s"catalog.$q").fold(0.0)(_._1)).toMap +
      ("catalog.cold_s" -> Main.median(coldTimes.toSeq))
  }

  /** The last pass's results stay in `checkDir` for the oracle check. */
  override def extra: Map[String, String] = {
    val oracle = SparkEntry.oracleSql
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Main.json(queries.map(q => q -> oracle(q)).toMap))
    Map("check_dir" -> checkDir.toString, "queries" -> queries.mkString(","))
  }
}

object CatalogWorkload {
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "dedup_minhash_lsh", "sim_topk_ivf_loaded", "text_bm25_topk",
    "events_sessionize")
  val Tables: Seq[String] = Seq("lineitem", "events", "documents", "embeddings")
}
