package perfbench

import java.time.{LocalDate, LocalDateTime}

import graft.pipelines.{WdOpenCritic, WdTmdb}

/** One TMDB index row; every type's index carries the union schema
  * (id, imdb_numeric_id, tvdb_id, date, success).
  */
final case class TmdbRow(id: Long, imdbNumericId: Option[Long], tvdbId: Option[Long],
                         date: LocalDate, success: Boolean)

/** One OpenCritic index row (opencritic.parquet). */
final case class OcRow(id: Long, topCriticScore: Option[Double], percentRecommended: Option[Double],
                       numReviews: Long, latestReviewDate: Option[LocalDate],
                       retrievedAt: Option[LocalDateTime])

/** Everything the program sees from the outside world in one run:
  * SPARQL CSV bodies keyed by exact query text, the published indexes,
  * the TMDB API's answers and the blocklist.
  *
  * @param find   (external_source, external id) -> (result type, tmdb id);
  *               absent keys answer with empty result lists
  * @param exists (type, id) pairs that /3/{type}/{id} answers with 200
  */
final case class Inputs(sparql: Map[String, String],
                        tmdbIndex: Map[String, Seq[TmdbRow]],
                        ocIndex: Seq[OcRow],
                        find: Map[(String, String), (String, Long)],
                        exists: Set[(String, Long)],
                        blocked: Seq[String])

/** Shape of one TMDB type's inputs.
  *
  * @param items      Wikidata items with an external id (IMDb or TVDB)
  * @param find       items that reach the /3/find API call
  * @param statements non-deprecated TMDB-id statements on Wikidata
  * @param candidates statements whose id the index marks failed, so
  *                   the /3/{type}/{id} existence check runs on them
  */
final case class TypeSizes(items: Int, find: Int, statements: Int, candidates: Int)

final case class Sizes(movie: TypeSizes, tv: TypeSizes, person: TypeSizes, tvdb: TypeSizes,
                       ocGames: Int)

/** Seeded input generator. The same seed gives the same inputs; the
  * program only ever sees what this writes (through the stub).
  */
object Gen {
  val Entity = "http://www.wikidata.org/entity/"

  private val MovieClassWeights = Seq(0.8, 0.12, 0.08)
  private val TvClassWeights = Seq(0.85, 0.15)

  def apply(seed: Long, s: Sizes): Inputs = new Builder(seed).build(s)

  def csv(header: String, rows: Iterator[String]): String = {
    val sb = new java.lang.StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(r).append('\n'))
    sb.toString
  }

  private final class Builder(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var nextQ = 1000L + rnd.nextInt(1000)
    private var nextTmdb = 10L + rnd.nextInt(100)
    private var nextImdb = 100000L + rnd.nextInt(1000)
    private var nextTvdb = 70000L + rnd.nextInt(1000)
    private val sparql = Map.newBuilder[String, String]
    private val find = Map.newBuilder[(String, String), (String, Long)]
    private val exists = Set.newBuilder[(String, Long)]
    private val blocked = Seq.newBuilder[String]
    private val baseDate = LocalDate.of(2023, 1, 1)

    private def q(): String = { nextQ += 1 + rnd.nextInt(3); s"Q$nextQ" }
    private def tmdbId(): Long = { nextTmdb += 1 + rnd.nextInt(5); nextTmdb }
    private def imdbNum(): Long = { nextImdb += 1 + rnd.nextInt(7); nextImdb }
    private def tvdbId(): Long = { nextTvdb += 1 + rnd.nextInt(4); nextTvdb }
    private def date(): LocalDate = baseDate.plusDays(rnd.nextInt(365))
    private def pick(weights: Seq[Double]): Int = {
      val x = rnd.nextDouble()
      val cum = weights.scanLeft(0.0)(_ + _).tail
      cum.indexWhere(x < _) match { case -1 => weights.size - 1; case i => i }
    }
    private def statementId(qid: String): String =
      f"${Entity}statement/$qid-${rnd.nextLong() & 0xffffffffffffL}%012x"

    private val otherType = Map("movie" -> "tv", "tv" -> "person", "person" -> "movie")

    /** Answer of /3/find for a findable item: mostly a hit of the
      * requested type, some empty, some a hit of another type.
      */
    private def findAnswer(source: String, ext: String, tmdbType: String, id: Long): Unit = {
      val x = rnd.nextInt(100)
      if (x < 85) find += ((source, ext) -> (tmdbType, id))
      else if (x < 92) find += ((source, ext) -> (otherType(tmdbType), id + 1))
    }

    def build(s: Sizes): Inputs = {
      val movie = imdbType("movie", s.movie, MovieClassWeights)
      val tv = imdbType("tv", s.tv, TvClassWeights)
      val tvdbRows = tvdb(s.tvdb)
      val person = imdbType("person", s.person, Seq(1.0))
      val index = Map("movie" -> movie, "tv" -> (tv ++ tvdbRows), "person" -> person)
      Seq("movie" -> s.movie, "tv" -> s.tv, "person" -> s.person).foreach { case (t, ts) =>
        notFound(t, index(t), ts)
      }
      val extraIndex = Map("movie" -> deadRows("movie"), "tv" -> deadRows("tv"),
        "person" -> deadRows("person"))
      val oc = openCritic(s.ocGames)
      Inputs(sparql.result(),
        index.map { case (t, rows) => t -> (rows ++ extraIndex(t)) },
        oc, find.result(), exists.result(), blocked.result().distinct)
    }

    // dead index rows per type, filled in by notFound
    private val dead = scala.collection.mutable.Map.empty[String, Vector[TmdbRow]]
    private def deadRows(t: String): Seq[TmdbRow] = dead.getOrElse(t, Vector.empty)

    /** Items with an IMDb id, split over the type's class queries.
      * Kinds: linked (already has the TMDB id), findable (reaches the
      * find API), unindexed, shared IMDb id (non-unique, dropped),
      * blocked. Returns the type's index rows.
      */
    private def imdbType(t: String, s: TypeSizes, weights: Seq[Double]): Seq[TmdbRow] = {
      val prefix = if (t == "person") "nm" else "tt"
      val pid = WdTmdb.TypeToPid(t)
      val queries = WdTmdb.imdbQueries(pid)
      val rowsByClass = Array.fill(queries.size)(Vector.newBuilder[String])
      val index = Vector.newBuilder[TmdbRow]
      val unindexed = s.find / 4
      val shared = math.max(1, s.find / 50)
      val blockedN = math.max(1, s.find / 20)
      val linked = math.max(0, s.items - s.find - unindexed - 2 * shared - blockedN)
      def row(qid: String, num: Long, tmdb: Option[Long]): Unit =
        rowsByClass(pick(weights)) += s"$Entity$qid,$prefix${"%07d".format(num)},${tmdb.fold("")(_.toString)}"
      val linkedIds = Vector.newBuilder[Long]
      (0 until linked).foreach { _ =>
        val id = tmdbId(); val num = imdbNum()
        row(q(), num, Some(id))
        index += TmdbRow(id, Some(num), None, date(), success = true)
        linkedIds += id
      }
      (0 until s.find).foreach { _ =>
        val id = tmdbId(); val num = imdbNum()
        row(q(), num, None)
        index += TmdbRow(id, Some(num), None, date(), success = true)
        findAnswer("imdb_id", s"$prefix${"%07d".format(num)}", t, id)
      }
      (0 until unindexed).foreach(_ => row(q(), imdbNum(), None))
      (0 until shared).foreach { _ =>
        val num = imdbNum()
        row(q(), num, None); row(q(), num, None)
        index += TmdbRow(tmdbId(), Some(num), None, date(), success = true)
      }
      (0 until blockedN).foreach { _ =>
        val qid = q(); val num = imdbNum(); val id = tmdbId()
        row(qid, num, None)
        index += TmdbRow(id, Some(num), None, date(), success = true)
        find += (("imdb_id", s"$prefix${"%07d".format(num)}") -> (t, id))
        blocked += qid
      }
      queries.zipWithIndex.foreach { case (qt, i) =>
        sparql += qt -> csv("item,imdb_id,tmdb_id", rowsByClass(i).result().iterator)
      }
      linkedByType(t) = linkedIds.result()
      index.result()
    }

    private val linkedByType = scala.collection.mutable.Map.empty[String, Vector[Long]]

    /** TV series with a TVDB id (the tvdb sub-pipeline's SPARQL reply). */
    private def tvdb(s: TypeSizes): Seq[TmdbRow] = {
      val rows = Vector.newBuilder[String]
      val index = Vector.newBuilder[TmdbRow]
      val unindexed = s.find / 4
      val linked = math.max(0, s.items - s.find - unindexed)
      (0 until linked).foreach { _ =>
        val id = tmdbId(); val tv = tvdbId()
        rows += s"$Entity${q()},$tv,$id"
        index += TmdbRow(id, None, Some(tv), date(), success = true)
      }
      (0 until s.find).foreach { _ =>
        val id = tmdbId(); val tv = tvdbId()
        rows += s"$Entity${q()},$tv,"
        index += TmdbRow(id, None, Some(tv), date(), success = true)
        findAnswer("tvdb_id", tv.toString, "tv", id)
      }
      (0 until unindexed).foreach(_ => rows += s"$Entity${q()},${tvdbId()},")
      sparql += WdTmdb.TvdbQuery -> csv("item,tvdb_id,tmdb_id", rows.result().iterator)
      index.result()
    }

    /** Non-deprecated statements: live ids, ids unknown to the index,
      * and `candidates` ids the index marks failed — of which about a
      * third still exist on the API (for movies, as a collection too).
      */
    private def notFound(t: String, index: Seq[TmdbRow], s: TypeSizes): Unit = {
      val live = linkedByType.getOrElse(t, Vector.empty) ++ index.filter(_.tvdbId.isDefined).map(_.id)
      val rows = Vector.newBuilder[String]
      (0 until s.statements).foreach { i =>
        val id = if (i < live.size && rnd.nextInt(10) < 9) live(i) else tmdbId()
        rows += s"${statementId(q())},$id"
      }
      val deadB = Vector.newBuilder[TmdbRow]
      (0 until s.candidates).foreach { _ =>
        val id = tmdbId()
        rows += s"${statementId(q())},$id"
        deadB += TmdbRow(id, None, None, date(), success = false)
        val x = rnd.nextInt(3)
        if (x == 0) exists += ((t, id))
        else if (x == 1 && t == "movie" && rnd.nextBoolean()) exists += (("collection", id))
      }
      dead(t) = deadB.result()
      sparql += WdTmdb.notDeprecatedQuery(WdTmdb.TypeToPid(t)) ->
        csv("statement,id", rows.result().iterator)
    }

    private def frac(): Double = {
      val f = rnd.nextInt(9)  // tenths 0..9 without .5: round(x, 0) never ties
      (if (f >= 5) f + 1 else f) / 10.0
    }

    /** Games with an OpenCritic id, one SPARQL reply per determination
      * method. Kinds per (game, method): no statement (add), current,
      * stale score, stale review count (update), duplicate statement
      * (dropped), no index row, blocked, zero reviews.
      */
    private def openCritic(games: Int): Seq[OcRow] = {
      val index = Vector.newBuilder[OcRow]
      val byMethod = Map("Q114712322" -> Vector.newBuilder[String], "Q119576498" -> Vector.newBuilder[String])
      var ocId = 1000L + rnd.nextInt(100)
      (0 until games).foreach { _ =>
        ocId += 1 + rnd.nextInt(3)
        val qid = q()
        val item = s"$Entity$qid"
        val inIndex = rnd.nextInt(20) != 0
        val top = 40 + rnd.nextInt(55) + frac()
        val pct = if (rnd.nextInt(15) == 0) 0.0 else 20 + rnd.nextInt(79) + frac()
        val reviews = if (rnd.nextInt(25) == 0) 0L else 1L + rnd.nextInt(300)
        val retrieved = LocalDateTime.of(2023, 6, 1, 0, 0).plusMinutes(rnd.nextInt(60 * 24 * 90))
        if (inIndex) index += OcRow(ocId, Some(top), Some(pct), reviews, Some(date()), Some(retrieved))
        if (rnd.nextInt(50) == 0) blocked += qid
        Seq("Q114712322" -> (top, "%d/100"), "Q119576498" -> (pct, "%d%%")).foreach {
          case (method, (score, fmtS)) =>
            val rounded = BigDecimal(score).setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
            def stmt(sc: String, n: Long): String =
              s"$item,$ocId,${statementId(qid)},$sc,2022-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}T00:00:00Z,$n"
            val b = byMethod(method)
            rnd.nextInt(10) match {
              case 0 | 1 | 2 => b += s"$item,$ocId,,,,"
              case 3 | 4 | 5 => b += stmt(fmtS.format(rounded), reviews)
              case 6 => b += stmt(fmtS.format(rounded + 1 + rnd.nextInt(5)), reviews)
              case 7 => b += stmt(fmtS.format(rounded), math.max(0L, reviews - 11 - rnd.nextInt(20)))
              case 8 => b += stmt(fmtS.format(rounded), reviews); b += stmt(fmtS.format(rounded), reviews)
              case _ => b += stmt(fmtS.format(rounded), math.max(0L, reviews - rnd.nextInt(10)))
            }
        }
      }
      byMethod.foreach { case (m, b) =>
        sparql += WdOpenCritic.query(m) -> csv(
          "item,opencritic_id,statement,review_score,point_in_time,number_of_reviews", b.result().iterator)
      }
      index.result()
    }
  }
}
