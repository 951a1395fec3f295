package perfbench

import graft.pipelines.{WdOpenCritic, WdTmdb}

/** The RDF statements each bot sub-pipeline must emit for given
  * inputs, computed in plain Scala without Spark from the same CSV
  * bodies, index rows and API answers the program reads. It restates
  * the reference bots' rules (wd_tmdb.py, wd_opencritic.py) so the
  * benchmark can check the program's output exactly.
  */
object KnownAnswer {

  /** Sub-pipeline names, in `fullPipeline` order. */
  val TmdbParts: Seq[String] = Seq("imdb_movie", "imdb_tv", "tvdb", "imdb_person",
    "not_found_movie", "not_found_tv", "not_found_person")
  val OcParts: Seq[String] = Seq("top_critic", "percent_recommended")

  private val Qid = "(Q[0-9]+)".r.unanchored

  /** Minimal CSV reader for the generated replies (no quoting); an
    * empty field is null, as Spark's CSV reader reads it.
    */
  def parseCsv(body: String): Seq[Map[String, Option[String]]] = {
    val lines = body.split("\r?\n", -1).filter(_.nonEmpty)
    val header = lines.head.split(",", -1).map(_.trim).toSeq
    lines.tail.toSeq.map { l =>
      header.zip(l.split(",", -1).toSeq.map(v => Option(v).filter(_.nonEmpty))).toMap
    }
  }

  private def blockedItem(item: String, blocked: Set[String]): Boolean =
    Qid.findFirstMatchIn(item).exists(m => blocked(m.group(1)))

  private def fill(template: String, args: String*): String = {
    val pieces = template.split("\\{\\}", -1)
    require(pieces.length == args.length + 1)
    pieces.zip(args :+ "").map { case (p, a) => p + a }.mkString
  }

  private def findId(in: Inputs, source: String, ext: String, tmdbType: String): Option[Long] =
    in.find.get((source, ext)).collect { case (t, id) if t == tmdbType => id }

  private def imdb(in: Inputs, tmdbType: String): Seq[String] = {
    val pid = WdTmdb.TypeToPid(tmdbType)
    val pattern = WdTmdb.ImdbIdPattern(tmdbType).r.unanchored
    val blocked = in.blocked.toSet
    val rows = WdTmdb.imdbQueries(pid).flatMap(q => parseCsv(in.sparql(q)))
    def num(r: Map[String, Option[String]]): Option[Long] =
      r("imdb_id").flatMap(s => pattern.findFirstMatchIn(s)).flatMap(m => m.group(1).toLongOption)
    val keyCount = rows.groupBy(num).view.mapValues(_.size).toMap
    val index = in.tmdbIndex(tmdbType).flatMap(r => r.imdbNumericId.map(_ -> r.id))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    rows.filter(r => keyCount(num(r)) == 1 && r("tmdb_id").isEmpty &&
        r("item").exists(!blockedItem(_, blocked)) && num(r).isDefined && r("imdb_id").isDefined)
      .filter(r => index.contains(num(r).get))
      .flatMap { r =>
        findId(in, "imdb_id", r("imdb_id").get, tmdbType).map { id =>
          s"""<${r("item").get}> wdt:$pid "$id" ; wikidatabots:editSummary """ +
            s""""Add ${WdTmdb.PidLabel(pid)} claim via associated IMDb ID" ."""
        }
      }
  }

  private def tvdb(in: Inputs): Seq[String] = {
    val blocked = in.blocked.toSet
    val rows = parseCsv(in.sparql(WdTmdb.TvdbQuery))
    def key(r: Map[String, Option[String]]) = r("tvdb_id").flatMap(_.toLongOption)
    val keyCount = rows.groupBy(key).view.mapValues(_.size).toMap
    val index = in.tmdbIndex("tv").flatMap(r => r.tvdbId.map(_ -> r.id)).toMap
    rows.filter(r => keyCount(key(r)) == 1 && r("tmdb_id").isEmpty && key(r).isDefined &&
        r("item").exists(!blockedItem(_, blocked)))
      .filter(r => index.contains(key(r).get))
      .flatMap { r =>
        findId(in, "tvdb_id", key(r).get.toString, "tv").map { id =>
          s"""<${r("item").get}> wdt:P4983 "$id" ; wikidatabots:editSummary """ +
            """"Add TMDb TV series ID claim via associated TheTVDB.com series ID" ."""
        }
      }
  }

  private def notFound(in: Inputs, tmdbType: String): Seq[String] = {
    val rows = parseCsv(in.sparql(WdTmdb.notDeprecatedQuery(WdTmdb.TypeToPid(tmdbType))))
    val index = in.tmdbIndex(tmdbType).groupBy(_.id)
    def exists(id: Long): Boolean =
      if (tmdbType == "movie") in.exists(("movie", id)) || in.exists(("collection", id))
      else in.exists((tmdbType, id))
    for {
      r <- rows
      id <- r("id").flatMap(_.toLongOption).toSeq
      hit <- index.getOrElse(id, Nil)
      if !hit.success && !exists(id)
    } yield s"<${r("statement").get}> wikibase:rank wikibase:DeprecatedRank ; " +
      s"""pq:P2241 wd:Q21441764 ; wikidatabots:editSummary "Deprecate removed TMDB $tmdbType ID" ."""
  }

  def tmdb(in: Inputs): Map[String, Seq[String]] = Map(
    "imdb_movie" -> imdb(in, "movie"), "imdb_tv" -> imdb(in, "tv"), "tvdb" -> tvdb(in),
    "imdb_person" -> imdb(in, "person"), "not_found_movie" -> notFound(in, "movie"),
    "not_found_tv" -> notFound(in, "tv"), "not_found_person" -> notFound(in, "person"))

  val OcAdd: String =
    """
      |<{}> p:P444 [
      |  ps:P444 "{}";
      |  pqe:P447 wd:Q21039459;
      |  pqe:P459 wd:{};
      |  pqe:P585 "{}"^^xsd:date;
      |  pqve:P7887 [
      |    rdf:type wikibase:QuantityValue;
      |    wikibase:quantityAmount "{}"^^xsd:decimal;
      |    wikibase:quantityUnit wd:Q80698083
      |  ];
      |  prov:wasOnlyDerivedFrom [
      |    pr:P248 wd:Q21039459;
      |    pr:P2864 "{}";
      |    pr:P813 "{}"^^xsd:date
      |  ];
      |  wikidatabots:editSummary "Add OpenCritic review score"
      |].
      |""".stripMargin

  val OcUpdate: String =
    """
      |<{}>
      |  ps:P444 "{}";
      |  pqe:P447 wd:Q21039459;
      |  pqe:P459 wd:{};
      |  pqe:P585 "{}"^^xsd:date;
      |  pqve:P7887 [
      |    rdf:type wikibase:QuantityValue;
      |    wikibase:quantityAmount "{}"^^xsd:decimal;
      |    wikibase:quantityUnit wd:Q80698083
      |  ];
      |  prov:wasOnlyDerivedFrom [
      |    pr:P248 wd:Q21039459;
      |    pr:P2864 "{}";
      |    pr:P813 "{}"^^xsd:date
      |  ];
      |  wikidatabots:editSummary "Update OpenCritic review score".
      |""".stripMargin

  private def ocScores(in: Inputs, method: String, score: OcRow => Option[Double],
                       scoreFmt: String, extra: OcRow => Boolean): Seq[String] = {
    val blocked = in.blocked.toSet
    val rows = parseCsv(in.sparql(WdOpenCritic.query(method)))
    val single = rows.groupBy(_("item")).filter(_._2.size == 1).values.flatten.toSeq
    val index = in.ocIndex.groupBy(_.id)
    for {
      r <- single
      ocId <- r("opencritic_id").flatMap(_.toLongOption).toSeq
      api <- index.getOrElse(ocId, Nil)
      s <- score(api).toSeq
      latest <- api.latestReviewDate.toSeq
      retrieved <- api.retrievedAt.toSeq
      if !blockedItem(r("item").get.stripPrefix(Gen.Entity), blocked) && extra(api) &&
        api.numReviews > 0
      apiScore = fill(scoreFmt, BigDecimal(s).setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt.toString)
      wdReviews = r("number_of_reviews").map(_.toDouble.toInt)
      if r("review_score").isEmpty || wdReviews.isEmpty || !r("review_score").contains(apiScore) ||
        wdReviews.get + WdOpenCritic.NumReviewsThreshold < api.numReviews
    } yield {
      val args = Seq(apiScore, method, latest.toString, api.numReviews.toString, ocId.toString,
        retrieved.toLocalDate.toString)
      r("statement") match {
        case None => fill(OcAdd, r("item").get +: args: _*)
        case Some(st) => fill(OcUpdate, st +: args: _*)
      }
    }
  }

  def openCritic(in: Inputs): Map[String, Seq[String]] = Map(
    "top_critic" -> ocScores(in, "Q114712322", _.topCriticScore, "{}/100", _ => true),
    "percent_recommended" -> ocScores(in, "Q119576498", _.percentRecommended, "{}%",
      _.percentRecommended.exists(_ > 0)))
}
