package graft.queries

/** The one query registry: every driver query, declared once in its
  * family object next to its oracle.
  */
object Queries {
  val all: Seq[Query] = of(
    HubQueries.all, TextQueries.all, TokenQueries.all, StatsQueries.all,
    CorpusQueries.all, DedupQueries.all, SimilarityQueries.all,
    EventQueries.all, StreamQueries.all, MediaQueries.all)

  /** The families concatenated; a name declared twice is an error. */
  def of(families: Seq[Query]*): Seq[Query] = {
    val qs = families.flatten
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** The queries a comma-separated name list picks, in name order; `None`
    * picks all. Fails on an empty list or any unknown name, so a typo'd
    * subset never runs nothing and looks clean.
    */
  def select(csv: Option[String]): Seq[Query] = csv match {
    case None => all.sortBy(_.name)
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct.sorted
      require(names.nonEmpty, s"no query names in '$list'")
      val byName = all.map(q => q.name -> q).toMap
      val unknown = names.filterNot(byName.contains)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      names.toSeq.map(byName)
  }
}
