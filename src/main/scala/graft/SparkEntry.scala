package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are defined module-by-module under [[graft.queries]]; this
  * object is the flat registry the driver consumes.
  */
object SparkEntry {

  def allQueries: Seq[Q] =
    CoreQueries.all ++ AggQueries.all ++ TimeQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ TextQueries.all ++
      ExtraQueries.all ++ TpchQueries.all ++ BehaviorQueries.all ++
      VocabQueries.all ++ SequenceQueries.all ++ SelectionQueries.all ++
      EvalQueries.all ++ TimeSeriesQueries.all ++ GovernanceQueries.all ++
      ProseQueries.all ++ LinAlgQueries.all ++ StatQueries.all ++
      ModelQueries.all ++ RankStatQueries.all ++ RetrievalQueries.all ++
      AttributionQueries.all ++ MixtureQueries.all ++ InferenceQueries.all ++
      TestBatteryQueries.all ++ WebCurationQueries.all ++ HtmlQueries.all ++
      PreferenceQueries.all

  /** The registered queries named in `names`, in registry order; all of
    * them when `names` is empty. Fails on an unknown name: a typo must
    * not turn into a silently empty run.
    */
  def select(names: Set[String]): Seq[Q] = {
    val all = allQueries
    val unknown = names.diff(all.map(_.name).toSet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.filter(q => names(q.name))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("moderation_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
