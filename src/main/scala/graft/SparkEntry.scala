package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.engine._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One entry per implemented operator from SURVEY.md §2; each module under
  * graft.engine contributes its query builders and the matching DuckDB
  * oracle SQL. Builders need a session built with
  * `graft.engine.functions.GraftExtensions` (as `Sessions.local` builds
  * it, and its `newSession()` children): they call the native functions
  * by name and do not register them.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_group")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Aggregates.queries ++ Relational.queries ++ Windows.queries ++
      Events.queries ++ Scalar.queries ++ Text.queries ++ Vectors.queries ++
      Ingest.queries ++ Multimodal.queries ++ Analytics.queries ++
      Subqueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    Aggregates.oracle ++ Relational.oracle ++ Windows.oracle ++
      Events.oracle ++ Scalar.oracle ++ Text.oracle ++ Vectors.oracle ++
      Ingest.oracle ++ Multimodal.oracle ++ Analytics.oracle ++
      Subqueries.oracle

  /** A comma-separated row selection: unset selects every row (None),
    * otherwise the named rows. Left(reason) when the value is set but
    * names no row, or names a row that is not in `known`: a selection
    * must never shrink silently.
    */
  def parseSelection(value: Option[String],
      known: collection.Set[String] = queries.keySet)
      : Either[String, Option[Set[String]]] =
    value.fold[Either[String, Option[Set[String]]]](Right(None)) { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.diff(known)
      if (names.isEmpty) Left("is set but names no row")
      else if (unknown.nonEmpty)
        Left("names unregistered rows: " + unknown.toSeq.sorted.mkString(", "))
      else Right(Some(names))
    }

  /** [[parseSelection]] of the environment variable `name`, whose value
    * is `value`, for a main: exits 1 with a message naming the variable
    * when the selection is malformed. Call it before any Spark work.
    */
  def selection(name: String, value: Option[String]): Option[Set[String]] =
    parseSelection(value).fold({ why =>
      System.err.println(s"$name $why")
      sys.exit(1)
    }, identity)
}
