package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Exposes the full parity catalog (one `Q` per implemented operator from
  * SURVEY.md §2, plus the LLM-pipeline operators) to the driver's
  * correctness gate and bench.
  */
object SparkEntry {

  /** The complete query catalog. Order matters only for readability. */
  val catalog: Seq[Q] =
    RelationalQueries.all ++
      TpchQueries.all ++
      SubqueryQueries.all ++
      AggregateQueries.all ++
      WindowQueries.all ++
      FunctionQueries.all ++
      ReshapeQueries.all ++
      SourceQueries.all ++
      PipelineQueries.all ++
      CurationQueries.all ++
      MultimodalQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 — the reference's own golden-output anchor (reference
    * README.md:42-50). */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** The query subset named by `SPARK_GRAFT_ONLY` (comma-separated,
    * blanks trimmed; None when unset, i.e. every query) — the one subset
    * variable of Verify and Bench. Fails on an empty list or a name that
    * is neither a catalog query nor one of `extra`. */
  def only(extra: Set[String] = Set.empty): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- catalog.map(_.name) -- extra
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY=$v names no query or unknown ones: ${unknown.mkString(",")}")
      names
    }

  /** A main's [[Engine.session]]: `local[SPARK_GRAFT_CPUS]` and as many
    * shuffle partitions, by default this machine's core count. */
  def mainSession(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    Engine.session(s"local[$cpus]", cpus, appName)
  }

  /** The data a main reads when given none: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `s` as a JSON string literal; a control character (a tab or newline
    * in a catalog SQL text) becomes a four-hex-digit unicode escape. */
  def jsonString(s: String): String = s.flatMap {
    case c @ ('"' | '\\') => s"\\$c"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.collect { case Q(n, _, Some(o)) => n -> o }.toMap
}
