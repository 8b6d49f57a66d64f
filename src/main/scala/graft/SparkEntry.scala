package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented capability registers a [[QueryDef]] in one of the
  * operator modules; this object only aggregates them.
  */
object SparkEntry {

  /** All operator modules, in SURVEY.md §7.1 build order. */
  def modules: Seq[QueryModule] = Seq(
    operators.Relational,
    operators.ScaleOps,
    operators.TextCore,
    operators.Tokenizer,
    operators.Pipeline,
    operators.Dedup,
    operators.Similarity,
    operators.InvertedIndex,
    operators.SpamClassifier,
    operators.PageRank,
    operators.Multimodal,
    streaming.StreamingOps)

  private lazy val all: Seq[QueryDef] = modules.flatMap(_.entries)

  /** Worker threads for a main when `SPARK_GRAFT_CPUS` is unset. */
  val DEFAULT_CPUS = "4"

  /** The one local-mode session every main and the test suite run on:
    * `local[cpus]`, [[GraftExtensions]], one shuffle partition per
    * core, UTC, no UI, WARN logging. */
  def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q6(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Lazily-generated oracles (the SGD VALUES replays) render here at
    * dump time. Only the EXPECTED unconfigured-[[OracleContext]]
    * signal downgrades an entry to the rows-only check; any other
    * exception from a generator is a real bug in the oracle itself and
    * must fail the dump visibly rather than silently weakening the
    * gate (round-6 advice). */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle
      .orElse(q.oracleGen.flatMap { g =>
        try Some(g())
        catch { case _: OracleContext.Unconfigured => None }
      })
      .map(q.name -> _)).toMap
}
