package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDsl.Twin

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is a named entry in
  * [[queries]]; entries with a DuckDB-expressible equivalent also appear in
  * [[oracleSql]] (the driver hash-compares both at sf0.01).
  * Strategy twins ([[Twin.all]]) are appended to both: a twin's oracle is
  * its default's.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defaultQueries ++ Twin.all.map(t => t.name -> t.build)

  /** Catalog queries that read the reference checkout's test fixtures,
    * each with the fixture path it reads: they can run only where that
    * path exists. Built from the constants the queries themselves read. */
  def referenceInputs: Map[String, String] =
    graft.sources.DeltaQueries.referenceInputs ++
      graft.sources.IcebergQueries.referenceInputs ++
      graft.sources.ParquetMeta.referenceInputs

  def oracleSql: Map[String, String] = {
    val defaults = defaultOracles
    defaults ++ Twin.all.map(t => t.name -> defaults(t.of))
  }

  /** Every catalog query that is not a twin. */
  private[graft] def defaultQueries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Tpcds.queries ++
      graft.queries.Tpch.queries ++
      graft.queries.Relational.queries ++
      graft.queries.Windows.queries ++
      graft.queries.Aggregates.queries ++
      graft.queries.Funcs.queries ++
      graft.queries.Extended.queries ++
      graft.queries.OptimizerShapes.queries ++
      graft.queries.ClickBenchShapes.queries ++
      graft.queries.ClickBench.queries ++
      graft.operators.Multimodal.queries ++
      graft.operators.TextOps.queries ++
      graft.operators.Dedup.queries ++
      graft.operators.Similarity.queries ++
      graft.operators.Events.queries ++
      graft.sources.Sources.queries ++
      graft.sources.DeltaQueries.queries ++
      graft.sources.IcebergQueries.queries ++
      graft.sources.Introspection.queries ++
      graft.sources.ParquetMeta.queries ++
      graft.sources.TpchGen.queries ++
      graft.operators.Skew.queries ++
      graft.functions.Aggregators.queries ++
      graft.streaming.Streaming.queries ++
      graft.streaming.Streaming.joinQueries

  /** The oracles of [[defaultQueries]]. */
  private[graft] def defaultOracles: Map[String, String] =
    graft.queries.Tpcds.oracles ++
      graft.queries.Tpch.oracles ++
      graft.queries.Relational.oracles ++
      graft.queries.Windows.oracles ++
      graft.queries.Aggregates.oracles ++
      graft.queries.Funcs.oracles ++
      graft.queries.Extended.oracles ++
      graft.queries.OptimizerShapes.oracles ++
      graft.queries.ClickBenchShapes.oracles ++
      graft.queries.ClickBench.oracles ++
      graft.operators.Multimodal.oracles ++
      graft.operators.TextOps.oracles ++
      graft.operators.Dedup.oracles ++
      graft.operators.Similarity.oracles ++
      graft.operators.Events.oracles ++
      graft.sources.Sources.oracles ++
      graft.sources.DeltaQueries.oracles ++
      graft.sources.IcebergQueries.oracles ++
      graft.sources.Introspection.oracles ++
      graft.sources.ParquetMeta.oracles ++
      graft.sources.TpchGen.oracles ++
      graft.operators.Skew.oracles ++
      graft.functions.Aggregators.oracles ++
      graft.streaming.Streaming.oracles
}
