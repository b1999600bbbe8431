package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reference's DAG routers (SURVEY.md §2.2) re-expressed over
 * DataFrames. JesterJ's DAG has no relational joins; its fork/merge is
 * row routing between steps — here a fork is one cached lineage
 * consumed by several branches and a merge is `unionByName`.
 */
object Routing {

  /** `routers/RouteByStepName.java:58-76` — content-based routing: the
    * value of `routeField` selects a branch; values absent from
    * `branches` are dropped (the reference drops no-match docs).
    * Returns each branch's DataFrame keyed by branch name. */
  def routeByField(df: DataFrame, routeField: String,
                   branches: Map[String, String => DataFrame => DataFrame] = Map.empty,
                   branchValues: Seq[String]): Map[String, DataFrame] =
    branchValues.map { v => v -> df.filter(col(routeField) === lit(v)) }.toMap

  /** `routers/DuplicateToAll.java:50-58` — fan-out to every successor.
    * With DataFrames no row cloning is needed: a DataFrame is already
    * reusable by every branch lineage, and caching it (with its
    * `unpersist`) is the caller's choice. */
  def duplicateToAll(df: DataFrame, nBranches: Int): Seq[DataFrame] = Seq.fill(nBranches)(df)

  /** `routers/RoundRobinRouter.java:42-68` — 1-of-N fan-out purely for
    * parallelism; Spark's task scheduler subsumes it, expressed as an
    * explicit repartition. */
  def roundRobin(df: DataFrame, n: Int): DataFrame = df.repartition(n)

  /** Fan-in (`PlanImpl.Builder.addStep` multi-predecessor merge,
    * `model/impl/PlanImpl.java:310-331`). */
  def merge(branches: Seq[DataFrame]): DataFrame =
    branches.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Router accounting (`routers/RouterBase.java:30-66`): per-branch
    * row counts for the lineage manifest, one aggregation pass. */
  def branchCounts(df: DataFrame, routeField: String): DataFrame =
    df.groupBy(col(routeField)).agg(count(lit(1)).as("n_docs"))
}
