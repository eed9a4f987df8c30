package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Second `private[sql]` doorway, for the SQL DML front: a parsed
  * MERGE source is a LogicalPlan (a view reference or a full
  * subquery), and the only way to evaluate an arbitrary plan as a
  * DataFrame is `Dataset.ofRows` — package-private to
  * `org.apache.spark.sql`. Like [[GraftStreamingShim]], no behavior
  * lives here.
  */
/** `V2TableWithV1Fallback` is `private[sql]` — the doorway trait that
  * lets a V2 catalog table hand streaming resolution a V1 descriptor
  * (the Delta pattern: `readStream.table(name)` re-enters the
  * registered V1 streaming Source with the table's path). Public
  * subtrait, no behavior.
  */
trait GraftV1FallbackTable
    extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

object GraftPlanShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-root a DataFrame's physical RDD as a fresh `LogicalRDD` leaf —
    * the plan-flattening primitive behind the change feed's long-history
    * chunking: a batch CDF read over 10⁵ commits must not carry one
    * union branch per commit through analysis/optimization (O(commits)
    * driver plan growth). `toRdd` plans THIS chunk eagerly (bounded,
    * driver-side) but executes nothing; the `.copy()` is mandatory —
    * unsafe rows are buffer-reused (the same discipline
    * `Dataset.checkpoint` applies). `internalCreateDataFrame` is
    * `private[sql]`, hence this doorway; no behavior lives here.
    */
  def flattenToLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), df.schema)
  }

  /** Look up a registered V2 catalog by name — `CatalogManager` is
    * `private[sql]`, but the graft SQL DML front must resolve
    * `cat.ns.table` targets through [[graft.sources.GraftCatalog]].
    * None when no such catalog is configured (the caller falls back to
    * view-name resolution). No behavior lives here.
    */
  def catalogPlugin(spark: org.apache.spark.sql.SparkSession,
                    name: String): Option[org.apache.spark.sql.connector.catalog.CatalogPlugin] = {
    // the cast and sessionState access stay INSIDE the try — a
    // non-classic session (or one mid-teardown) must yield None, not a
    // ClassCastException out of every view-name resolution
    val mgr =
      try Some(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalogManager)
      catch { case _: Exception => None }
    // catalog names register under spark.sql.catalog.<name> (by
    // convention lower-case); SQL identifiers are case-insensitive, so
    // GCAT.ns.v must find gcat — exact first, lower-cased fallback
    mgr.flatMap { m =>
      (try Some(m.catalog(name)) catch { case _: Exception => None })
        .orElse(
          try Some(m.catalog(name.toLowerCase(java.util.Locale.ROOT)))
          catch { case _: Exception => None })
    }
  }
}

/** The listener bus is `private[spark]`; [[graft.ObsLog.drain]] waits on
  * it. No behavior lives here.
  */
object GraftBusShim {
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** A session's own `SQLConf` and Hadoop conf — `SessionState` is
  * `private[sql]`. [[graft.sources.Tables]] builds its parquet schema
  * converter from the READING session's conf, which `SQLConf.get` (the
  * thread's active session) need not be. No behavior lives here.
  */
object GraftConfShim {
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
}
