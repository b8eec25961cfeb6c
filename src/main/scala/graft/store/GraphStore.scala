package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Coalesce, Expression, Literal, Not}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Mutation surface of the engine, re-expressed as pure DataFrame
  * transforms (reference: /root/reference/server/server.go:530-720 — the
  * INSERT/UPDATE/DELETE executors over in-memory maps).
  *
  * In a log-structured Spark deployment each of these produces the next
  * version of a label's table; persisting is a parquet overwrite/append
  * of only the affected label. Nothing here collects to the driver, so
  * every mutation scales as a scan + (at most) one shuffle.
  */
object GraphStore {

  /** INSERT NODE — append a batch. Defaults for absent columns are
    * applied (reference applies field defaults at insert,
    * server.go:560), and the batch must carry the base schema's columns
    * after that.
    */
  def insertNodes(base: DataFrame, batch: DataFrame,
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    val withDefaults = defaults.foldLeft(batch) { case (df, (name, v)) =>
      if (df.columns.contains(name)) df else df.withColumn(name, v)
    }
    base.unionByName(withDefaults.select(base.columns.map(col).toSeq: _*))
  }

  /** One SET column's next value: `value` where `cond` holds, else
    * `old`. The statement interpreter evaluates it over driver rows as
    * well, with `cond` and `old` bound to ordinals.
    */
  def updated(cond: Expression, value: Expression, old: Expression): Expression =
    CaseWhen(Seq(cond -> value), old)

  /** The rows a DELETE keeps: those where `cond` is false or null. */
  def kept(cond: Expression): Expression = Not(Coalesce(Seq(cond, Literal.FalseLiteral)))

  /** UPDATE ... WHERE — update-as-projection: every SET column becomes
    * [[updated]]. One projection, so every SET and the condition read the
    * row as it was; one scan, zero shuffles.
    */
  def updateWhere(base: DataFrame, cond: Column, sets: Map[String, Column]): DataFrame = {
    val c = Bridge.expression(cond)
    base.withColumns(sets.map { case (name, v) =>
      name -> Bridge.column(updated(c, Bridge.expression(v), Bridge.expression(col(name))))
    })
  }

  /** DELETE ... WHERE — delete-as-filter (keep the anti-predicate; null
    * predicate rows are kept, matching SQL DELETE semantics).
    */
  def deleteWhere(base: DataFrame, cond: Column): DataFrame =
    base.filter(Bridge.column(kept(Bridge.expression(cond))))

  /** Upsert by key: batch rows replace same-key base rows, new keys
    * append. Anti-join + union — one shuffle on the key.
    */
  def upsertByKey(base: DataFrame, batch: DataFrame, keyCol: String): DataFrame = {
    val replaced = base.join(batch.select(keyCol), Seq(keyCol), "left_anti")
    replaced.unionByName(batch.select(base.columns.map(col).toSeq: _*))
  }

  /** INSERT EDGE with endpoint resolution by property (reference
    * server.go:600 resolves `from:{name:"ada"}` to a node id by property
    * match): resolve each endpoint spec against its node table, emitting
    * (src key, dst key, props...). Ambiguous matches produce one edge per
    * match, mirroring the reference's first-match semantics only when the
    * property is unique — constraint checks catch the rest.
    */
  def resolveEdges(batch: DataFrame, srcNodes: DataFrame, srcProp: String, srcKey: String,
      dstNodes: DataFrame, dstProp: String, dstKey: String): DataFrame = {
    val s = srcNodes.select(col(srcProp).as("__sprop"), col(srcKey).as("_src"))
    val d = dstNodes.select(col(dstProp).as("__dprop"), col(dstKey).as("_dst"))
    batch
      .join(s, batch(s"src_$srcProp") === col("__sprop"))
      .join(d, batch(s"dst_$dstProp") === col("__dprop"))
      .drop("__sprop", "__dprop", s"src_$srcProp", s"dst_$dstProp")
  }

  /** Persist a label's table applying its catalog [[graft.catalog.LayoutSpec]]
    * — the Spark-first replacement for the reference's in-memory field
    * indexes (catalog/types.go:50):
    *
    *  - `partitionBy` → hive-style directory partitioning (partition
    *    pruning replaces point-index lookups on low-cardinality keys);
    *  - `bucketBy(n, cols)` → files hash-clustered by
    *    `repartition(n, cols)` (path-based stores can't carry bucketing
    *    metadata the way a metastore table would, but same-key rows
    *    co-locate per file, so same-layout joins shuffle only the thin
    *    side);
    *  - `sortBy` → `sortWithinPartitions` before the write, giving
    *    parquet rowgroup min/max stats their range-index effect.
    */
  /** Metastore-bucketed write: unlike the path-based [[writeTable]]
    * clustering (which co-locates rows per file but can't tell the
    * planner), `bucketBy` + `saveAsTable` records the bucketing in the
    * catalog, so a join of two tables bucketed (same column, same
    * count) plans with NO Exchange on either side. At 100 TB this is
    * THE recurring-join lever: the fact tables pay their big shuffle
    * once at write time, then every co-bucketed join is narrow (the
    * residual merge-join Sort is per-bucket and in-memory — Spark ≥ 3
    * ignores the on-disk sortBy order at read time unless the legacy
    * `bucketedTableScan.outputOrdering` conf is set; sortBy still earns
    * its keep as rowgroup min/max clustering). StoreSpec asserts the
    * exchange-free plan.
    */
  def writeBucketedTable(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    require(buckets > 0 && bucketCols.nonEmpty, "need buckets > 0 and bucket columns")
    // one file per bucket (this IS the once-paid shuffle): the reader
    // only trusts sortBy order — and skips the merge-join Sort — when a
    // bucket is a single file
    val clustered = df.repartition(buckets, bucketCols.map(col): _*)
    var w = clustered.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(table)
  }

  /** Metastore-bucketed write driven by a catalog [[graft.catalog.LayoutSpec]]
    * — the writer half of the scripted INDEX option: `CREATE NODE t
    * (k: int INDEX, ...)` puts the bucket/sort layout in the catalog
    * (Ddl.reconcileLayout), and persisting through this applies it, so
    * a script-declared index yields the exchange-free co-bucketed join
    * of SURVEY §2.1 row 8c without touching the API.
    */
  def writeIndexedTable(df: DataFrame, table: String,
      layout: graft.catalog.LayoutSpec): Unit = layout.bucketBy match {
    case Some((n, cols)) =>
      writeBucketedTable(df, table, n, cols, layout.sortBy)
    case None => throw new IllegalArgumentException(
      s"label has no indexed layout to apply (table $table)")
  }

  def writeTable(df: DataFrame, path: String,
      layout: graft.catalog.LayoutSpec = graft.catalog.LayoutSpec(),
      format: String = "parquet"): Unit = {
    val clustered = layout.bucketBy match {
      case Some((n, cols)) => df.repartition(n, cols.map(col): _*)
      case None => df
    }
    // prefix the sort with the partition columns: the parquet write path
    // requires ordering by them and would inject its own (non-stable)
    // sort above ours, destroying the sortBy clustering; pre-satisfying
    // the requirement keeps both orders
    val sorted =
      if (layout.sortBy.nonEmpty)
        clustered.sortWithinPartitions(
          (layout.partitionBy ++ layout.sortBy).map(col): _*)
      else clustered
    val writer = sorted.write.mode("overwrite")
    val partitioned =
      if (layout.partitionBy.nonEmpty) writer.partitionBy(layout.partitionBy: _*)
      else writer
    format match {
      case "parquet" => partitioned.parquet(path)
      case "orc" => partitioned.orc(path)
      case "csv" => partitioned.option("header", "true").csv(path)
      case "json" => partitioned.json(path)
      case other => throw new IllegalArgumentException(
        s"unsupported sink format: $other (parquet, orc, csv, json)")
    }
  }
}
