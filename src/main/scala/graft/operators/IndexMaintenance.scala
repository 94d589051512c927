package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delete/upsert maintenance for the persisted index families (LSH
  * forest, IVF, IVFPQ, BM25 postings, MinHash probe index).
  *
  * The reference mutates its in-memory tree directly on delete
  * (collection.go:511 → lshtree.go removePoint); a parquet index
  * cannot cheaply rewrite one row out of a partition, so the
  * scan-native contract is a TOMBSTONE side-table: deletes append ids
  * to `<indexPath>/_tombstones` (underscore-prefixed, so Spark's file
  * index never picks it up as data), every indexed probe anti-joins
  * the tombstone set before scoring, and [[compactIndex]] folds the
  * tombstones into a partition rewrite when their mass warrants it.
  *
  * Scale shape: a delete is an O(ids) append — no index read, no
  * rewrite. The probe-side anti-join touches only candidate rows
  * (already pruned to the query's partitions), and the tombstone
  * frame is deletes-since-last-compaction — small by maintenance
  * policy, so AQE broadcasts it. Compaction is one pruned-free read +
  * partitioned rewrite, the same cost as the original build, paid on
  * an operator's schedule instead of per delete.
  *
  * Upsert of a CHANGED vector under the same id: tombstones hide ids,
  * not rows, so compact first (clearing the id's tombstone), then
  * append the new rows — [[appendForestIndex]] for the forest layout;
  * the streaming builds (`Ingest.textIndexStream`) already append.
  */
object IndexMaintenance {

  def tombstonePath(indexPath: String): String = s"$indexPath/_tombstones"

  /** Record deletions: O(ids) parquet append, no index read. */
  def appendTombstones(spark: SparkSession, indexPath: String,
                       ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "appendTombstones needs at least one id")
    import spark.implicits._
    ids.toDF("id").coalesce(1)
      .write.mode("append").parquet(tombstonePath(indexPath))
  }

  /** Anti-join `df` against the index's tombstone set (no-op when no
    * tombstone file exists — the common case pays one driver-side
    * existence check and nothing else). */
  def dropTombstoned(spark: SparkSession, indexPath: String,
                     df: DataFrame, idCol: String): DataFrame = {
    val p = new Path(tombstonePath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) df
    else df.join(
      spark.read.parquet(p.toString).select(col("id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Fold tombstones into the index: rewrite minus deleted ids, swap
    * directories, tombstones gone. One read + one partitioned write —
    * run when the tombstone mass (or probe-side anti-join cost) says
    * so, like any log-structured compaction. */
  def compactIndex(spark: SparkSession, indexPath: String,
                   partitionCols: Seq[String], idCol: String): Unit = {
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(tombstonePath(indexPath)))) return
    val cleaned = dropTombstoned(spark, indexPath,
      spark.read.parquet(indexPath), idCol)
    // the build-config sidecar must survive compaction: hold its bytes
    // on the driver before the root is deleted, restore them after the
    // swap — compaction changes the file layout, never the parameters
    // the index was built with
    val cfg = IndexConfig.indexConfigBytes(fs, indexPath)
    val tmp = new Path(indexPath + "._compact")
    val w = cleaned.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    fs.delete(root, true)
    fs.rename(tmp, root)
    cfg.foreach(IndexConfig.putIndexConfig(fs, indexPath, _))
  }
}
