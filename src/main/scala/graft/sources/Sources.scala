package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest adapters: the shapes the reference accepts over REST
  * (rest.go records API: id + vector|text + metadata object) read from
  * batch files or a stream instead of HTTP. Each returns the canonical
  * (id, vector, metadata-json) frame that Collection.addDocuments
  * expects.
  */
object Sources {

  val recordSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("vector", ArrayType(DoubleType)),
    StructField("text", StringType),
    StructField("metadata", StringType)))

  /** One output row per input row: records without an explicit vector
    * get the deterministic text embedding of their own row (the
    * reference calls Ollama here; see Embed scaladoc). */
  private def canonical(df: DataFrame, embedDim: Int): DataFrame =
    df.select(col("id"),
      coalesce(col("vector"), graft.operators.Embed.embedCol(col("text"), embedDim))
        .as("vector"),
      col("metadata"))

  /** JSON-lines records (the REST insert payload shape, one per line). */
  def jsonRecords(spark: SparkSession, path: String, embedDim: Int = 16): DataFrame =
    canonical(spark.read.schema(recordSchema).json(path), embedDim)

  /** Read a [[graft.core.Collection#dump]] backup directory back into
    * the canonical (id, vector, metadata) record frame — graft's
    * inverse of the reference's ImportJSON (dump.go:138). The dump is
    * json-lines with the vector already materialized, so nothing needs
    * re-embedding. */
  def dumpRecords(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StructType(Seq(
        StructField("id", LongType),
        StructField("vector", ArrayType(DoubleType)),
        StructField("metadata", StringType))))
      .json(path)
      .select(col("id"), col("vector"), col("metadata"))

  /** Write a training export: the deterministic shuffle + sharding of
    * [[graft.operators.Sampling.shuffleShards]], laid out as parquet
    * partitioned by `shard` with rows in `shard_pos` order inside
    * each shard — the directory layout a training loader streams
    * sequentially (`shard=N/` per loader worker, rows pre-shuffled).
    *
    * Scale shape: the only shuffle is the per-shard rank window
    * shuffleShards already pays (parallelism = numShards, which a
    * 100 TB export sets ≫ executors); the hash partitioning it leaves
    * behind means each shard lands wholly in one task and the
    * `partitionBy` write streams it straight out. Reproducible:
    * same (seed, corpus) ⇒ byte-identical shard assignment. */
  def writeTrainingShards(df: DataFrame, idCol: String, seed: String,
                          numShards: Int, path: String): Unit =
    graft.operators.Sampling.shuffleShards(df, idCol, seed, numShards)
      .sortWithinPartitions(col("shard"), col("shard_pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Hive-bucketed external table: rows hash-partition into
    * `numBuckets` files by `keyCol` at WRITE time, so every future
    * equi-join or aggregation keyed on `keyCol` against a co-bucketed
    * table starts from the required distribution — the join-side
    * Exchange disappears from the plan (SourcesSpec pins it). This is
    * the pay-the-shuffle-once posture for fact tables joined on the
    * same key by every query: at 100 TB the repeated join shuffle IS
    * the cost, and bucketing amortizes it into one write.
    * `sortBy(keyCol)` additionally leaves each bucket file
    * key-sorted. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    keyCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)
}
