package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch microbenchmarks for optimization rounds: time isolated
  * sub-chains of the hot queries so regressions get attributed to an
  * operator, not a whole declared query. Not part of any contract. */
object Micro {
  private def time(label: String, reps: Int = 3)(mk: => DataFrame): Unit = {
    mk.queryExecution.toRdd.count() // warm
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      mk.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[micro] $label%-32s min=${ts.min}%.3f med=${ts.sorted.apply(reps / 2)}%.3f")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // ad-hoc conf overrides: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); b = b.config(k, v)
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    import graft.operators.Dedup

    // the REAL declared corpus builder (kept in sync by construction),
    // plus a no-repartition variant rebuilt inline for the comparison
    def corpus = graft.registry.Shared.dedupCorpus(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val mutated = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat_ws(" ", slice(w, lit(1), greatest(size(w) - 5, lit(1)))).as("text"))

    time("corpus")(corpus)
    time("corpus_no_repart")(docs.unionByName(copies).unionByName(mutated))
    // r20 A/B: round-robin repartition pays a sort-before-repartition
    // (SPARK-23207 determinism sort) on the full text rows; hash on
    // the unique doc_id needs no sort and spreads 200x partitions
    time("corpus_hash_repart")(docs.unionByName(copies).unionByName(mutated)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id")))
    time("shingles_rr")(Dedup.shingleSets(
      docs.unionByName(copies).unionByName(mutated)
        .repartition(spark.sparkContext.defaultParallelism), "text", "doc_id", 3))
    time("shingles_hash")(Dedup.shingleSets(
      docs.unionByName(copies).unionByName(mutated)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id")),
      "text", "doc_id", 3))
    time("words_only")(corpus.select(col("doc_id"), split(col("text"), " ").as("w")))
    time("shingleSets")(Dedup.shingleSets(corpus, "text", "doc_id", 3))
    val sets = Dedup.shingleSets(corpus, "text", "doc_id", 3).localCheckpoint()
    println(s"[micro] sets rows=${sets.count()}")
    val (as16, bs16) = Dedup.minhashConsts(16)
    time("sigs_from_sets")(sets.filter(size(col("shs")) > 0)
      .select(col("sid").as("doc_id"),
        graft.functions.SketchExprs.minhashSig(col("shs"), as16, bs16, Dedup.MINHASH_M).as("sig")))
    time("truth_from_sets")(Dedup.ngramJaccardPairsFromSets(sets,
      threshold = 0.6, maxDf = 20, maxDfFrac = 0.005))
    val sigs = sets.filter(size(col("shs")) > 0)
      .select(col("sid").as("doc_id"),
        graft.functions.SketchExprs.minhashSig(col("shs"), as16, bs16, Dedup.MINHASH_M).as("sig"))
      .localCheckpoint()
    time("predicted_from_sets")(Dedup.minhashPairsFromSigs(sets, sigs, "doc_id", 4, 4, 0.5))

    // ---- truth-chain internals (ngramJaccardPairsFromSets body) ----
    val nDocs = sets.agg(count(lit(1)).as("_n_docs"))
    def inverted = sets.select(col("sid"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("sh"))
    time("tc_inverted")(inverted)
    def rare = inverted.groupBy(col("sh")).agg(count(lit(1)).as("df_count"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df_count") <=
        greatest(lit(20L), ceil(col("_n_docs") * 0.005)))
      .select(col("sh"))
    time("tc_rare_agg")(rare)
    def filteredPlain = inverted.join(rare, "sh")
    time("tc_filtered_join")(filteredPlain)
    val filtered = filteredPlain.localCheckpoint()
    time("tc_docstats")(filtered.groupBy(col("sid"))
      .agg(first(col("n_sh")).as("n_sh"), count(lit(1)).as("n_rare")))
    def pairCounts = filtered.select(col("sh"), col("sid").as("id_a"))
      .join(filtered.select(col("sh"), col("sid").as("id_b")), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("rare_inter"))
    time("tc_paircounts")(pairCounts)
    val docStats = filtered.groupBy(col("sid"))
      .agg(first(col("n_sh")).as("n_sh"), count(lit(1)).as("n_rare"))
      .localCheckpoint()
    def survivors = pairCounts
      .join(docStats.select(col("sid").as("id_a"), col("n_sh").as("na"), col("n_rare").as("ra")), "id_a")
      .join(docStats.select(col("sid").as("id_b"), col("n_sh").as("nb"), col("n_rare").as("rb")), "id_b")
      .withColumn("_ub",
        col("rare_inter") + least(col("na") - col("ra"), col("nb") - col("rb")))
      .filter(col("_ub").cast("double") / (col("na") + col("nb") - col("_ub")) >= 0.6)
      .select("id_a", "id_b")
    time("tc_survivors")(survivors)
    val surv = survivors.localCheckpoint()
    println(s"[micro] survivors rows=${surv.count()}")
    time("tc_verify")(Dedup.verifyJaccardSets(sets, surv)
      .filter(col("jaccard") >= 0.6))
    spark.stop()
  }
}
