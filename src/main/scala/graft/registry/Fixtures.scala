package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{AnnIvf, AnnPq, Boost, Bpe, Dedup, Knn, Logit, Pca, Sampling, Search, TextAnalysis}
import graft.sources.Sources
import Shared._

/** What the declared queries build once per corpus directory and then
  * probe many times — the models, index paths and bucketed tables
  * (the reference builds its search structures once at index time and
  * probes them afterwards, collection.go). Every member is a lazy val:
  * built on first use, then served as is. Models are plain driver-side
  * values, never DataFrames, so no member outlives its data's session.
  *
  * A set belongs to one directory at one snapshot. [[Fixtures.of]]
  * re-derives the directory's content token on every call; when the
  * token has changed it replaces the whole set and reclaims the old
  * set's scratch files, so a corpus rewritten under the same path
  * retrains and re-indexes instead of serving stale state. An oracle
  * that ships a fitted model reads it from the set of the directory it
  * checks, so no oracle depends on which directory was queried last.
  *
  * Bound: the lazy vals of one set initialize under that set's
  * monitor, so builds for one directory run one at a time (sets for
  * different directories build independently). Nothing constructs
  * queries concurrently today; a second thread constructing a query
  * over the same directory would wait for the build in flight. */
final class Fixtures private (private val spark: SparkSession,
                              val dir: String, private val token: String) {
  import Fixtures._

  private val id = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
  /** This set's scratch directory: its indexes and bucketed tables. */
  private lazy val root = s"$scratchRoot/$id"
  private def documents = Tables.documents(spark, dir)
  private def embeddings = Tables.embeddings(spark, dir)
  private def seedCentroids = AnnIvf.seedCentroids(embeddings, "embedding", "vec_id", 0L to 7L)

  /** Learned BPE merge list: the merge list IS the model (k driver-
    * sized rows), so the three tokenizer queries train once and the
    * apply/stats paths fold the merges map-side. */
  lazy val bpeMerges: Seq[Bpe.Merge] = Bpe.train(documents, "text", numMerges = 8)._1

  /** sample_mix's per-source rates: one count job sizes them to hit
    * the target weights at a 60-doc budget. */
  lazy val mixRates: Map[String, Double] =
    Sampling.mixRates(documents, col("source"),
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budgetDocs = 60)

  /** sample_temperature's α = 1/2 rates at a 100-doc budget. */
  lazy val temperatureRates: Map[String, Double] =
    Sampling.temperatureRates(documents, col("source"), budgetDocs = 100)

  /** Fitted PCA model (d means, d eigenvalues, p·d component weights):
    * embedding_pca and embedding_whiten share one covariance job, and
    * their oracles ship it to DuckDB as literals. */
  lazy val pca: Pca.Model = Pca.fit(embeddings, "embedding", 64)

  /** Boost committee over the graded signals: classify_boost, its
    * sweep and its report read the same deterministic model (training
    * is a pure function of the signal frame). */
  lazy val boost: Boost.BoostModel =
    Boost.trainStumps(
      boostSignals(spark, dir).filter(col("doc_id") % 5 =!= 0), "y",
      Seq("n_words", "n_stop"), rounds = 3,
      maxCandidates = gradedBoostCap)

  /** Logistic model over the same signals: classify_logreg and its
    * calibration report score with it, and their oracles ship its
    * weights as literals (integer-grid gradient sums make training a
    * pure function of the signal frame). */
  lazy val logit: Logit.LogitModel =
    Logit.train(
      boostSignals(spark, dir).filter(col("doc_id") % 5 =!= 0), "y",
      Seq("n_words", "n_stop"), iterations = 30, lr = 1.0)

  /** The d=6 logistic member over [[Shared.logitWideSignals]]. */
  lazy val logitWide: Logit.LogitModel =
    Logit.train(
      logitWideSignals(spark, dir).filter(col("doc_id") % 5 =!= 0), "y",
      logitWideFeatures, iterations = 60, lr = 0.5)

  /** Naive Bayes language model over the 4/5 train split: the NB
    * queries score with it at scan speed through the NbScore kernel,
    * bit-identical to the distributed chain by the trainNaiveBayes
    * contract, so their oracles are unchanged. */
  lazy val nb: TextAnalysis.NbModel =
    TextAnalysis.trainNaiveBayes(
      documents.filter(col("doc_id") % 5 =!= 0), "text", "lang", 4096)

  /** The blind-spot model: the same split with 'de' withheld. */
  lazy val nbUnseen: TextAnalysis.NbModel =
    TextAnalysis.trainNaiveBayes(
      documents.filter(col("doc_id") % 5 =!= 0 && col("lang") =!= "de"),
      "text", "lang", 4096)

  /** PQ codebook (m=8 × k=16, md5-sampled, seed "pq0"): one TakeOrdered
    * job serves the ADC and rerank queries. */
  lazy val pq: AnnPq.Model =
    AnnPq.seedCodebook(embeddings, "embedding", "vec_id", 8, "pq0", 16)

  /** Residual PQ codebook (the FAISS IVFADC recipe): codes quantize
    * v − centroid(cell), whose within-cell spread is far smaller than
    * the raw vectors'. */
  lazy val pqResidual: AnnPq.Model =
    AnnPq.seedResidualCodebook(embeddings, "embedding", "vec_id",
      seedCentroids, Knn.Cosine, 8, "pqr0", 16)

  /** IVF index over the 8 seeded centroids: cell-partitioned, so a
    * probe reads nprobe/nlist of the data. */
  lazy val ivfIndex: String = index("ivf-seed8") { path =>
    AnnIvf.writeIndexed(embeddings, "embedding", "vec_id", seedCentroids,
      Knn.Cosine, path)
  }

  /** Lloyd-trained centroids (2 iterations, each mean snapped to a 1e-6
    * grid so training is engine-reproducible), kept as plain rows. */
  lazy val ivfTrainedCentroids: Seq[(Long, Seq[Double])] =
    AnnIvf.train(embeddings, "embedding", "vec_id", 0L to 7L,
        iters = 2, Knn.Cosine, roundDp = Some(6))
      .select(col("cell").cast("long"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  /** IVF index over [[ivfTrainedCentroids]]. */
  lazy val ivfTrainedIndex: String = index("ivf-lloyd8x2r6") { path =>
    val centroids = spark.createDataFrame(
        spark.sparkContext.parallelize(ivfTrainedCentroids, 1))
      .toDF("cell", "centroid")
    AnnIvf.writeIndexed(embeddings, "embedding", "vec_id", centroids,
      Knn.Cosine, path)
  }

  /** IVFPQ index: cell-partitioned packed [[pq]] codes. */
  lazy val ivfPqIndex: String = index("ivfpq") { path =>
    AnnPq.writeIvfPqIndex(embeddings, "embedding", "vec_id", seedCentroids,
      Knn.Cosine, pq, path, keepCols = Seq("label"))
  }

  /** Residual-encoded IVFPQ index over [[pqResidual]] codes. */
  lazy val ivfPqResidualIndex: String = index("ivfpqres") { path =>
    AnnPq.writeIvfPqResidualIndex(embeddings, "embedding", "vec_id",
      seedCentroids, Knn.Cosine, pqResidual, path, keepCols = Seq("label"))
  }

  /** MinHash index over the dedup corpus: (band, key, id) rows plus
    * (sid, shs) hash sets, the corpus side of indexed probes. */
  lazy val minhashIndex: String = index("mhidx") { path =>
    Dedup.writeMinhashIndex(dedupCorpus(spark, dir), "text", "doc_id", path)
  }

  /** MinHash index over the archive slice (src1 documents), the corpus
    * side of the indexed overlap report. */
  lazy val overlapIndex: String = index("ovidx") { path =>
    Dedup.writeMinhashIndex(
      documents.filter(col("source") === "src1")
        .select(col("doc_id"), col("text")),
      "text", "doc_id", path)
  }

  /** BM25 inverted index: term-bucket-partitioned postings + stats. */
  lazy val bm25Index: String = index("bm25idx") { path =>
    Search.writeTextIndex(documents, "text", "doc_id", path)
  }

  /** The BM25 index with term positions, for phrase probes. */
  lazy val phraseIndex: String = index("phraseidx") { path =>
    Search.writeTextIndex(documents, "text", "doc_id", path, positions = true)
  }

  /** Co-bucketed orders/lineitem catalog tables (8 buckets on the order
    * keys), so q3_join_bucketed's join starts from the required
    * distribution. Returns the table names. */
  lazy val q3Tables: (String, String) = {
    val (ordT, liT) = bucketedTables
    Sources.writeBucketed(Tables.orders(spark, dir), ordT, s"$root/bko",
      "o_orderkey", numBuckets = 8)
    Sources.writeBucketed(Tables.lineitem(spark, dir), liT, s"$root/bkl",
      "l_orderkey", numBuckets = 8)
    (ordT, liT)
  }

  private def bucketedTables = (s"graft_bko_$id", s"graft_bkl_$id")

  private def index(name: String)(build: String => Unit): String = {
    val path = s"$root/$name"
    build(path)
    path
  }

  /** Drops this set's catalog tables and deletes its scratch files.
    * Best effort: a failure is reported and never breaks the lookup.
    * A plan built against this set and still running could see the
    * files vanish; every flow here re-derives its fixtures per query
    * construction, and the serving path (`graft.core`, `graft.serving`)
    * never reads them. */
  private def release(current: SparkSession): Unit =
    try {
      val (ordT, liT) = bucketedTables
      Seq(ordT, liT).foreach(t => current.sql(s"DROP TABLE IF EXISTS $t"))
      rm(new java.io.File(root))
    } catch {
      case e: Exception =>
        System.err.println(s"[fixtures] reclaiming $dir's superseded set: $e")
    }
}

object Fixtures {

  /** The current set per corpus directory — the only process-level
    * state of the registry. */
  private val byDir = collection.mutable.Map[String, Fixtures]()

  /** The fixtures of `dir` at its current snapshot. A changed content
    * token, or a new SparkContext (catalog tables belong to one),
    * replaces the directory's set and reclaims the old one. */
  def of(spark: SparkSession, dir: String): Fixtures = {
    val token = Seq("documents", "embeddings", "orders", "lineitem")
      .map(tableToken(spark, dir, _)).mkString(",")
    val (set, stale) = synchronized {
      byDir.get(dir) match {
        case Some(f) if f.token == token &&
            (f.spark.sparkContext eq spark.sparkContext) => (f, None)
        case old =>
          val f = new Fixtures(spark, dir, token)
          byDir(dir) = f
          (f, old)
      }
    }
    stale.foreach(_.release(spark))
    set
  }

  /** Snapshot token of a source table's on-disk state: the sorted
    * (relative-path, length, mtime) fold of the parquet directory's
    * files, md5'd. Fixtures key on it instead of the raw path: a long-
    * lived session that mutates the corpus under the SAME path — what
    * upsert_crud/compact model — must re-train, not serve a stale model
    * forever. It is re-derived on every [[of]] (one FS listing per
    * table, no Spark job).
    *
    * The listing is RECURSIVE: a PARTITIONED layout rewritten in place
    * changes neither the partition subdir's (name, length) nor — on
    * most filesystems — its mtime, so a flat listing would miss the
    * rewrite; recursing folds every leaf file's (relative path, length,
    * mtime) instead. Remaining writer contract (documented, not
    * closed): the fold carries no content checksum, so an external
    * writer that rewrites a file IN PLACE, preserving its name AND byte
    * length, within the filesystem's mtime granularity, yields the same
    * token. Spark/parquet writers always emit fresh UUID part names,
    * which shifts the fold; only a deliberately adversarial byte-patcher
    * defeats it, and a cheap per-file checksum is the upgrade path if
    * one ever matters. */
  private[graft] def tableToken(s: SparkSession, dir: String,
                                table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = p.toUri.getPath
    val listing = collection.mutable.ArrayBuffer[String]()
    try {
      val it = fs.listFiles(p, true) // recursive: leaf FILES only
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base)
        listing += s"$rel:${f.getLen}:${f.getModificationTime}"
      }
    } catch { case _: java.io.FileNotFoundException => () }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(listing.sorted.mkString(",").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Per-JVM scratch root for every set's indexes and tables
    * (UUID-suffixed: no stale reuse across runs). Cleaned up
    * RECURSIVELY on JVM exit — File.deleteOnExit only removes empty
    * dirs, which would leak the parquet underneath. */
  private lazy val scratchRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-index-").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(d)))
    d.getAbsolutePath
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Candidate cap at the GRADED boost call sites: the DuckDB oracle
    * always restates the exact-DISTINCT threshold grid, so the graded
    * queries must provably never hit the sampled fallback at ANY scale
    * factor. They can't: n_words/n_stop cardinality is bounded by the
    * VALUE RANGE (max words in a single document + 1, and the stopword
    * list size + 1), not by corpus row count — so an explicit cap far
    * above any document length makes "exact grid" an invariant instead
    * of a 512-default coincidence. The library default stays 512 for
    * hash-like signals. */
  private val gradedBoostCap = 1 << 16
}
