package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * All hashing is md5-derived (deterministic across engines and runs —
  * no seeded RNG state on executors), so every operator here is
  * reproducible and oracle-checkable.
  *
  * Scale posture: nothing is O(n²). Candidate generation always goes
  * through an equi-join key (hash, LSH band, simhash band, shared
  * n-gram), so Spark executes shuffle-partitioned hash joins whose
  * fanout is bounded by bucket size; AQE handles residual skew. Exact
  * verification (Jaccard / Hamming) runs only on candidate pairs.
  */
object Dedup {

  /** 60-bit deterministic hash: first 15 hex chars of md5, as a long. */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Single-space tokenization (the corpus is space-joined words). */
  def words(text: Column): Column = split(text, " ")

  /** As [[shingles]] but over an ALREADY-MATERIALIZED words array
    * column (an attribute, not an expression): inside a higher-order
    * lambda, Catalyst re-evaluates inlined expressions per element, so
    * passing `split(...)` directly costs n re-splits of the raw text
    * per shingle position. Callers that shingle in bulk should
    * project the words array first and pass its column here. */
  def shinglesFromWords(w: Column, n: Int): Column =
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))

  /** Word n-gram shingles as strings; empty array when the text is
    * shorter than n words. */
  def shingles(text: Column, n: Int): Column = {
    val w = words(text)
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
  }

  // ---------- exact ----------

  /** Exact duplicate groups: md5 text hash → (canonical min id, count).
    * Map-side partial aggregation; one shuffle on the 128-bit hash. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Keep one row per distinct text (the min-id row). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol)
      .select(col("canonical_id").as(idCol))
    df.join(keep, idCol)
  }

  // ---------- MinHash + LSH ----------

  /** Modulus for the universal-hash family (Mersenne prime 2^31-1):
    * products a*(h%M) stay under 2^62, no BIGINT overflow in either
    * engine. */
  val MINHASH_M: Long = 2147483647L

  /** Per-function universal-hash constants, md5-derived (deterministic,
    * engine-independent): a_j in [1, M-1], b_j in [0, M-1]. */
  def minhashConsts(numHashes: Int): (Seq[Long], Seq[Long]) = (
    (0 until numHashes).map(j => AnnLsh.hash64Local(s"a:$j") % (MINHASH_M - 1) + 1),
    (0 until numHashes).map(j => AnnLsh.hash64Local(s"b:$j") % MINHASH_M))

  /** MinHash signature: base-hash each distinct shingle once (md5),
    * then sig_j = min over shingles of the universal hash
    * (a_j * (h % M) + b_j) % M.
    *
    * Entirely map-side — ZERO shuffles. The signature is ONE
    * `aggregate` traversal carrying all numHashes running minima, so
    * each shingle is hashed exactly once. (A naive per-j formulation
    * re-evaluates the md5 pipeline numHashes times at runtime — the
    * optimizer inlines aliases referenced inside lambdas — and
    * measured 10x slower.) Docs shorter than the shingle width are
    * dropped with a cheap word-count filter (no hashing). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int, shingleN: Int): DataFrame = {
    val (as, bs) = minhashConsts(numHashes)
    df.filter(size(words(col(textCol))) >= shingleN)
      .select(col(idCol),
        graft.functions.SketchExprs
          .shingleHashes(words(col(textCol)), shingleN).as("shs"))
      .select(col(idCol),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, MINHASH_M).as("sig"))
  }

  /** LSH candidate pairs: ids sharing at least one band of the
    * signature. Band b key = sig[b*rows .. b*rows+rows-1].
    *
    * The band index is exploded BEFORE the key projection so `sig` is
    * a materialized Generate output when the 4 keys are sliced from
    * it — a pre-explode array-of-structs formulation made the
    * optimizer inline the whole signature pipeline into every key. */
  def lshCandidates(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    // BOTH legs of the self-join are the SAME projection (r20, guide
    // §2.4 "share one exchange"): renaming the id to id_a/id_b BEFORE
    // the join made the two legs' plans differ by an alias, so the
    // banding map pass and its exchange ran TWICE — byte-identical
    // data under two names. Aliasing the one frame twice keeps the
    // legs canonically equal and ReuseExchange serves the second leg
    // from the first's shuffle; at scale that halves the band-key
    // pass over the signature frame. Same rows: the join keys and the
    // id_a < id_b cut are unchanged, the names move to the select.
    val banded = bandKeys(sigs, idCol, idCol, bands, rowsPerBand)
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** Band-key projection shared by [[lshCandidates]] and
    * [[decontaminateNear]] — the two MUST derive byte-identical keys
    * or single-table and two-table band buckets stop colliding (and
    * the oracles silently diverge). */
  private[graft] def bandKeys(sigs: DataFrame, inId: String, outId: String,
                              bands: Int, rowsPerBand: Int,
                              carry: Seq[String] = Nil): DataFrame =
    sigs
      .select(col(inId).as(outId) +: col("sig") +:
        explode(typedlit((0 until bands).toList)).as("band") +:
        carry.map(col): _*)
      .select(col(outId) +: col("band") +:
        concat_ws(",", slice(col("sig"), col("band") * rowsPerBand + 1,
          lit(rowsPerBand)).cast("array<string>")).as("key") +:
        carry.map(col): _*)

  /** Per-doc distinct shingle-hash sets: (sid, shs array<long>). The
    * shared input of candidate generation AND verification — compute it
    * once and cut it (`localCheckpoint`) so neither stage re-shingles
    * the raw text.
    * Hashing runs in the fused [[graft.functions.SketchExprs
    * .shingleHashes]] kernel (byte-joined words → hash60 → first-
    * occurrence dedup, one tight loop per doc) — bit-identical to the
    * `array_distinct(transform(shingles, hash64))` Column form, which
    * paid an interpreted lambda + an md5 hex round trip per shingle
    * position (r14: the dedup family's shared hot loop). */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, shingleN: Int,
                  carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("sid") +:
        graft.functions.SketchExprs
          .shingleHashes(words(col(textCol)), shingleN).as("shs") +:
        carry.map(col): _*)

  /** Exact Jaccard over pre-computed shingle-hash sets (see
    * [[shingleSets]]), computed only for the given candidate pairs:
    * each doc carries ONE compact array of hashed shingles, and a pair
    * costs one codegen'd `array_intersect` — no per-shingle
    * explode/shuffle in the verification step.
    *
    * `minJaccard` > 0 adds a size-ratio prefilter before the
    * intersection: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs whose
    * sizes alone rule them out never pay for the O(|A|+|B|) intersect.
    * Zero extra shuffles — the bound reads the already-joined arrays'
    * sizes. */
  def verifyJaccardSets(sets: DataFrame, candidates: DataFrame,
                        minJaccard: Double = 0.0): DataFrame = {
    val joined = candidates
      .join(sets.select(col("sid").as("id_a"), col("shs").as("sa")), "id_a")
      .join(sets.select(col("sid").as("id_b"), col("shs").as("sb")), "id_b")
    val pruned =
      if (minJaccard > 0)
        joined.filter(least(size(col("sa")), size(col("sb"))).cast("double") /
          greatest(size(col("sa")), size(col("sb"))) >= minJaccard)
      else joined
    pruned
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .drop("sa", "sb")
  }

  /** The minhash pair chain over PRE-MATERIALIZED shingle sets and
    * signatures — the SWEEP shape (VERDICT r14 #5 family): the
    * (numHashes, bands) tuning arms share ONE shingle-set frame and
    * ONE widest-signature frame, because hash j's constants depend
    * only on j ([[minhashConsts]]), so a shorter signature is a
    * PREFIX slice and [[bandKeys]] reads exactly positions
    * 0 .. bands·rowsPerBand−1 — byte-identical keys to a fresh
    * shorter signature, at zero extra corpus passes. */
  def minhashPairsFromSigs(sets: DataFrame, sigs: DataFrame, idCol: String,
                           bands: Int, rowsPerBand: Int,
                           threshold: Double): DataFrame = {
    val cands = lshCandidates(sigs, idCol, bands, rowsPerBand)
    verifyJaccardSets(sets, cands, minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The WHOLE (numHashes, bands) sweep fused into one plan (r19
    * optimization round, guide §2.4 "do fewer shuffles"): per arm the
    * un-fused shape paid its own band self-join + distinct + two
    * verify joins + a full_outer pairQuality join+agg — at sf0.1,
    * 3 arms × ~8 tiny-task exchanges dominated by fixed per-stage
    * cost (~35 stages/rep profiled), and at scale 3 redundant passes
    * over shared candidate pairs. Here the three bandings are
    * arm-tagged map-side projections of the ONE signature frame
    * unioned into ONE (arm, band, key) self-join; each DISTINCT
    * candidate pair is Jaccard-verified ONCE (the verdict is
    * pair-level — arm-independent by construction); and all arms'
    * tp/fp/fn come from one predicted⋈truth join + one keyed agg
    * (tp = matched predicted pairs, fp = predicted − tp,
    * fn = |truth| − tp — the same integers pairQuality's full_outer
    * counts, DedupSpec-pinned). precision/recall/f1 replicate
    * [[Eval.pairQuality]]'s guarded expressions verbatim so the
    * doubles are bit-identical.
    *
    * `configs` are (numHashes, bands) prefix slices of the shared
    * `sigs` frame (the [[minhashPairsFromSigs]] sweep contract);
    * `truth` is any (id_a, id_b) pair frame. Output: one row per
    * config, in config order fields (num_hashes, bands, tp, fp, fn,
    * precision, recall, f1) — unrounded; callers round. */
  def minhashSweepQuality(sets: DataFrame, sigs: DataFrame, idCol: String,
                          configs: Seq[(Int, Int)], threshold: Double,
                          truth: DataFrame): DataFrame = {
    require(configs.nonEmpty, "sweep needs at least one (numHashes, bands)")
    val sp = sets.sparkSession
    import sp.implicits._
    val banded = configs.zipWithIndex.map { case ((nh, nb), i) =>
      require(nh % nb == 0, s"numHashes $nh must divide into bands $nb")
      bandKeys(sigs, idCol, idCol, nb, nh / nb)
        .select(lit(i).as("_arm"), col("band"), col("key"), col(idCol))
    }.reduce(_ unionByName _)
    // identical-leg self-join (the lshCandidates r20 rule): one
    // exchange of the arm-tagged band keys serves both sides.
    // localCheckpoint the pair-sized result (r20): `cands` feeds BOTH
    // the verify chain and the per-arm semi — as a plain plan the
    // whole banding self-join re-derived per consumer (the executed
    // sf0.01 plan carried THREE copies of the banding chain; profiled
    // as two full 96-task banding map stages per rep at sf0.1). The
    // cut is (arm, id_a, id_b) rows — candidate-pair-sized, orders of
    // magnitude under the corpus — and runs eagerly inside the timed
    // builder. Executor-loss caveat as for every localCheckpoint cut
    // in this family (ADVICE r19): acceptable for the local harness,
    // recompute-on-loss callers should checkpoint reliably instead.
    val cands = banded.as("l").join(banded.as("r"),
        col("l._arm") === col("r._arm") && col("l.band") === col("r.band") &&
          col("l.key") === col("r.key"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col("l._arm").as("_arm"), col(s"l.$idCol").as("id_a"),
        col(s"r.$idCol").as("id_b"))
      .distinct()
      .localCheckpoint()
    val verified = verifyJaccardSets(sets,
        cands.select("id_a", "id_b").distinct(), minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    val pred = cands.join(verified, Seq("id_a", "id_b"), "left_semi")
    val t = truth.select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
      .withColumn("_t", lit(1L))
    val per = pred.join(t, Seq("id_a", "id_b"), "left")
      .groupBy(col("_arm"))
      .agg(count(lit(1)).as("_np"), sum(col("_t")).as("_tp"))
    val tot = t.agg(count(lit(1)).as("_nt"))
    // literal arm dim: an arm whose banding found NO surviving pairs
    // must still report (0, 0, |truth|), exactly like pairQuality on
    // an empty predicted frame
    val arms = configs.zipWithIndex
      .map { case ((nh, nb), i) => (i, nh.toLong, nb.toLong) }
      .toDF("_arm", "num_hashes", "bands")
    arms.join(per, Seq("_arm"), "left").crossJoin(broadcast(tot))
      .select(col("num_hashes"), col("bands"),
        coalesce(col("_tp"), lit(0L)).as("tp"),
        (coalesce(col("_np"), lit(0L)) - coalesce(col("_tp"), lit(0L))).as("fp"),
        (col("_nt") - coalesce(col("_tp"), lit(0L))).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(lit(0.0)))
  }

  /** Full MinHash+LSH near-dup pipeline → verified pairs above τ.
    *
    * The shingle sets are computed ONCE, cut eagerly with
    * `localCheckpoint`: signatures, banding, and verification all read
    * the cut instead of re-running the split+md5 pipeline per stage. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val (as, bs) = minhashConsts(numHashes)
    val sets = shingleSets(df, textCol, idCol, shingleN).localCheckpoint()
    // sig_j = min over the doc's shingle hashes of (a_j*(h%M)+b_j)%M —
    // duplicates can't change a min, so reducing the raw 60-bit hashes
    // mod M inline is signature-equivalent to hashing distinct strings
    val sigs = sets.filter(size(col("shs")) > 0)
      .select(col("sid").as(idCol),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, MINHASH_M).as("sig"))
    val cands = lshCandidates(sigs, idCol, bands, numHashes / bands)
    verifyJaccardSets(sets, cands, minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---------- incremental (delta-vs-corpus) ----------

  /** Persist a MinHash probe index for [[incrementalNearDupIndexed]]:
    * `path/bands` holds one (band, key, idCol) row per band per doc
    * and `path/sets` the distinct shingle-hash arrays (sid, shs). The
    * two files are everything a future delta probe needs — band keys
    * for candidate generation, hash sets for exact-Jaccard
    * verification — so the corpus TEXT is never read again. At 100 TB
    * that is the difference between an incremental ingest that
    * re-shingles the whole corpus per batch and one that reads a few
    * longs per stored doc. Keys derive from the same
    * [[minhashConsts]]/[[bandKeys]] machinery as [[minhashPairs]], so
    * an index written once keeps colliding with any future delta. */
  def writeMinhashIndex(df: DataFrame, textCol: String, idCol: String,
                        path: String, numHashes: Int = 16, bands: Int = 4,
                        shingleN: Int = 3): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val (as, bs) = minhashConsts(numHashes)
    shingleSets(df, textCol, idCol, shingleN)
      .write.mode("overwrite").parquet(s"$path/sets")
    // the band keys derive from the sets just written: the corpus text
    // is shingled once
    val sigs = df.sparkSession.read.parquet(s"$path/sets")
      .filter(size(col("shs")) > 0)
      .select(col("sid").as(idCol),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, MINHASH_M).as("sig"))
    bandKeys(sigs, idCol, idCol, bands, numHashes / bands)
      .write.mode("overwrite").parquet(s"$path/bands")
    IndexConfig.writeIndexConfig(df.sparkSession, path,
      Seq("num_hashes" -> numHashes.toLong, "bands" -> bands.toLong,
        "shingle_n" -> shingleN.toLong))
  }

  /** Incremental near-dedup: a new `delta` batch against an existing
    * `corpus`, without ever pairing the corpus with itself — the
    * operation a continuously-ingesting pipeline actually runs
    * (re-deduping 100 TB per nightly crawl is not an option; deduping
    * the crawl against it is).
    *
    * Verdict per delta doc:
    *  - `dup_corpus`: a verified corpus near-dup exists (Jaccard ≥
    *    `threshold`); `canonical_id` = smallest matching corpus id and
    *    `jaccard` its similarity.
    *  - `dup_delta`: no corpus match, but a verified near-dup of
    *    another unmatched delta doc whose component label (min id over
    *    the transitive closure) is not itself.
    *  - `kept`: everything else — novel docs, and each delta
    *    component's min-id keeper. `canonical_id` = the doc itself.
    *
    * Corpus matches take precedence; the delta-delta closure runs only
    * over docs with no corpus match, so a chain novel→novel→corpus-dup
    * does NOT drag earlier novel docs out of the kept set.
    *
    * Scale shape: the delta is the small side by construction, so its
    * band keys and shingle sets BROADCAST; the corpus contributes one
    * scan for band keys + sets (or zero scans via
    * [[incrementalNearDupIndexed]]) and is never self-joined. Only
    * candidate corpus docs' hash sets flow into verification, and the
    * delta-delta closure is delta-sized. Same md5 machinery as
    * [[minhashPairs]] — reproducible across runs, engines, and
    * partitionings. */
  def incrementalNearDup(corpus: DataFrame, delta: DataFrame, textCol: String,
                         idCol: String, numHashes: Int = 16, bands: Int = 4,
                         shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val (as, bs) = minhashConsts(numHashes)
    // computed ONCE, read by band-key derivation AND verification —
    // uncut, the corpus text would be re-shingled per consumer (the
    // [[minhashPairs]] pattern; the indexed variant reads parquet
    // instead and needs no cut)
    val corpusSets = shingleSets(corpus, textCol, idCol, shingleN).localCheckpoint()
    val corpusSigs = corpusSets.filter(size(col("shs")) > 0)
      .select(col("sid").as("cid"),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, MINHASH_M).as("sig"))
    incrementalCore(bandKeys(corpusSigs, "cid", "cid", bands, numHashes / bands),
      corpusSets, delta, textCol, idCol, numHashes, bands, shingleN, threshold)
  }

  /** [[incrementalNearDup]] against a [[writeMinhashIndex]] table: the
    * corpus text is read ZERO times — candidates come from the stored
    * band keys, verification from the stored hash sets. */
  def incrementalNearDupIndexed(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String, delta: DataFrame,
                                textCol: String, idCol: String,
                                numHashes: Int = 16, bands: Int = 4,
                                shingleN: Int = 3,
                                threshold: Double = 0.5): DataFrame = {
    IndexConfig.validateIndexConfig(spark, indexPath,
      Seq("num_hashes" -> numHashes.toLong, "bands" -> bands.toLong,
        "shingle_n" -> shingleN.toLong))
    // deleted corpus docs must not claim delta docs as their dups:
    // both halves of the index anti-join the shared tombstone set
    incrementalCore(
      IndexMaintenance.dropTombstoned(spark, indexPath,
        spark.read.parquet(s"$indexPath/bands").withColumnRenamed(idCol, "cid"),
        "cid"),
      IndexMaintenance.dropTombstoned(spark, indexPath,
        spark.read.parquet(s"$indexPath/sets"), "sid"),
      delta, textCol, idCol, numHashes, bands, shingleN, threshold)
  }

  /** Shared core over a corpus band frame (cid, band, key) + set frame
    * (sid, shs), however obtained. */
  private def incrementalCore(corpusBands: DataFrame, corpusSets: DataFrame,
                              delta: DataFrame, textCol: String, idCol: String,
                              numHashes: Int, bands: Int, shingleN: Int,
                              threshold: Double): DataFrame = {
    val (as, bs) = minhashConsts(numHashes)
    val deltaSets = shingleSets(delta, textCol, idCol, shingleN).localCheckpoint()
    val deltaSigs = deltaSets.filter(size(col("shs")) > 0)
      .select(col("sid").as("did"),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, MINHASH_M).as("sig"))
    val deltaBands = bandKeys(deltaSigs, "did", "did", bands, numHashes / bands)
      .localCheckpoint()
    // corpus × delta candidates: the corpus frame is the big side,
    // the delta band keys broadcast onto it
    val xcand = corpusBands
      .join(broadcast(deltaBands), Seq("band", "key"))
      .select(col("did"), col("cid")).distinct()
    // verify — only CANDIDATE corpus docs' hash sets are touched; the
    // size-ratio prefilter skips intersections the bound rules out
    val xver = xcand
      .join(corpusSets.select(col("sid").as("cid"), col("shs").as("sa")), "cid")
      .join(broadcast(deltaSets.select(col("sid").as("did"), col("shs").as("sb"))), "did")
      .filter(least(size(col("sa")), size(col("sb"))).cast("double") /
        greatest(size(col("sa")), size(col("sb"))) >= threshold)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
    // smallest matching corpus id wins (struct-min = ORDER BY cid).
    // `best` is delta-sized (≤ 1 row per delta doc) but sits on top of
    // the corpus-band join + verify chain, and it has TWO consumers
    // executed in SEPARATE actions: the delta-delta closure (whose
    // connectedComponents call eagerly counts/collects its pair
    // frame) and the final verdict join. Un-cut, the whole corpus
    // candidate chain executed twice per batch (measured r19: 13 AQE
    // stage-jobs re-run, ~35% of the query's wall) — localCheckpoint
    // it so the corpus side is touched exactly once per batch.
    val best = xver.groupBy(col("did"))
      .agg(min(struct(col("cid"), col("jaccard"))).as("m"))
      .select(col("did"), col("m.cid").as("cid"), col("m.jaccard").as("cjac"))
      .localCheckpoint()
    // delta-delta closure among corpus-unmatched docs only
    val unmatched = deltaBands.join(best.select("did"), Seq("did"), "left_anti")
    val dcand = unmatched.select(col("band"), col("key"), col("did").as("id_a"))
      .join(unmatched.select(col("band"), col("key"), col("did").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val dver = verifyJaccardSets(deltaSets, dcand, minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
    val lab = connectedComponents(dver.select("id_a", "id_b"))
      .withColumnRenamed("doc_id", idCol).withColumnRenamed("cluster_id", "_lbl")
    val out = delta.select(col(idCol))
      .join(best.withColumnRenamed("did", idCol), Seq(idCol), "left")
      .join(lab, Seq(idCol), "left")
      .select(col(idCol),
        when(col("cid").isNotNull, lit("dup_corpus"))
          .when(col("_lbl").isNotNull && col("_lbl") =!= col(idCol), lit("dup_delta"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("cid"), col("_lbl"), col(idCol)).as("canonical_id"),
        col("cjac").as("jaccard"))
    // the result is delta-sized: materialize it eagerly, so the
    // returned plan reads one cut instead of the chain above. The cuts
    // are freed once nothing references them, so the repeated calls
    // this operator exists for accumulate nothing
    out.localCheckpoint()
  }

  // ---------- SimHash ----------

  /** 60-bit SimHash over tokens (with multiplicity): bit i is set when
    * the weighted sum of token-hash bit i is positive.
    *
    * One map-side `aggregate` traversal folds all 60 bit-counters at
    * once (tokens are md5-hashed exactly once; bit i is read with
    * integer arithmetic — `h mod 2^(i+1) >= 2^i` — because bit-shift
    * builtins only take literal shift amounts and string-based bit
    * access allocates per token). No explode, no shuffle — SimHash
    * rides the scan at any scale. Emits both the packed long
    * (`simhash`) and the MSB-first bit string (`simbits`, cheap to
    * slice into LSH band keys). */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val BITS = 60
    // per-token hashes via the positional kernel (n = 1): the
    // transform lambda ran interpreted md5+hex per token
    val hs = graft.functions.SketchExprs.shingleHashSeq(
      words(col(textCol)), 1)
    df.select(col(idCol),
        graft.functions.SketchExprs.simhash(hs).as("simhash"))
      // MSB-first bit string, sliceable by column offsets for band keys
      .select(col(idCol), lpad(bin(col("simhash")), BITS, "0").as("simbits"),
        col("simhash"))
  }

  /** Near-dup pairs by SimHash: candidates share one of 4 15-bit bands,
    * verified with Hamming distance <= maxHamming. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 8): DataFrame =
    simhashBandPairs(simhash(df, textCol, idCol), idCol, maxHamming)

  /** Band join + Hamming verify over any (id, simhash, simbits) frame —
    * shared by the text path ([[simhashPairs]]) and the binary payload
    * path ([[Multimodal.binaryNearDup]]). Candidates share one of
    * `bands` (60/bands)-bit bands of the 60-bit sketch. Recall is
    * GUARANTEED for pairs with hamming < bands (pigeonhole: fewer
    * flipped bits than bands leaves some band clean), so callers that
    * set maxHamming < bands get an exhaustive result, not an LSH
    * approximation. */
  def simhashBandPairs(sh: DataFrame, idCol: String,
                       maxHamming: Int, bands: Int = 4): DataFrame = {
    require(bands > 0 && 60 % bands == 0, s"bands must divide 60, got $bands")
    val width = 60 / bands
    // explode the band index first (see lshCandidates for why), then
    // slice the band key out of the bit STRING — substring accepts
    // column offsets where bit-shifts do not
    val banded = sh
      .select(col(idCol), col("simhash"), col("simbits"),
        explode(typedlit((0 until bands).toList)).as("band"))
      .select(col(idCol), col("simhash"), col("band"),
        col("simbits").substr(lit(61 - width) - col("band") * width,
          lit(width)).as("key"))
    val a = banded.select(col("band"), col("key"), col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("key"), col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------- n-gram Jaccard (inverted index) ----------

  /** Near-dup pairs via an n-gram inverted index: docs sharing >= 1
    * rare n-gram become candidates (n-grams occurring in more than the
    * document-frequency cap are dropped from the index — ubiquitous
    * shingles only create quadratic candidate fanout), then exact
    * Jaccard over the FULL shingle sets >= threshold.
    *
    * The df cap is corpus-relative: max(maxDf, ceil(maxDfFrac·nDocs)),
    * so growing the corpus doesn't silently drop genuinely-shared
    * shingles (a fixed cap of 20 would erase every shingle of a
    * 21-times-duplicated document at scale).
    *
    * Plan shape (the scale-critical part):
    *  1. shingle sets computed once, cut eagerly — no re-shingling.
    *  2. candidate generation AGGREGATES the inverted index:
    *     `groupBy(id_a, id_b).count()` over exploded rare-shingle
    *     co-occurrences. Map-side partial aggregation collapses the
    *     pair blowup before the shuffle — no `distinct()` barrier over
    *     raw pair rows — and the count is the pair's RARE-shingle
    *     intersection size for free.
    *  3. Jaccard upper-bound prefilter: |A∩B| <= rare_inter +
    *     min(|A|-rareA, |B|-rareB) (shingles shared beyond the rare
    *     index are non-rare in both docs). Only pairs whose bound
    *     clears the threshold reach the exact `array_intersect`
    *     verify, which reads the cut sets.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.6,
                        maxDf: Int = 100, maxDfFrac: Double = 0.005): DataFrame =
    ngramJaccardPairsFromSets(
      shingleSets(df, textCol, idCol, n).localCheckpoint(),
      threshold, maxDf, maxDfFrac)

  /** The exact-Jaccard pair chain over a PRE-MATERIALIZED shingle-set
    * frame (the minhashPairsFromSigs convention, VERDICT r15 #5
    * family): a caller that runs several chains over the same corpus
    * and shingle width — dedup_eval's sketch-vs-truth comparison, the
    * band sweep's truth arm — shares ONE shingle frame instead of
    * paying the split+md5 corpus pass per chain. `sets` must already
    * be materialized (`localCheckpoint`): the chain reads it three
    * times (df counts, inverted index, verification). Same rows as
    * [[ngramJaccardPairs]] by construction — this IS its body. */
  def ngramJaccardPairsFromSets(sets: DataFrame, threshold: Double,
                                maxDf: Int, maxDfFrac: Double): DataFrame =
    verifyJaccardSets(sets,
        rareShingleCandidates(sets, threshold, maxDf, maxDfFrac,
          (na, nb, ub) => na + nb - ub))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Asymmetric CONTAINMENT near-dup pairs: C = |A∩B| / min(|A|,|B|)
    * — flags "the small doc lives inside the big one", which
    * symmetric Jaccard misses by construction (a 15-word excerpt
    * quoted verbatim inside a 300-word doc has J ≈ 0.04 but
    * containment 1.0). The dedup family's directional member: run it
    * after [[ngramJaccardPairs]] to catch subset-duplicates that
    * threshold-J dedup leaves in the corpus.
    *
    * Plan shape = [[ngramJaccardPairs]]'s (the same
    * [[rareShingleCandidates]] chain, never all-pairs); only the
    * prefilter bound and the verified statistic divide by the SMALLER
    * set instead of the union. Both `containment` and `jaccard` are
    * emitted for each surviving pair. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 100, maxDfFrac: Double = 0.005): DataFrame = {
    val sets = shingleSets(df, textCol, idCol, n).localCheckpoint()
    rareShingleCandidates(sets, threshold, maxDf, maxDfFrac,
        (na, nb, _) => least(na, nb))
      .join(sets.select(col("sid").as("id_a"), col("shs").as("sa")), "id_a")
      .join(sets.select(col("sid").as("id_b"), col("shs").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") /
        least(size(col("sa")), size(col("sb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"), col("jaccard"))
  }

  /** The candidate chain of [[ngramJaccardPairsFromSets]] and
    * [[containmentPairs]]: (id_a, id_b) pairs that share a rare
    * shingle (document frequency within the corpus-relative cap) and
    * whose intersection upper bound `ub`, divided by
    * `denominator(|A|, |B|, ub)`, clears `threshold`. The bound is
    * rare_inter + min(|A|-rareA, |B|-rareB): shingles shared beyond
    * the rare index are non-rare in both docs. `sets` is read twice
    * (df counts, inverted index); the rare-shingle rows are cut once,
    * since the per-doc stats and both self-join legs read them. */
  private def rareShingleCandidates(sets: DataFrame, threshold: Double,
                                    maxDf: Int, maxDfFrac: Double,
                                    denominator: (Column, Column, Column) => Column): DataFrame = {
    val nDocs = sets.agg(count(lit(1)).as("_n_docs"))
    val inverted = sets.select(col("sid"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("sh"))
    val rare = inverted.groupBy(col("sh")).agg(count(lit(1)).as("df_count"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df_count") <=
        greatest(lit(maxDf.toLong), ceil(col("_n_docs") * maxDfFrac)))
      .select(col("sh"))
    val filtered = inverted.join(rare, "sh").localCheckpoint()
    // rare-shingle count per doc, for the intersection upper bound
    val docStats = filtered.groupBy(col("sid"))
      .agg(first(col("n_sh")).as("n_sh"), count(lit(1)).as("n_rare"))
    // identical-leg self-join (the lshCandidates r20 rule): one
    // (sh, sid) projection aliased twice, so the shingle-keyed
    // exchange is shared instead of shuffling the inverted index once
    // per leg
    val fx = filtered.select(col("sh"), col("sid"))
    val pairCounts = fx.as("l").join(fx.as("r"), col("l.sh") === col("r.sh"))
      .filter(col("l.sid") < col("r.sid"))
      .groupBy(col("l.sid").as("id_a"), col("r.sid").as("id_b"))
      .agg(count(lit(1)).as("rare_inter"))
    pairCounts
      .join(docStats.select(col("sid").as("id_a"), col("n_sh").as("na"), col("n_rare").as("ra")), "id_a")
      .join(docStats.select(col("sid").as("id_b"), col("n_sh").as("nb"), col("n_rare").as("rb")), "id_b")
      .withColumn("_ub",
        col("rare_inter") + least(col("na") - col("ra"), col("nb") - col("rb")))
      .filter(col("_ub").cast("double") /
        denominator(col("na"), col("nb"), col("_ub")) >= threshold)
      .select("id_a", "id_b")
  }

  // ---------- canonical composition (exact-first near-dup) ----------

  /** The production near-dup composition for heavy-duplication
    * corpora: collapse exact duplicates FIRST (one hash groupBy), run
    * the expensive near-dup stage on canonical texts only, and report
    * both layers — (doc_id, canonical_id) exact membership plus
    * near-dup pairs BETWEEN canonicals. On a corpus that is 90%
    * exact copies this cuts the near-dup stage's input 10× and its
    * pair output ~100×, with zero information loss (copies of a
    * canonical inherit its near-dup relations by definition).
    *
    * `pairFn` is any canonical-pair generator over (doc_id, textCol) —
    * e.g. `ngramJaccardPairs(_, textCol, "doc_id", ...)`. */
  def canonicalNearDup(df: DataFrame, textCol: String, idCol: String)
                      (pairFn: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val membership = df
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("_h"))
      .withColumn("canonical_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))))
      .select(col("doc_id"), col("canonical_id"))
    val canonicals = df
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as("doc_id"), first(col(textCol)).as(textCol))
      .drop("_h")
    (membership, pairFn(canonicals))
  }

  // ---------- benchmark decontamination ----------

  /** Flag training docs that overlap an evaluation/benchmark set — the
    * decontamination pass every LLM data pipeline runs before
    * training. A doc is contaminated when >= `minHits` of its distinct
    * n-gram shingle hashes appear anywhere in the benchmark corpus.
    *
    * Plan shape: the benchmark collapses to ONE distinct shingle-hash
    * column (however many benchmark docs, the join key set is its
    * vocabulary, typically << corpus); corpus shingles equi-join it
    * and aggregate to per-doc hit counts with map-side combine. Both
    * sides are explode → hash — no arrays ship through the join.
    * Returns every corpus doc with its hit count and flag, so the
    * "keep clean docs" filter is `!contaminated`. */
  def decontaminate(corpus: DataFrame, textCol: String, idCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 3, minHits: Int = 1): DataFrame = {
    val benchShingles = benchmark
      .select(explode(graft.functions.SketchExprs
        .shingleHashes(words(col(benchTextCol)), n)).as("sh"))
      .distinct()
    val corpusShingles = corpus
      .select(col(idCol).as("doc_id"), explode(graft.functions.SketchExprs
        .shingleHashes(words(col(textCol)), n)).as("sh"))
    val hits = corpusShingles.join(benchShingles, "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("bench_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bench_hits"), lit(0L)).as("bench_hits"),
        (coalesce(col("bench_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** Bloom-filter decontamination — the O(1)-per-gram deployment shape
    * of [[decontaminate]]: the benchmark's shingle vocabulary compiles
    * ONCE into an m-bit bloom bitmap (k=3 md5-derived bit positions
    * per shingle, OR-merged — order-independent, so the bitmap is a
    * pure function of the benchmark), and the corpus pass tests each
    * doc's grams against the broadcast bitmap entirely map-side. At
    * 100 TB this removes the corpus-side shuffle the equi-join form
    * pays: the corpus never exchanges ANY rows — one scan, per-doc
    * verdicts at full parallelism — and the bitmap's size is fixed by
    * `mBits` (2^18 bits = 32 KiB default), NOT by benchmark size.
    *
    * Membership is deterministic (md5 positions, no RNG), so false
    * positives are reproducible in any engine: the oracle recomputes
    * the identical bit set and the identical verdicts. A gram hits
    * when all k of its positions are set; a doc is contaminated when
    * >= `minHits` of its distinct grams hit. Bloom semantics make the
    * flag a SUPERSET of [[decontaminate]]'s at the same (n, minHits)
    * (no false negatives — pinned in DedupSpec); size mBits >>
    * k·|bench vocab| to keep the FP rate negligible.
    *
    * Plan shape: bench side is explode → distinct positions →
    * word-indexed bit_or (≤ mBits/64 rows, bounded by the FILTER, not
    * the data) → ONE single-row map_from_entries roll-up; corpus side
    * is a broadcast of that row + one scan with HOF arithmetic. */
  def decontaminateBloom(corpus: DataFrame, textCol: String, idCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 3, minHits: Int = 1,
                         mBits: Int = 1 << 18): DataFrame = {
    require(mBits >= 64 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    val nWords = mBits / 64
    // k=3 positions per shingle hash, each from 8 hex chars of one md5
    def posSql(shExpr: String, t: Int): String =
      s"cast(conv(substring(md5(concat('bl0_', cast($shExpr as string))), ${1 + 8 * t}, 8), 16, 10) as bigint) % $mBits"
    val benchPos = benchmark
      .select(explode(graft.functions.SketchExprs
        .shingleHashes(words(col(benchTextCol)), n)).as("sh"))
      .select(explode(array((0 until 3).map(t => expr(posSql("sh", t))): _*)).as("pos"))
      .distinct()
    // Dense-array assembly via a zero-word union — NOT a map probed
    // per index: the previous map_from_entries + element_at-in-lambda
    // shape hit BOTH HOF traps at once (CollapseProject inlined the
    // map build into the per-element lambda, and each probe linearly
    // scanned the entries) — the sf1 probe measured the one-row
    // bitmap stage pinned at 100% CPU for minutes. Here every word
    // 0..nWords-1 is present by construction (bit_or with the zero
    // row is the identity), the struct sort runs once, and the
    // lambda touches only its own element.
    val zeroWords = benchmark.sparkSession.range(nWords)
      .select(col("id").as("w"), lit(0L).as("m"))
    val bitmap = benchPos
      .select((col("pos") / 64).cast("long").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("m"))
      .unionByName(zeroWords)
      .groupBy(col("w")).agg(expr("bit_or(m)").as("m"))
      .agg(array_sort(collect_list(struct(col("w"), col("m")))).as("_e"))
      .select(transform(col("_e"), s => s.getField("m")).as("bm"))
    // corpus pass: the codegen'd BloomHitsCount kernel — one md5 per
    // shingle (the prior interpreted filter-lambda recomputed the
    // SAME digest three times, once per position) and in-place bit
    // tests against the broadcast word array. Identical position
    // arithmetic (spec- and oracle-pinned), identical hit counts.
    corpus
      .select(col(idCol).as("doc_id"), graft.functions.SketchExprs
        .shingleHashes(words(col(textCol)), n).as("_shs"))
      .crossJoin(broadcast(bitmap))
      // coalesce: a NULL text has a NULL shingle array; it must report
      // 0 hits (and survive), matching the equi-join form's left join
      .select(col("doc_id"),
        coalesce(graft.functions.SketchExprs
            .bloomHitsCol(col("_shs"), col("bm"), mBits), lit(0L))
          .as("bloom_hits"))
      .select(col("doc_id"), col("bloom_hits"),
        (col("bloom_hits") >= minHits).as("contaminated"))
  }

  /** NEAR-duplicate decontamination — the fuzzy complement of
    * [[decontaminate]]: a benchmark document lightly edited before it
    * leaked into the corpus keeps high whole-document Jaccard even
    * where exact vocabulary hits thin out. Both tables sign with the
    * SAME seeded minhash family, so band keys equi-join corpus x
    * benchmark (bounded fanout per band bucket — never an all-pairs
    * corpus x benchmark join), and every band collision is verified by
    * exact shingle Jaccard with the size-ratio prefilter. Returns one
    * row per flagged corpus doc: its match count and best-matching
    * benchmark doc (ties on jaccard broken by max bench id). */
  def decontaminateNear(corpus: DataFrame, textCol: String, idCol: String,
                        benchmark: DataFrame, benchTextCol: String,
                        benchIdCol: String, numHashes: Int = 16,
                        bands: Int = 4, shingleN: Int = 3,
                        minJaccard: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val cand = bandKeys(
        minhashSignatures(corpus, textCol, idCol, numHashes, shingleN),
        idCol, "id_a", bands, rows)
      .join(bandKeys(
        minhashSignatures(benchmark, benchTextCol, benchIdCol, numHashes, shingleN),
        benchIdCol, "id_b", bands, rows), Seq("band", "key"))
      .select("id_a", "id_b").distinct()
    val verified = cand
      .join(shingleSets(corpus, textCol, idCol, shingleN)
        .select(col("sid").as("id_a"), col("shs").as("sa")), "id_a")
      .join(shingleSets(benchmark, benchTextCol, benchIdCol, shingleN)
        .select(col("sid").as("id_b"), col("shs").as("sb")), "id_b")
      .filter(least(size(col("sa")), size(col("sb"))).cast("double") /
        greatest(size(col("sa")), size(col("sb"))) >= minJaccard)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
    verified.groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jaccard"), col("id_b"))).as("_best"))
      .select(col("doc_id"), col("n_matches"),
        col("_best.id_b").as("bench_id"), col("_best.jaccard").as("jaccard"))
  }

  /** Cross-corpus near-dup overlap report — the one-row "how much of
    * the new crawl is already in the archive" number a mixing
    * decision starts from: the count and fraction of `a` docs with at
    * least one verified near-dup (Jaccard ≥ `minJaccard`) in `b`.
    * The roll-up of [[decontaminateNear]]'s per-doc matches plus both
    * slice populations.
    *
    * Scale shape: the contact is the same band-key equi-join as
    * [[decontaminateNear]] (bounded fanout, never all-pairs); the
    * three counts are single-row aggs; the output is ONE row, and the
    * rate divides integer counts in one fixed expression. */
  def corpusOverlap(a: DataFrame, textCol: String, idCol: String,
                    b: DataFrame, bTextCol: String, bIdCol: String,
                    numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
                    minJaccard: Double = 0.5): DataFrame = {
    val matches = decontaminateNear(a, textCol, idCol, b, bTextCol, bIdCol,
      numHashes, bands, shingleN, minJaccard)
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val nov = matches.agg(count(lit(1)).as("n_overlap"))
    na.crossJoin(nb).crossJoin(nov)
      .select(col("n_a"), col("n_b"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_a")).as("overlap_rate"))
  }

  /** Pairwise source-to-source content similarity matrix — the
    * "which feeds duplicate which" dashboard a mixing decision reads
    * next to [[corpusOverlap]]'s one-row rate: estimated shingle-set
    * Jaccard for EVERY pair of `groupCol` values, via bottom-k
    * sketches (the [[graft.functions.KmvAgg]] k-minimum-values
    * buffer, Broder 1997's public estimator). For each source the k
    * smallest distinct shingle hashes are its sketch; for a pair, the
    * k smallest of the merged sketch are an unbiased sample of the
    * union, and the fraction also present in both sketches estimates
    * the Jaccard — EXACT whenever the union holds < k distinct
    * shingles (the sketch then is the set).
    *
    * Scale shape: the corpus contributes ONE keyed agg whose map side
    * keeps ≤ k longs per (source, partition) — no shingle ever
    * shuffles more than once and no pair of corpora ever joins on
    * content; the pairwise stage runs on the |sources|-row sketch
    * frame (array built-ins, broadcast self-join). md5-derived hashes
    * and set semantics make every estimate bit-identical across
    * engines and partitionings. */
  def sourceSimilarity(df: DataFrame, textCol: String, groupCol: String,
                       shingleN: Int = 3, k: Int = 256): DataFrame = {
    val sk = df.select(col(groupCol).as("_g"), explode(
        graft.functions.SketchExprs
          .shingleHashes(words(col(textCol)), shingleN)).as("_h"))
      .groupBy(col("_g"))
      .agg(graft.functions.KmvAgg.kmv(col("_h"), k).as("_sk"))
    val a = sk.select(col("_g").as("source_a"), col("_sk").as("_sa"))
    val b = sk.select(col("_g").as("source_b"), col("_sk").as("_sb"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("_mg", slice(array_sort(array_union(col("_sa"), col("_sb"))), 1, k))
      .select(col("source_a"), col("source_b"),
        size(filter(col("_mg"), h =>
          array_contains(col("_sa"), h) && array_contains(col("_sb"), h)))
          .cast("long").as("n_common"),
        size(col("_mg")).cast("long").as("n_merged"))
      .withColumn("jaccard_est",
        col("n_common").cast("double") / col("n_merged"))
  }

  /** [[corpusOverlap]] where side `a` (the archive) is a persisted
    * [[writeMinhashIndex]] table: the recurring "how much of the new
    * crawl is already archived" report with ZERO archive text scans —
    * candidates come from the stored band keys, verification and the
    * archive population count from the stored hash sets. The scan
    * form re-signs BOTH corpora per call (VERDICT r11 #2's finding);
    * at 100 TB this variant reads a few longs per archived doc
    * instead. Tombstoned archive docs neither match nor count toward
    * `n_a`. Results equal [[corpusOverlap]] over the indexed archive
    * (same band arithmetic, same verification — the shared-oracle
    * contract). */
  def corpusOverlapIndexed(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, idCol: String,
                           b: DataFrame, bTextCol: String, bIdCol: String,
                           numHashes: Int = 16, bands: Int = 4,
                           shingleN: Int = 3,
                           minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    IndexConfig.validateIndexConfig(spark, indexPath,
      Seq("num_hashes" -> numHashes.toLong, "bands" -> bands.toLong,
        "shingle_n" -> shingleN.toLong))
    val corpusBands = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(s"$indexPath/bands").withColumnRenamed(idCol, "cid"),
      "cid")
    val corpusSets = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(s"$indexPath/sets"), "sid")
    val (as, bs) = minhashConsts(numHashes)
    // the crawl is the small side by construction: its band keys and
    // hash sets broadcast onto the index partitions (the
    // incrementalNearDupIndexed probe posture). No construction-time
    // persist (this builder returns an unexecuted plan — ADVICE r11):
    // bSets recurs as an identical subtree inside the one final plan,
    // where ReuseExchange dedupes its shuffle.
    val bSets = shingleSets(b, bTextCol, bIdCol, shingleN)
    val bSigs = bSets.filter(size(col("shs")) > 0)
      .select(col("sid").as("did"),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, MINHASH_M).as("sig"))
    val bBands = bandKeys(bSigs, "did", "did", bands, numHashes / bands)
    val cand = corpusBands.join(broadcast(bBands), Seq("band", "key"))
      .select(col("cid"), col("did")).distinct()
    val ver = cand
      .join(corpusSets.select(col("sid").as("cid"), col("shs").as("sa")), "cid")
      .join(broadcast(bSets.select(col("sid").as("did"), col("shs").as("sb"))),
        "did")
      .filter(least(size(col("sa")), size(col("sb"))).cast("double") /
        greatest(size(col("sa")), size(col("sb"))) >= minJaccard)
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
    // n_a from the stored sets (one row per archived doc); n_overlap =
    // flagged archive docs, exactly corpusOverlap's grouped-id_a count
    val na = corpusSets.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val nov = ver.select(col("cid")).distinct()
      .agg(count(lit(1)).as("n_overlap"))
    na.crossJoin(nb).crossJoin(nov)
      .select(col("n_a"), col("n_b"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_a")).as("overlap_rate"))
  }

  /** Winnowed fingerprint windows per doc, exploded to (id, fp) —
    * the per-window variant of [[TextAnalysis.fingerprint]]: every
    * `window`-long run of shingle hashes contributes its minimum, so
    * two documents sharing ANY ≥ (window + shingleN - 1)-word verbatim
    * run share at least one fp (the winnowing guarantee). Docs shorter
    * than one window contribute their whole-doc min; empty docs
    * contribute nothing. Distinct per doc. */
  /** (id, _h) shingle-hash array projection. Words materialize in
    * their OWN projection, then hashes in theirs: a winnowing lambda
    * downstream references `_h` per window position, and an inlined
    * expression there re-shingles the raw text per position — O(m²)
    * per doc, measured 1000× on the bench. As attributes, each is
    * computed once per row. Shared by [[winnowedFps]] and
    * [[TextAnalysis.fingerprint]] — the two MUST hash identically or
    * excerpt decontamination and document fingerprints diverge. */
  private[operators] def shingleHashArrays(df: DataFrame, textCol: String,
                                           idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.SketchExprs.shingleHashSeq(
        words(col(textCol)), n).as("_h"))

  /** Winnowing window minima over a MATERIALIZED hash-array column:
    * element i = min(h[i .. i+window-1]), for every window position. */
  private[operators] def winnowMinima(h: Column, window: Int): Column =
    transform(sequence(lit(1), size(h) - (window - 1)),
      i => array_min(slice(h, i, lit(window))))

  private[operators] def winnowedFps(df: DataFrame, textCol: String,
                                     idCol: String, shingleN: Int,
                                     window: Int): DataFrame = {
    val withH = shingleHashArrays(df, textCol, idCol, shingleN)
    val h = col("_h")
    val m = size(h)
    val wins = when(m === 0, array().cast("array<long>"))
      .when(m < window, array(array_min(h)))
      .otherwise(array_distinct(winnowMinima(h, window)))
    withH.select(col(idCol), explode(wins).as("fp"))
  }

  /** EXCERPT-level decontamination — the substring complement of
    * [[decontaminate]] (vocabulary hits) and [[decontaminateNear]]
    * (whole-document Jaccard): a benchmark passage quoted VERBATIM
    * inside an otherwise-unrelated document keeps whole-doc Jaccard
    * low and vocabulary hits diluted, but its winnowed fingerprints
    * (per-window shingle-hash minima, the MOSS/winnowing scheme) are
    * preserved exactly. Any shared run of ≥ window + shingleN - 1
    * words yields ≥ 1 shared fingerprint; `minWindows` sets the
    * shortest excerpt worth flagging.
    *
    * Scale shape: fingerprints are map-side per doc (arrays as
    * attributes), the corpus × benchmark contact is an equi-join on
    * the fp value (bounded fanout — a fingerprint is 60 bits of
    * specific text), and the count is a keyed agg. Never all-pairs,
    * same posture as [[decontaminate]]. */
  def decontaminateExcerpt(corpus: DataFrame, textCol: String, idCol: String,
                           benchmark: DataFrame, benchTextCol: String,
                           benchIdCol: String, shingleN: Int = 3,
                           window: Int = 8, minWindows: Int = 2): DataFrame = {
    val cf = winnowedFps(corpus.select(col(idCol), col(textCol)),
      textCol, idCol, shingleN, window)
      .select(col(idCol).as("doc_id"), col("fp"))
    val bf = winnowedFps(benchmark.select(col(benchIdCol), col(benchTextCol)),
      benchTextCol, benchIdCol, shingleN, window)
      .select(col(benchIdCol).as("bench_id"), col("fp"))
    cf.join(bf, "fp")
      // (doc, fp) and (bench, fp) are each distinct, so plain count =
      // distinct shared windows — no count-distinct shuffle
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_windows"))
      .filter(col("n_windows") >= minWindows)
  }

  /** Corpus-wide EXACT-SUBSTRING duplicated spans — the span-level
    * complement of the SET-based dedups above (public algorithm:
    * "ExactSubstr", Lee et al. 2021, Deduplicating Training Data
    * Makes Language Models Better): every `minLen`-word window whose
    * exact text occurs ≥ 2 times ANYWHERE in the corpus (another doc
    * or a repeat within the same doc) marks its word positions
    * duplicated; contiguous duplicated positions merge into spans.
    * Returns (doc_id, span_start, span_end, span_words) with 1-based
    * inclusive start, exclusive end — the cut-list a span-level dedup
    * feeds on. Shared runs of length ≥ minLen are covered end-to-end
    * (every window inside the run repeats), so the merged span IS the
    * repeated passage, not samples of it.
    *
    * Scale shape: the honest cost of exact substring matching is
    * O(corpus tokens) window rows — the same asymptotics as the
    * suffix-array original. All contacts are keyed: one
    * groupBy(window-hash) count (map-side combine collapses repeated
    * windows), one equi-join back (only duplicated hashes survive),
    * one doc-partitioned distinct + window for island-merging (never
    * global), one keyed agg. Nothing all-pairs, nothing driver-side.
    * The winnowed-fingerprint operators ([[decontaminateExcerpt]])
    * remain the cheap approximate cousin; this one is exact. */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                      minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val winRows = windowHashRows(df, textCol, idCol, minLen)
    val dupHashes = winRows.groupBy(col("h"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") >= 2).select(col("h"))
    mergeWindowSpans(winRows.join(dupHashes, "h"), idCol, minLen)
  }

  /** (id, pos, h) rows: the 60-bit hash of every `minLen`-word window,
    * 1-based start position. Window hashes come from the
    * [[graft.functions.SketchExprs.shingleHashSeq]] codegen kernel —
    * one tight per-doc loop over the words array emitting every
    * position's hash60 (identical bytes and hash to
    * `hash64(concat_ws(" ", w_i..w_{i+minLen-1}))` by the kernel's
    * contract; PropertySpec pins the equality against the old
    * exploded-token lead() formulation). The r19 optimization round
    * retired that lead() shape: it shuffled the ENTIRE exploded token
    * stream by doc and ran a minLen-lead WindowExec over it — at
    * sf0.1 one doc-keyed Exchange + Sort + Window per consumer
    * (~45% of dedup_substring's wall, and at 100 TB a full-corpus
    * token shuffle); the kernel emits (pos, h) straight off the scan
    * with ZERO exchanges before the dup-hash aggregation. An earlier
    * shingle-array LAMBDA formulation was rejected for O(words²)
    * re-splitting (Catalyst inlines array exprs below the Generate);
    * the kernel is an attribute-input Catalyst expression, so nothing
    * re-evaluates per element. */
  private[graft] def windowHashRows(df: DataFrame, textCol: String,
                                    idCol: String, minLen: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.SketchExprs.shingleHashSeq(
          words(col(textCol)), minLen)).as(Seq("_p", "h")))
      .select(col(idCol), (col("_p") + 1).as("pos"), col("h"))

  /** Island-merge duplicated-window POSITIONS into spans — not covered
    * word positions: two dup windows at p1 < p2 cover contiguous words
    * iff p2 - p1 <= minLen, and a sorted chain with gaps <= minLen
    * covers exactly [min, max + minLen). Merging on positions avoids
    * the minLen-fold covered-position explode plus its corpus-wide
    * distinct. (doc, pos) rows are unique by construction, and the
    * same doc-partitioned shuffle serves both window passes (lag, then
    * running group sum). */
  private def mergeWindowSpans(dupWins: DataFrame, idCol: String,
                               minLen: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    dupWins
      .select(col(idCol), col("pos"))
      .withColumn("_new",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > minLen, 1)
          .otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(byDoc))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + minLen).cast("long").as("span_end"))
      .select(col(idCol).as("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_words"))
  }

  /** KEEP-FIRST variant of [[duplicatedSpans]] — the cut-list a
    * production span dedup actually applies: of each duplicated
    * window's occurrences, the FIRST in (doc, pos) order is the owner
    * and survives; only the later occurrences mark positions. Cutting
    * these spans removes repeated passages from all-but-one place
    * instead of destroying every copy. A doc can own one window and
    * still be flagged by another — ownership is per window, exactly
    * like the suffix-array original's first-occurrence rule.
    *
    * Scale shape: IDENTICAL contact pattern to [[duplicatedSpans]] —
    * one map-side-combined groupBy(h) (also carrying each hash's first
    * occurrence via `min(struct(id, pos))`, lexicographic on the
    * struct) and one equi-join back; no h-partitioned window anywhere.
    * An earlier formulation ranked occurrences with `row_number()`
    * over `partitionBy(h)`, which sorted a pathological corpus-wide
    * boilerplate window inside ONE task — a straggler AQE cannot
    * split. The agg+join shape keeps that skewed contact in a join,
    * where AQE's skew-split applies, and inherits the aggressive
    * variant's dup-heavy SMJ fallback unchanged. Output is identical
    * by construction: for each duplicated hash, every occurrence
    * except the (doc, pos)-minimal one marks its positions. */
  def duplicatedSpansKeepFirst(df: DataFrame, textCol: String, idCol: String,
                               minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val winRows = windowHashRows(df, textCol, idCol, minLen)
    val firstOcc = winRows.groupBy(col("h"))
      .agg(count(lit(1)).as("_c"),
        min(struct(col(idCol).as("_i"), col("pos").as("_q"))).as("_f"))
      .filter(col("_c") >= 2)
      .select(col("h"), col("_f._i").as("_fid"), col("_f._q").as("_fpos"))
    val marked = winRows.join(firstOcc, "h")
      .filter(!(col(idCol) === col("_fid") && col("pos") === col("_fpos")))
    mergeWindowSpans(marked.select(col(idCol), col("pos")), idCol, minLen)
  }

  /** Persisted window-hash index for DELTA-vs-corpus substring probes:
    * distinct window hashes only — no text, no ids, no positions; 8
    * bytes per distinct window — laid out in `numBuckets` hash
    * partitions so a probe scans only the buckets its own windows
    * hash into. The substring analogue of [[writeMinhashIndex]]. */
  def writeSubstringIndex(df: DataFrame, textCol: String, idCol: String,
                          path: String, minLen: Int = 8,
                          numBuckets: Int = 64): Unit =
  {
    windowHashRows(df, textCol, idCol, minLen)
      .select(col("h")).distinct()
      .withColumn("bucket", pmod(col("h"), lit(numBuckets.toLong)))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    IndexConfig.writeIndexConfig(df.sparkSession, path,
      Seq("min_len" -> minLen.toLong, "num_buckets" -> numBuckets.toLong))
  }

  /** Incremental ExactSubstr: spans of `delta` documents whose
    * `minLen`-word windows already occur in the INDEXED corpus — the
    * span-level twin of [[incrementalNearDupIndexed]] (flag or cut
    * quoted corpus passages from a new crawl without touching corpus
    * text). `minLen` must match the index's. Bucket pruning is STATIC:
    * the delta's distinct buckets (≤ numBuckets values, driver-safe by
    * construction) become an isin filter on the index's partition
    * column, so a small delta reads only its own buckets. */
  def probeSubstringSpans(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, delta: DataFrame,
                          textCol: String, idCol: String, minLen: Int = 8,
                          numBuckets: Int = 64): DataFrame = {
    IndexConfig.validateIndexConfig(spark, indexPath,
      Seq("min_len" -> minLen.toLong, "num_buckets" -> numBuckets.toLong))
    val winRows = windowHashRows(delta, textCol, idCol, minLen)
      .withColumn("bucket", pmod(col("h"), lit(numBuckets.toLong)))
    val buckets = winRows.select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    val idx = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets: _*))
    mergeWindowSpans(
      winRows.join(idx, Seq("bucket", "h"), "left_semi"), idCol, minLen)
  }

  /** Apply any span cut-list frame ((doc_id, span_start, span_end) —
    * [[duplicatedSpans]], [[duplicatedSpansKeepFirst]], or
    * [[probeSubstringSpans]] output) to the documents: covered word
    * positions drop, everything else survives, span-free docs pass
    * through verbatim. Per-doc covered sets are doc-length bounded,
    * the contact is one doc-key equi-join — map-side after. */
  def applySpanCut(df: DataFrame, spans: DataFrame, textCol: String,
                   idCol: String): DataFrame = {
    // LINEAR reconstruction: per doc, sort its (few) spans, walk them
    // once with a running cursor to emit the KEPT gap intervals
    // (overlap-tolerant by construction), then slice+flatten the word
    // array over those gaps — O(words + spans) per doc, vs the
    // previous per-word array_contains over the covered set
    // (O(words x covered): quadratic on a heavily-cut long doc).
    // Still one doc-key equi-join, map-side after.
    val sp = spans
      .groupBy(col("doc_id").as(idCol))
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("_sp"))
    df.join(sp, Seq(idCol), "left")
      .withColumn("_sp", coalesce(col("_sp"),
        array().cast("array<struct<s:long,e:long>>")))
      .withColumn("_w", words(col(textCol)))
      .withColumn("_gaps", aggregate(
        col("_sp"),
        struct(lit(1L).as("cur"),
          array().cast("array<struct<gs:long,ge:long>>").as("gaps")),
        (st, s) => struct(
          greatest(st.getField("cur"), s.getField("e")).as("cur"),
          concat(st.getField("gaps"), array(struct(
            st.getField("cur").as("gs"),
            greatest(s.getField("s"), st.getField("cur")).as("ge"))))
            .as("gaps")),
        st => concat(st.getField("gaps"), array(struct(
          st.getField("cur").as("gs"),
          (size(col("_w")) + 1).cast("long").as("ge"))))))
      .withColumn(textCol, array_join(
        flatten(transform(col("_gaps"), g =>
          slice(col("_w"), g.getField("gs").cast("int"),
            greatest(g.getField("ge") - g.getField("gs"), lit(0L))
              .cast("int")))), " "))
      .drop("_sp", "_w", "_gaps")
  }

  /** [[applySpanCut]] of the [[duplicatedSpans]] cut-list: drop every
    * duplicated word position from EVERY document (the aggressive
    * variant; pair [[applySpanCut]] with
    * [[duplicatedSpansKeepFirst]] for the keep-one rule). */
  def cutDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                         minLen: Int): DataFrame =
    applySpanCut(df, duplicatedSpans(df, textCol, idCol, minLen),
      textCol, idCol)

  // ---------- near-dup clustering (connected components) ----------

  /** Group near-dup PAIRS into duplicate CLUSTERS: connected
    * components over the pair graph, cluster id = min doc id in the
    * component. This is the step every dedup pipeline needs after
    * pair generation — "keep one doc per cluster" is a groupBy on the
    * output.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round takes the per-node min over neighbor labels AND then
    * follows its own label one hop (label-of-label) — the jump squares
    * the effective propagation distance, so rounds needed is
    * O(log diameter), not O(diameter). Near-dup components are
    * stars/cliques of duplicates (diameter 2-4), so 2-3 rounds
    * converge even at corpus scale; the per-round convergence check is
    * one count over the (small) label frame.
    *
    * Returns (doc_id, cluster_id) for every doc appearing in >= 1
    * pair; singletons are their own implicit cluster and are omitted,
    * like the pair frames omit them. */
  /** Note on `maxIters`: it bounds the DISTRIBUTED loop's rounds
    * only. The fast path (pair count ≤ `localThreshold`) always
    * returns the fully converged fixpoint — callers that want
    * round-capped labels must pass `localThreshold = 0`. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          checkpointDir: Option[String] = None,
                          localThreshold: Long = 1L << 19): DataFrame = {
    // Fast path: the PAIR graph is decoupled from corpus size — a
    // 100 TB corpus with a sane dup rate still yields a driver-sized
    // pair list (pairs ≪ corpus). When the pair count is under
    // `localThreshold` (default 512k pairs: the collect plus the
    // union-find's boxed map is worst-case a few hundred MB of
    // transient driver heap — size the threshold to the driver, not
    // to the 8 bytes/long of the raw data), a driver union-find with
    // min-root labels replaces ~4 iterative rounds x 2 jobs each with
    // ONE collect — identical output (min-label is the same
    // fixpoint). The distributed pointer-jumping loop below remains
    // for genuinely huge graphs; pass localThreshold = 0 to force it.
    require(localThreshold < Int.MaxValue,
      s"localThreshold must be below ${Int.MaxValue}, got $localThreshold")
    val spark = pairs.sparkSession
    // normalized single-direction pair list
    val norm = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    // one bounded collect decides the path and, under the threshold,
    // is the fast path's input: at most localThreshold + 1 pairs reach
    // the driver
    val local = Option.when(localThreshold > 0)(norm.limit(localThreshold.toInt + 1).collect())
      .filter(_.length <= localThreshold)
    local match {
      case Some(rows) =>
        // union-find needs each pair once, not the doubled edge list
        val es = rows.map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min root wins -> labels are component minima
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val out = parent.keys.toSeq.sorted.map(id => (id, find(id)))
        // parallelize, don't embed a LocalRelation in the plan
        spark.createDataFrame(
          spark.sparkContext.parallelize(out,
            math.max(1, spark.sparkContext.defaultParallelism)))
          .toDF("doc_id", "cluster_id")
      case None => distributedComponents(norm, maxIters, checkpointDir)
    }
  }

  /** The iterative min-label + pointer-jumping loop over a normalized
    * (src, dst) pair frame. Checkpoint (not persist) per round: an
    * iterative plan re-OPTIMIZES its whole lineage on every action,
    * so after a few rounds Catalyst spends seconds re-planning the
    * upstream pipeline per round; checkpointing truncates the logical
    * plan to the materialized blocks. localCheckpoint() stores blocks
    * UNREPLICATED on executors — fastest, but one lost executor kills
    * the job; pass `checkpointDir` (HDFS/S3-visible) on a real
    * cluster for reliable checkpoints that survive executor loss. */
  private def distributedComponents(norm: DataFrame, maxIters: Int,
                                    checkpointDir: Option[String]): DataFrame = {
    checkpointDir.foreach(d => norm.sparkSession.sparkContext.setCheckpointDir(d))
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    val edges = norm
      .unionByName(norm.select(col("dst").as("src"), col("src").as("dst")))
      .transform(snap)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(snap)
    // labels only ever decrease, so sum(label) strictly decreases until
    // the fixpoint — convergence detection is one tiny aggregate, no
    // old-vs-new join
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nmin"))
      val stepped = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jump: adopt the label of the node my label points to —
      // every label is itself a node id, so the self-join is total
      val next = stepped
        .join(stepped.select(col("id").as("_pid"), col("label").as("_plabel")),
          stepped("label") === col("_pid"), "left")
        .select(stepped("id"),
          least(stepped("label"), coalesce(col("_plabel"), stepped("label"))).as("label"))
        .transform(snap)
      val s = labelSum(next)
      done = s == prevSum
      prevSum = s
      labels = next
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  // ---------- embedding cosine near-dup ----------

  /** Near-dup pairs by embedding cosine similarity >= tau, with
    * candidates bucketed by a coarse key (e.g. an LSH bucket or label)
    * so the self-join is per-bucket, never all-pairs. */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
                     bucketCol: Column, tau: Double): DataFrame = {
    import graft.functions.Vectors
    // normalize once per row before the join: each pair then costs one
    // dot product instead of a dot plus two norms
    val withB = df.select(col(idCol),
      Vectors.normalize(col(vecCol)).as("_nv"), bucketCol.as("bucket"))
    val a = withB.select(col("bucket"), col(idCol).as("id_a"), col("_nv").as("na"))
    val b = withB.select(col("bucket"), col(idCol).as("id_b"), col("_nv").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        least(greatest(Vectors.dot(col("na"), col("nb")), lit(-1.0)), lit(1.0)))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Forest-blocked embedding near-dup — [[embeddingPairs]] with the
    * single bucket's blind spot fixed: one LSH bucket misses any true
    * pair straddling a hyperplane (at 4 planes ~17% of cos=0.99
    * pairs); with L independent tables a pair is a candidate when it
    * agrees in ANY table, so recall compounds to 1-(1-p^bits)^L while
    * every self-join stays per-(table, bucket). Candidates are
    * (id_a, id_b) pairs deduped ACROSS tables before vectors attach —
    * a pair colliding in several tables is verified once. */
  def embeddingPairsForest(df: DataFrame, vecCol: String, idCol: String,
                           numTables: Int, bitsPerTable: Int, dim: Int,
                           tau: Double): DataFrame = {
    import graft.functions.Vectors
    import org.apache.spark.sql.expressions.Window
    // canonicalize-first (round 8): d exact copies of a vector share
    // every forest bucket, so a raw self-join squares candidates
    // O(d^2) on dup-heavy corpora (the default crawl shape). Collapse
    // exact-duplicate vectors to their min-id canonical before any
    // blocking, verify cosine once per canonical pair, then expand to
    // member pairs. Row-identical to the raw formulation: copies carry
    // their canonical's keys, so a member pair is a candidate iff its
    // canonicals share a bucket (or coincide), and the cos of an
    // own-group pair is dot(nv, nv) of the shared vector — the same
    // float expression the raw plan evaluates.
    val base = df.select(col(idCol), col(vecCol))
    // one vector-keyed agg (map-side partial min; a window would sort
    // and ship every row) — groups are (canonical id, member ids, vec)
    val groups = base.groupBy(col(vecCol))
      .agg(min(col(idCol)).as("_cid"), collect_list(col(idCol)).as("_mids"))
    val members = groups.select(col("_cid"), explode(col("_mids")).as(idCol))
    val canon = groups
      .select(col("_cid"), col(vecCol), size(col("_mids")).as("_gsz"))
    val keys = canon.select(col("_cid"),
      explode(graft.functions.MultiLshBuckets.keys(col(vecCol),
        numTables, bitsPerTable, dim)).as("fkey"))
    val cand = keys.select(col("fkey"), col("_cid").as("ca"))
      .join(keys.select(col("fkey"), col("_cid").as("cb")), Seq("fkey"))
      .filter(col("ca") < col("cb"))
      .select(col("ca"), col("cb")).distinct()
    val nv = canon.select(col("_cid"), Vectors.normalize(col(vecCol)).as("_nv"))
    val cpairs = cand
      .join(nv.select(col("_cid").as("ca"), col("_nv").as("na")), Seq("ca"))
      .join(nv.select(col("_cid").as("cb"), col("_nv").as("nb")), Seq("cb"))
      .withColumn("cos",
        least(greatest(Vectors.dot(col("na"), col("nb")), lit(-1.0)), lit(1.0)))
      .filter(col("cos") >= tau)
      .select(col("ca"), col("cb"), col("cos"))
    // cross-group expansion (groups are disjoint, so ids never collide;
    // orientation re-normalized to id_a < id_b)
    val ma = members.select(col(idCol).as("_mid"), col("_cid"))
    val cross = cpairs
      .join(ma.select(col("_mid").as("_ax"), col("_cid").as("ca")), Seq("ca"))
      .join(ma.select(col("_mid").as("_bx"), col("_cid").as("cb")), Seq("cb"))
      .select(least(col("_ax"), col("_bx")).as("id_a"),
        greatest(col("_ax"), col("_bx")).as("id_b"), col("cos"))
    // own-group pairs: exact copies, cos = dot(nv, nv) (clamped) — only
    // emitted if it clears tau, matching the raw plan's filter
    val selfcos = canon.filter(col("_gsz") > 1)
      .select(col("_cid"), {
        val v = Vectors.normalize(col(vecCol))
        least(greatest(Vectors.dot(v, v), lit(-1.0)), lit(1.0)).as("cos")
      })
      .filter(col("cos") >= tau)
    val own = selfcos
      .join(ma, Seq("_cid"))
      .join(ma.select(col("_mid").as("_bm"), col("_cid")), Seq("_cid"))
      .filter(col("_mid") < col("_bm"))
      .select(col("_mid").as("id_a"), col("_bm").as("id_b"), col("cos"))
    cross.unionByName(own)
  }

  /** End-to-end semantic dedup: forest-blocked cosine near-dup pairs
    * ([[embeddingPairsForest]]) → connected components → one canonical
    * keeper per cluster (the cluster's min id — the same label the
    * component fixpoint already carries, so "pick the keeper" costs
    * nothing extra). Every corpus row comes back labeled:
    * `(id, cluster_id, keep)`, singletons being their own cluster with
    * `keep = true`.
    *
    * Scale shape: the pair graph is decoupled from corpus size (near
    * dups ≪ corpus at a sane dup rate), so the cluster frame is small;
    * the label join back onto the corpus is a corpus-sized equi-join
    * against a frame AQE will broadcast. No stage touches all-pairs,
    * no global window anywhere. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    numTables: Int, bitsPerTable: Int, dim: Int, tau: Double,
                    checkpointDir: Option[String] = None): DataFrame = {
    val pairs = embeddingPairsForest(df, vecCol, idCol,
      numTables, bitsPerTable, dim, tau)
    val clusters = connectedComponents(
      pairs.select(col("id_a"), col("id_b")), checkpointDir = checkpointDir)
    val cid = coalesce(col("cluster_id"), col(idCol).cast("long"))
    df.select(col(idCol))
      .join(clusters.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol), cid.as("cluster_id"),
        (col(idCol).cast("long") === cid).as("keep"))
  }

  /** Quality-aware keep-BEST near-dup resolution — the production
    * keep rule: per duplicate cluster, keep the member with the
    * HIGHEST quality score (longest text, best classifier score, …)
    * instead of the arbitrary min id that [[semanticDedup]]'s
    * canonical-keeper rule uses. Takes ANY pair frame (`id_a`,
    * `id_b`) — minhash, simhash, embedding, containment — plus a
    * per-id score frame, so any dedup family composes with any
    * quality signal. Ties break to the min id; ids missing a score
    * (NULL) lose to any scored member, and an all-NULL cluster falls
    * back to min id — the keep-first rule.
    *
    * Scale shape: identical to [[semanticDedup]] — clusters are
    * pair-graph-sized (decoupled from the corpus); the two label
    * joins against the corpus are equi-joins AQE will broadcast; the
    * winner is two keyed aggs over cluster-sized frames, never a
    * window over the corpus. Use an INTEGER score (token count, char
    * count, quantized classifier score) when the output must be
    * engine-reproducible: max-score equality is then exact.
    *
    * Output: (idCol, cluster_id, keep, scoreCol) — one row per corpus
    * row, singletons keeping themselves. */
  def dedupKeepBest(corpus: DataFrame, idCol: String, pairs: DataFrame,
                    scores: DataFrame, scoreCol: String,
                    checkpointDir: Option[String] = None): DataFrame = {
    val clusters = connectedComponents(
      pairs.select(col("id_a"), col("id_b")), checkpointDir = checkpointDir)
    val cid = coalesce(col("cluster_id"), col(idCol).cast("long"))
    val labeled = corpus.select(col(idCol))
      .join(clusters.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol), cid.as("cluster_id"))
      .join(scores.select(col(idCol), col(scoreCol).as("_score")),
        Seq(idCol), "left")
    // winner = max score then min id, as two keyed aggs: the score
    // comparison stays on exact values (never a float re-derivation),
    // and <=> lets an all-NULL cluster match its NULL max
    val mx = labeled.groupBy(col("cluster_id")).agg(max(col("_score")).as("_mx"))
    val win = labeled.join(mx, Seq("cluster_id"))
      .filter(col("_score") <=> col("_mx"))
      .groupBy(col("cluster_id")).agg(min(col(idCol)).as("_wid"))
    labeled.join(win, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"),
        (col(idCol) === col("_wid")).as("keep"),
        col("_score").as(scoreCol))
  }

  /** SOFT dedup: keep every document but DOWNWEIGHT duplicates —
    * each doc's training weight is `1 / cluster_size` over the
    * near-dup components, so a 10-copies cluster contributes one
    * document's worth of gradient in aggregate (the SlimPajama-style
    * alternative to dropping: dropping loses the distributional
    * signal that a document was crawled 10× — sometimes that IS the
    * quality signal). Singletons weigh 1.0.
    *
    * Scale shape: [[connectedComponents]] over the pair-graph-sized
    * frame, one cluster-keyed count (map-side partials over
    * cluster-sized groups), weights attach by one equi-join back to
    * the corpus spine. The weight divides two exact integers, so it
    * reproduces in any engine. Output: (idCol, cluster_id, dup_count,
    * weight) — one row per corpus doc.
    *
    * Ids must be long-castable — [[connectedComponents]]' implicit
    * contract, enforced here explicitly (ADVICE r12): a non-castable
    * string id would cast to NULL for every singleton, silently
    * collapsing all singletons into one NULL cluster weighted
    * 1/(#singletons) instead of 1.0. The row that would do that
    * raises instead. */
  def dedupSoft(corpus: DataFrame, idCol: String, pairs: DataFrame,
                checkpointDir: Option[String] = None): DataFrame = {
    val clusters = connectedComponents(
      pairs.select(col("id_a"), col("id_b")), checkpointDir = checkpointDir)
    // validate the id on the corpus spine BEFORE the join, via
    // try_cast (not cast) so the failure mode is OURS under any ANSI
    // setting: ANSI-on cast would throw a bare CAST_INVALID_INPUT
    // from inside the join's shuffle, ANSI-off cast would silently
    // NULL every singleton into one collapsed cluster — try_cast +
    // raise_error gives the contract message in both worlds, and the
    // join then runs on the long key with no implicit cast at all
    val idl = coalesce(expr(s"try_cast(`$idCol` AS LONG)"),
      raise_error(concat(
        lit("dedupSoft requires a long-castable id "
          + "(the connectedComponents contract); got: "),
        // coalesce: concat is null-propagating, so a NULL id would
        // otherwise raise with a null message instead of the contract
        // explanation (ADVICE r13)
        coalesce(col(idCol).cast("string"), lit("NULL")))))
    val labeled = corpus.select(col(idCol), idl.as("_idl"))
      .join(clusters.withColumnRenamed("doc_id", "_idl"), Seq("_idl"), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col("_idl"))
        .as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("dup_count"))
    labeled.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("dup_count"),
        (lit(1.0) / col("dup_count")).as("weight"))
  }

  /** Corpus-wide keep-FIRST passage dedup (the C4/RefinedWeb repeated-
    * span rule): cut every document into non-overlapping `chunkWords`-
    * word chunks, keep only the globally EARLIEST occurrence of each
    * distinct chunk (min `(id, pos)` across the corpus), drop every
    * later copy — including repeats inside the same document — and
    * rebuild the text in document order.
    *
    * Complements [[graft.operators.TextAnalysis.removeBoilerplate]]:
    * that drops ALL copies of a high-df chunk (nobody keeps the
    * license block); this keeps exactly ONE copy of every chunk (the
    * corpus keeps one instance of each repeated passage).
    *
    * Scale shape: the chunk grid is arithmetic (no per-element
    * re-split); the winner per chunk is `min(struct(id, pos))` — one
    * keyed agg with map-side partial min, never a window over raw
    * occurrences; the keep decision is a chunk-keyed equi-join whose
    * fanout is the chunk's df (bounded, AQE handles the skewed empty/
    * common chunks); the rebuild is doc-keyed. All-duplicate documents
    * survive with empty `clean_text` — the operator never drops rows. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
                     chunkWords: Int): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be > 0, got $chunkWords")
    val c = chunkWords
    val chunks = df
      .select(col(idCol), words(coalesce(col(textCol), lit(""))).as("_w"))
      .select(col(idCol),
        transform(
          sequence(lit(0), (ceil(size(col("_w")) / lit(c.toDouble))).cast("int") - 1),
          b => concat_ws(" ", slice(col("_w"), b * c + 1, lit(c)))).as("_chunks"))
      .select(col(idCol), posexplode(col("_chunks")).as(Seq("pos", "chunk")))
    val winners = chunks.groupBy(col("chunk"))
      .agg(min(struct(col(idCol), col("pos"))).as("_first"))
    chunks.join(winners, Seq("chunk"))
      .withColumn("_keep", struct(col(idCol), col("pos")) === col("_first"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(!col("_keep"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"),
              struct(col("pos"), col("chunk"))))),
            s => s("chunk")), " ").as("clean_text"))
  }
}
