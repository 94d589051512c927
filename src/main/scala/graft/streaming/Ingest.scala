package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming twins of the batch surface: continuous ingest
  * (the streaming analogue of the reference's REST upsert endpoint),
  * windowed aggregation, and stateful sessionization.
  *
  * These operate on unbounded sources (`readStream`) with event-time
  * watermarks, so state stores stay bounded: late data beyond the
  * watermark is dropped, window state is evicted once finalized.
  */
object Ingest {

  /** Streaming upsert dedup: keep the first arrival per id within the
    * watermark horizon (the streaming twin of Crud.upsert's
    * latest-wins for an append-only id stream). */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
                  watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(Seq(idCol))

  /** Streaming exact CONTENT dedup: keep the first arrival per
    * distinct text within the watermark horizon — the ingest-time
    * twin of [[graft.operators.Dedup.exactDedup]] (dedup by what the
    * document SAYS, not which id carried it). State per distinct md5
    * is bounded by the watermark. */
  def contentDedupStream(docs: DataFrame, textCol: String, tsCol: String,
                         watermark: String): DataFrame =
    docs.withColumn("_thash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicates(Seq("_thash"))
      .drop("_thash")

  /** Streaming tumbling-window aggregation — same shape as
    * Events.windowedAgg, plus a watermark so state is evictable. */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowDuration: String,
                  watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n_events"), col("sum_value"))

  /** Streaming twin of [[graft.operators.Events.kmvDistinct]]:
    * windowed distinct-count sketch per key over an event stream —
    * "how many distinct users did each type see this hour", live.
    * The KMV aggregate is a [[graft.functions.KmvAgg]] merge-able
    * buffer, so it runs inside a watermarked streaming agg exactly
    * like count(): the state per (window, key) group is ≤ k longs,
    * and the estimate matches the batch operator on the same rows
    * (same hashes, same (k−1)/frac(h_k) arithmetic — spec-pinned). */
  def kmvDistinctStream(events: DataFrame, tsCol: String, keyCol: String,
                        valueCol: String, windowDuration: String,
                        watermark: String, k: Int, seed: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed + "_"),
      col(valueCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val kk = lit(k.toLong)
    events.withWatermark(tsCol, watermark)
      .select(window(col(tsCol), windowDuration).as("w"), col(keyCol), h.as("_h"))
      .groupBy(col("w"), col(keyCol))
      .agg(graft.functions.KmvAgg.kmv(col("_h"), k).as("_mins"))
      .select(col("w.start").as("window_start"), col(keyCol),
        size(col("_mins")).cast("long").as("n_sketch"),
        when(size(col("_mins")) < kk,
            size(col("_mins")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("_mins"), k).cast("double") / lit(math.pow(2.0, 60))))
          .as("est_distinct"))
  }

  /** Live rolling `windowDays`-day distinct count — the streaming twin
    * of [[graft.operators.Events.rollingDistinct]] (the WAU line on a
    * live dashboard): each arriving event fans out STATELESSLY to the
    * `windowDays` target days it covers (synthesized event time = the
    * target day), and one watermarked daily [[graft.functions.KmvAgg]]
    * per target day absorbs the overlap — ≤ k longs of state per open
    * day. The watermark must span the window width plus the event
    * lateness bound (a day's sketch accepts contributions from events
    * up to `windowDays − 1` days before it, whose synthesized times
    * run ahead of their arrival): pass e.g. "8 days" for a 7-day
    * window with 1 day of lateness. Unlike the batch operator, the
    * stream emits EVERY covered target day (it cannot know which
    * future days will observe events); rows for days the batch
    * operator reports are value-identical (spec-pinned — the sketch
    * is set-semantics, so arrival order and batch boundaries cannot
    * move it). */
  def rollingDistinctStream(events: DataFrame, tsCol: String,
                            valueCol: String, windowDays: Int,
                            watermark: String, k: Int,
                            seed: String): DataFrame = {
    require(windowDays > 0, s"windowDays must be > 0, got $windowDays")
    val h = conv(substring(md5(concat(lit(seed + "_"),
      col(valueCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val kk = lit(k.toLong)
    events
      .select(explode(sequence(lit(0), lit(windowDays - 1))).as("_i"),
        col(tsCol), h.as("_h"))
      .select(to_timestamp(date_add(to_date(col(tsCol)), col("_i"))).as("_t"),
        col("_h"))
      .withWatermark("_t", watermark)
      .select(window(col("_t"), "1 day").as("w"), col("_h"))
      .groupBy(col("w"))
      .agg(graft.functions.KmvAgg.kmv(col("_h"), k).as("_mins"))
      .select(col("w.start").cast("date").as("day"),
        size(col("_mins")).cast("long").as("n_sketch"),
        when(size(col("_mins")) < kk,
            size(col("_mins")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("_mins"), k).cast("double") / lit(math.pow(2.0, 60))))
          .as("est_distinct"))
  }

  /** Live per-window sampled quantiles — the streaming twin of
    * [[graft.operators.Events.quantiles]]: the SAME
    * [[graft.functions.SampleValuesAgg]] buffer runs inside a
    * watermarked windowed agg, so state is ≤ k (hash, value) pairs per
    * (window, key) group and the emitted quantiles equal the batch
    * operator on the same rows (spec-pinned — the k-min-hash sample is
    * order-insensitive, so micro-batch arrival order cannot move it). */
  def quantilesStream(events: DataFrame, tsCol: String, keyCol: String,
                      valCol: String, idCol: String, windowDuration: String,
                      watermark: String, k: Int, qs: Seq[Double],
                      seed: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed + "_"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    events.withWatermark(tsCol, watermark)
      .filter(col(valCol).isNotNull)
      .select(window(col(tsCol), windowDuration).as("w"), col(keyCol),
        h.cast("double").cast("long").as("_h"), col(valCol).as("_v"))
      .groupBy(col("w"), col(keyCol))
      .agg(graft.functions.SampleValuesAgg
        .sampleValues(col("_h"), col("_v"), k).as("_vs"))
      .select(col("w.start").as("window_start"), col(keyCol),
        explode(typedlit(qs)).as("quantile"), col("_vs"))
      .select(col("window_start"), col(keyCol), col("quantile"),
        element_at(col("_vs"),
          (floor(col("quantile") * (size(col("_vs")) - 1)) + 1).cast("int"))
          .as("value"))
  }

  /** Continuous BM25 inverted-index build — the streaming twin of
    * [[graft.operators.Search.writeTextIndex]]: each arriving
    * document fans out to its (id, term, tf, dl) posting rows
    * IN-FLIGHT — tf is a function of the single document row
    * (`transform(array_distinct(w), t -> size(filter(w, = t)))`), so
    * the build is a stateless projection + explode with NO state
    * store, landing term-bucket-partitioned exactly where
    * [[graft.operators.Search.bm25Indexed]] prunes. Corpus stats
    * (N, Σdl) cannot be maintained statelessly, so each doc also
    * appends one (id, dl) row to `path + "_docs"`; probe with
    * `bm25Indexed(..., statsFromDocs = true)`, which aggregates that
    * narrow two-column table instead of reading a frozen stats row.
    * Returns (postings query, docs query); the caller owns both. */
  def textIndexStream(docs: DataFrame, textCol: String, idCol: String,
                      path: String, checkpoint: String,
                      numBuckets: Int = 64)
                     : (org.apache.spark.sql.streaming.StreamingQuery,
                        org.apache.spark.sql.streaming.StreamingQuery) = {
    import graft.operators.Dedup
    val w = Dedup.words(coalesce(col(textCol), lit("")))
    val postings = docs
      .withColumn("_w", w)
      .select(col(idCol), size(col("_w")).cast("long").as("dl"),
        explode(transform(array_distinct(col("_w")),
          t => struct(t.as("term"),
            size(filter(col("_w"), x => x === t)).cast("long").as("tf")))).as("_p"))
      .select(col(idCol), col("_p.term").as("term"), col("_p.tf").as("tf"),
        col("dl"),
        pmod(Dedup.hash64(col("_p.term")), lit(numBuckets.toLong)).as("term_bucket"))
    val docsQuery = docs.withColumn("_w", w)
      .select(col(idCol), size(col("_w")).cast("long").as("dl"))
      .writeStream.format("parquet")
      .option("path", path + "_docs")
      .option("checkpointLocation", checkpoint + "_docs")
      .outputMode(OutputMode.Append())
      .start()
    val postingsQuery = postings.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("term_bucket")
      .outputMode(OutputMode.Append())
      .start()
    (postingsQuery, docsQuery)
  }

  /** Continuous FOREST index build — the streaming twin of
    * AnnLsh.writeForestIndex: each arriving record fans out to its L
    * (id, fkey) index rows in-flight (stateless projection + explode,
    * no state store) and lands fkey-partitioned, so
    * AnnLsh.knnForestIndexed probes a live, growing forest index with
    * partition pruning. Vectors are NOT duplicated into the index —
    * pair the query with a plain record sink for the base table. */
  def forestIndexStream(records: DataFrame, vecCol: String, idCol: String,
                        numTables: Int, bitsPerTable: Int, dim: Int,
                        path: String, checkpoint: String)
                       : org.apache.spark.sql.streaming.StreamingQuery =
    records
      .select(col(idCol), explode(graft.functions.MultiLshBuckets
        .keys(col(vecCol), numTables, bitsPerTable, dim)).as("fkey"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("fkey")
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming delta-vs-corpus near-dup gate — the continuous twin of
    * [[graft.operators.Dedup.incrementalNearDupIndexed]]: every
    * arriving document probes a static
    * [[graft.operators.Dedup.writeMinhashIndex]] table and the stream
    * emits one row per VERIFIED corpus near-dup (doc id, event time,
    * matched corpus id `cid`, exact `jaccard`) — the alert/drop feed
    * an ingest pipeline subscribes to. A novel document emits
    * nothing.
    *
    * Scale shape: signatures and band keys are stateless projections
    * riding the stream; candidate generation and verification are
    * stream-STATIC equi-joins against the index's band and set files
    * (no stream-stream join, no watermark coupling); the only state
    * store is the final per-(doc, cid) dedup via
    * `dropDuplicatesWithinWatermark` — plain `dropDuplicates` only
    * evicts state when the event-time column is PART of the key set,
    * so keying on (doc, cid) alone would grow the store without bound;
    * the within-watermark variant expires each (doc, cid) entry once
    * the watermark passes its event time. A doc's band rows arrive in
    * its own micro-batch, so the horizon only needs to cover late
    * REPLAYS, not matching logic. Corpus text is read zero times,
    * exactly like the batch indexed path. */
  def nearDupStream(spark: SparkSession, docs: DataFrame, textCol: String,
                    idCol: String, tsCol: String, watermark: String,
                    indexPath: String, numHashes: Int = 16, bands: Int = 4,
                    shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    import graft.operators.{Dedup, IndexMaintenance}
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val (as, bs) = Dedup.minhashConsts(numHashes)
    // same tombstone contract as the batch indexed probe: deleted
    // corpus docs must not claim streaming docs as their dups
    val corpusBands = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(s"$indexPath/bands").withColumnRenamed(idCol, "cid"),
      "cid")
    val corpusSets = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(s"$indexPath/sets"), "sid")
      .select(col("sid").as("cid"), col("shs").as("_ca"))
    val sets = Dedup.shingleSets(docs, textCol, idCol, shingleN,
      carry = Seq(tsCol))
    val sigs = sets.filter(size(col("shs")) > 0)
      .select(col("sid"), col(tsCol), col("shs"),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, Dedup.MINHASH_M).as("sig"))
    val streamBands = Dedup.bandKeys(sigs, "sid", "sid", bands,
      numHashes / bands, carry = Seq(tsCol, "shs"))
    streamBands
      .join(corpusBands, Seq("band", "key"))
      .join(corpusSets, Seq("cid"))
      .filter(least(size(col("shs")), size(col("_ca"))).cast("double") /
        greatest(size(col("shs")), size(col("_ca"))) >= threshold)
      .withColumn("_i", size(array_intersect(col("shs"), col("_ca"))).cast("long"))
      .withColumn("jaccard", col("_i").cast("double") /
        (size(col("shs")) + size(col("_ca")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("sid").as(idCol), col(tsCol), col("cid"), col("jaccard"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol, "cid"))
  }

  case class TypedEv(event_id: Long, ts: Timestamp, user_id: Long,
                     event_type: String, value: Double)
  case class AsofState(id: Long, ts: Long, value: Double)
  case class AsofOut(event_id: Long, ts: Timestamp, user_id: Long, value: Double,
                     prior_id: Option[Long], prior_ts: Option[Timestamp],
                     prior_value: Option[Double])

  /** Streaming as-of join — the continuous twin of
    * [[graft.operators.Events.asofJoin]]: every arriving `leftType`
    * event is emitted with the latest `rightType` event of the same
    * user AT OR BEFORE it ((ts, id) order — a prior is attached only
    * when it does not lie in the left event's future, so the as-of
    * invariant `prior_ts <= ts` always holds). State per user is O(1)
    * (just the newest right event); within a micro-batch events apply
    * in (ts, id) order, and a stale right event arriving late never
    * regresses the state. Exact equivalence with the batch operator
    * holds when events arrive in event-time order per user — a left
    * event arriving late (behind an already-seen newer right event)
    * gets NO prior rather than a wrong future one, because O(1) state
    * cannot retain the older right events.
    *
    * Unlike the watermark operators above, per-user state here never
    * expires on its own — pass `idleTimeout` to evict users idle
    * longer than the TTL (their next left event then sees no prior:
    * bounded staleness buys a bounded state store on open-ended user
    * spaces). The default NoTimeout keeps tests deterministic. */
  def asofStream(events: DataFrame, leftType: String, rightType: String,
                 idleTimeout: Option[java.time.Duration] = None)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // filter BEFORE the stateful shuffle: only the two participating
    // types pay for serialization + per-user iteration (the batch
    // twin filters before its window shuffle the same way)
    events.filter(col("event_type").isin(leftType, rightType)).as[TypedEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), timeoutConf)(
        asofGroupFn(leftType, rightType, idleTimeout.map(_.toMillis)))
      .toDF()
  }

  /** The per-user state transition of [[asofStream]], extracted so
    * the timeout branch is unit-testable via `TestGroupState`. */
  private[graft] def asofGroupFn(leftType: String, rightType: String,
                                 ttlMs: Option[Long])
      (key: Long, evs: Iterator[TypedEv],
       state: GroupState[AsofState]): Iterator[AsofOut] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = scala.collection.mutable.ListBuffer[AsofOut]()
      var cur = state.getOption
      def notAfter(s: AsofState, e: TypedEv): Boolean =
        s.ts < e.ts.getTime || (s.ts == e.ts.getTime && s.id <= e.event_id)
      evs.toSeq
        .sortBy(e => (e.ts.getTime, e.event_id))
        .foreach { e =>
          if (e.event_type == leftType) {
            val prior = cur.filter(notAfter(_, e))
            out += AsofOut(e.event_id, e.ts, e.user_id, e.value,
              prior.map(_.id), prior.map(s => new Timestamp(s.ts)),
              prior.map(_.value))
          }
          if (e.event_type == rightType &&
              cur.forall(s => e.ts.getTime > s.ts ||
                (e.ts.getTime == s.ts && e.event_id >= s.id)))
            cur = Some(AsofState(e.event_id, e.ts.getTime, e.value))
        }
      cur.foreach(state.update)
      ttlMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
  }

  case class Ev(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Streaming quality funnel — the continuous twin of
    * [[graft.operators.TextAnalysis.filterFunnel]] for a document
    * ingest stream. The funnel is pure map-side (per-row signals,
    * first-fail verdict), so it applies to an unbounded stream with
    * ZERO state: no watermark, no store, nothing to evict — a crawl
    * can gate documents at ingest rate on every executor. */
  def funnelStream(docs: DataFrame, textCol: String, minTokens: Int,
                   maxTokens: Int, keepLangs: Seq[String],
                   minStop: Double): DataFrame =
    graft.operators.TextAnalysis.filterFunnel(
      docs, textCol, minTokens, maxTokens, keepLangs, minStop)

  /** Streaming twin of [[graft.operators.TextAnalysis.gopherRules]]:
    * the Gopher rule bundle over a document ingest stream. Every
    * rule is a per-row signal (pure map-side), so like
    * [[funnelStream]] it rides the stream with ZERO state — verdicts
    * at ingest rate, bit-identical to the batch gate regardless of
    * micro-batch splits (spec-pinned). */
  def gopherStream(docs: DataFrame, textCol: String, idCol: String,
                   minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    graft.operators.TextAnalysis.gopherRules(docs, textCol, idCol,
      minWords, maxWords)

  /** Streaming twin of [[graft.operators.Url.normalize]] +
    * registrable-domain extraction: the crawl-ingest projection —
    * url_norm, host, domain per record as it lands, upstream of any
    * text signal. Pure map-side string expressions (the suffix rule
    * table folds into the plan as a when-chain), so like
    * [[funnelStream]] it rides the stream with ZERO state and is
    * bit-identical to the batch operator regardless of micro-batch
    * splits (spec-pinned). The domain-keyed roll-ups (domain_profile,
    * dedupFetches) stay batch/windowed consumers of this stream's
    * sink — they are keyed aggregations, not per-record gates. */
  def urlStream(docs: DataFrame, urlCol: String): DataFrame =
    graft.operators.Url.normalize(docs, urlCol)
      .withColumn("domain",
        graft.operators.Url.registrableDomain(org.apache.spark.sql.functions.col("host")))

  /** Canonical-URL fetch dedup at ingest rate — the stateful twin of
    * [[graft.operators.Url.dedupFetches]]' keep-first collapse:
    * normalize map-side ([[urlStream]]'s expressions), then keep the
    * FIRST fetch per normalized url within the watermark horizon
    * (the [[dedupStream]]/[[contentDedupStream]] pattern keyed on
    * the crawl's natural key). State = one entry per distinct
    * resource inside the horizon, evicted at the watermark — the
    * frontier dedup a crawler actually runs, where "have I fetched
    * this resource recently" IS the horizon question —
    * `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`: the
    * plain form never evicts key state (the watermark only bounds
    * lateness), so a long-running frontier would grow one state entry
    * per url ever seen and a legitimate refetch a day later would be
    * dropped forever (review r19). First-arrival equals the batch
    * operator's min-id whenever ingest is id-ordered (a fetch log's
    * natural order); StreamingSpec pins the kept (url_norm, id) set
    * bit-equal to the batch keep set across arbitrary micro-batch
    * splits. */
  def urlDedupStream(fetches: DataFrame, urlCol: String, tsCol: String,
                     watermark: String): DataFrame =
    fetches
      .withColumn("url_norm",
        graft.operators.Url.normalizeCol(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("url_norm"))

  /** The distilled [[graft.operators.Boost]] gate at ingest rate: the
    * quality signals are per-row computations and the stump committee
    * vote is one map-side integer expression over the driver-trained
    * model — ZERO state, so verdicts are bit-identical to the batch
    * scorer regardless of micro-batch splits (spec-pinned). This is
    * the deployment the rule-distillation trade exists for: the
    * expensive labeling runs once in batch, the cheap committee rides
    * every stream. */
  def boostGateStream(docs: DataFrame, textCol: String, idCol: String,
                      model: graft.operators.Boost.BoostModel): DataFrame =
    graft.operators.Boost.scoreStumps(
      graft.operators.Boost.qualitySignals(docs, textCol, idCol),
      model, Seq(idCol))

  /** The calibrated gate at ingest rate — [[boostGateStream]]'s twin
    * for the logistic member: the model trains ONCE in batch
    * ([[graft.operators.Logit.train]], 1 + |features| doubles by
    * contract) and rides every micro-batch as expression literals;
    * signals and the z/prob/pred projection are pure map-side — ZERO
    * state, zero joins, so micro-batch boundaries cannot move any
    * verdict (spec-pinned bit-equal to the batch scorer across
    * arbitrary splits). Unlike the committee's vote, `prob` is a
    * calibrated confidence a downstream sampler can consume directly. */
  def logitGateStream(docs: DataFrame, textCol: String, idCol: String,
                      model: graft.operators.Logit.LogitModel): DataFrame =
    graft.operators.Logit.score(
      graft.operators.Boost.qualitySignals(docs, textCol, idCol),
      model, Seq(idCol))

  /** DSIR importance weighting at ingest rate: the bucket→logratio
    * model trains ONCE in batch ([[graft.operators.Sampling.trainDsir]]
    * — both training corpora reduce to bucket-count tables) and rides
    * every micro-batch as one array literal; each document's log
    * weight is the same order-pinned map-side fold as the batch
    * operator — ZERO state, zero joins, spec-pinned bit-equal to
    * [[graft.operators.Sampling.dsirWeights]] regardless of
    * micro-batch splits. The continuous half of "make the crawl look
    * like the target": weigh documents the moment they arrive. */
  def dsirStream(docs: DataFrame, textCol: String, idCol: String,
                 model: Array[Double]): DataFrame =
    graft.operators.Sampling.dsirScoreAll(docs, idCol, textCol, model)

  /** Stateful gap-based sessionization via flatMapGroupsWithState:
    * emits a session when no event arrives within the gap (processing-
    * time timeout). State per user is O(1). Pass
    * `GroupStateTimeout.NoTimeout` to close sessions only on arrival
    * of a later event (deterministic, used by tests — with a real
    * timeout `processAllAvailable` never settles). */
  def sessionize(events: DataFrame, gapMinutes: Int,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        case (user, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum))
          } else {
            var cur = state.getOption
            val closed = scala.collection.mutable.ListBuffer[SessionOut]()
            evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed += SessionOut(user, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach(state.update)
            if (useTimeout) state.setTimeoutDuration(gapMs)
            closed.iterator
          }
      }.toDF()
  }

  case class PathEv(user_id: Long, ts: Timestamp, event_id: Long,
                    event_type: String)
  case class PathState(ts: Long, id: Long, tpe: String)
  case class PathOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of [[graft.operators.Events.topPaths]]: every
    * arriving event emits one (from_type, to_type) TRANSITION row
    * against the same user's previous event — the unbounded feed a
    * path dashboard aggregates with [[topPathsFrom]]. State per user
    * is O(1) (the (ts, id, type) frontier), so the store is bounded by
    * the live-user count, not event volume. Within a micro-batch
    * events apply in (ts, id) order; an event arriving BEHIND the
    * user's frontier is dropped (emitting it would fabricate a
    * transition the batch (ts, id)-ordered window never produces), so
    * under in-order per-user delivery the transition multiset equals
    * the batch operator's exactly — spec-pinned across batch splits. */
  def pathsStream(events: DataFrame)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.as[PathEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[PathState]) =>
          val out = scala.collection.mutable.ListBuffer[PathOut]()
          var cur = state.getOption
          evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (cur.forall(s => t > s.ts || (t == s.ts && e.event_id > s.id))) {
              cur.foreach(s => out += PathOut(user, s.tpe, e.event_type))
              cur = Some(PathState(t, e.event_id, e.event_type))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF()
  }

  /** Batch roll-up of a [[pathsStream]] transition sink into the exact
    * [[graft.operators.Events.topPaths]] report (same schema, same
    * deterministic tiebreak). */
  def topPathsFrom(transitions: DataFrame, k: Int): DataFrame =
    transitions
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type").asc, col("to_type").asc)
      .limit(k)

  case class AnomEv(ts: Timestamp, event_type: String)
  case class AnomState(day: Int, cnt: Long, n: Long, s: Double, s2: Double)
  case class AnomOut(event_type: String, day: java.sql.Date, n_events: Long,
                     zscore: Option[Double], is_anomaly: Boolean)

  /** Streaming twin of [[graft.operators.Events.volumeAnomaly]], with
    * the one semantic shift a LIVE monitor wants: each day's z-score
    * is computed against the STRICTLY-PRIOR completed days' population
    * mean/variance ("is today unusual vs history so far"), where the
    * batch operator normalizes against the full corpus including the
    * day itself. A day closes when a later day's first event arrives
    * (the sessionize NoTimeout pattern — deterministic under
    * processAllAvailable); the still-open day is not emitted. State
    * per type is five numbers (open day, its count, and the prior
    * days' n/Σ/Σ²) — O(1), independent of history length. Days with
    * <1 prior day or zero prior variance emit a null z and
    * is_anomaly=false, mirroring the batch null semantics. Late
    * events behind the open day are dropped (in-order per-type
    * delivery is the documented contract, as with the other twins). */
  def anomalyStream(events: DataFrame, threshold: Double = 2.0)
                   (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.as[AnomEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tpe, evs, state: GroupState[AnomState]) =>
          def day(t: Timestamp): Int =
            t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
              .toEpochDay.toInt
          def date(d: Int): java.sql.Date =
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
          val out = scala.collection.mutable.ListBuffer[AnomOut]()
          var cur = state.getOption
          def close(s: AnomState): AnomState = {
            val z = if (s.n > 0) {
              val mean = s.s / s.n
              val v = s.s2 / s.n - mean * mean
              if (v > 0) Some((s.cnt.toDouble - mean) / math.sqrt(v)) else None
            } else None
            out += AnomOut(tpe, date(s.day), s.cnt, z,
              z.exists(math.abs(_) >= threshold))
            AnomState(s.day, s.cnt, s.n + 1, s.s + s.cnt,
              s.s2 + s.cnt.toDouble * s.cnt)
          }
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val d = day(e.ts)
            cur match {
              case None => cur = Some(AnomState(d, 1L, 0L, 0.0, 0.0))
              case Some(s) if d == s.day => cur = Some(s.copy(cnt = s.cnt + 1))
              case Some(s) if d > s.day =>
                val folded = close(s)
                cur = Some(folded.copy(day = d, cnt = 1L))
              case _ => () // late event behind the open day: dropped
            }
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF()
  }

  case class SubWin(doc_id: Long, pos: Int, bucket: Long, h: Long)
  case class SubSpan(doc_id: Long, span_start: Long, span_end: Long,
                     span_words: Long)

  /** Streaming quoted-passage gate over a
    * [[graft.operators.Dedup.writeSubstringIndex]] table — the
    * span-level twin of [[nearDupStream]]: every arriving document
    * emits the spans of its text whose `minLen`-word windows already
    * occur in the indexed corpus (verbatim quotes a crawl should cut
    * or flag at ingest). Emits nothing for novel docs; delta-internal
    * repetition stays silent, exactly like the batch probe —
    * spec-pinned equal to [[graft.operators.Dedup.probeSubstringSpans]]
    * on the same rows.
    *
    * Scale shape: window hashes compute ROW-LOCALLY (`hash64Local`,
    * spec-pinned == the Spark-side `hash64` — SQL window functions are
    * unavailable on streams), the corpus contact is a stream-static
    * left-semi equi-join on (bucket, h) against 8-byte index rows, and
    * span merging runs per doc inside one stateless
    * flatMapGroupsWithState pass — a doc's windows all ride its own
    * micro-batch, so no state is retained (state type Boolean, never
    * set). Corpus text is read zero times. */
  def substringSpanStream(spark: SparkSession, docs: DataFrame,
                          textCol: String, idCol: String, indexPath: String,
                          minLen: Int = 8, numBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.operators.AnnLsh.hash64Local
    val wins = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = Option(text).getOrElse("").split(" ", -1)
        if (w.length < minLen) Iterator.empty
        else (1 to w.length - minLen + 1).iterator.map { p =>
          val h = hash64Local(w.slice(p - 1, p - 1 + minLen).mkString(" "))
          SubWin(id, p, java.lang.Math.floorMod(h, numBuckets.toLong), h)
        }
      }
    wins.join(spark.read.parquet(indexPath), Seq("bucket", "h"), "left_semi")
      .select(col("doc_id"), col("pos")).as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, SubSpan](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (id, rows, _: GroupState[Boolean]) =>
          val ps = rows.map(_._2).toVector.sorted
          val out = scala.collection.mutable.ListBuffer[SubSpan]()
          var start = -1; var prev = Int.MinValue / 2
          (ps :+ Int.MaxValue).foreach { p =>
            if (p - prev > minLen) {
              if (start >= 0)
                out += SubSpan(id, start.toLong, (prev + minLen).toLong,
                  (prev + minLen - start).toLong)
              start = p
            }
            prev = p
          }
          out.iterator
      }.toDF()
  }

  /** Streaming classification twin of
    * [[graft.operators.TextAnalysis.naiveBayesScoreAll]]: score each
    * arriving document against a TRAINED driver-side model
    * ([[graft.operators.TextAnalysis.trainNaiveBayes]]) — the
    * live-router / quality-gate deployment of the batch classifier.
    * STATELESS by construction: scoring is one codegen'd map-side
    * expression (the model ships as a plan reference object), so
    * micro-batch boundaries and arrival order cannot move any score —
    * the stream's rows are bit-identical to the batch operator's on
    * the same input (spec-pinned). */
  def classifyStream(docs: DataFrame, textCol: String, idCol: String,
                     model: graft.operators.TextAnalysis.NbModel): DataFrame =
    graft.operators.TextAnalysis.naiveBayesScoreAll(docs, textCol, idCol, model)

  /** Streaming curation twin of the `pipeline_curate_v2` composition,
    * split the way a continuously-ingesting pipeline actually runs it:
    *
    *  - THIS stream is stages 1-2 — the quality funnel
    *    ([[funnelStream]]: pure map-side, zero state) and the
    *    trained-classifier gate ([[classifyStream]]'s codegen'd
    *    kernel, stateless, bit-identical to the batch classifier) —
    *    so documents are gated at ingest rate on every executor, and
    *    micro-batch boundaries cannot move any verdict: the gated
    *    row set is row-equal to the batch stages on the same input
    *    regardless of how arrivals split (spec-pinned).
    *  - Global resolution (near-dup keep-BEST + deterministic split)
    *    needs corpus-wide cluster evidence no causal stream can have
    *    (a better duplicate may arrive AFTER its cluster-mates were
    *    emitted), so it runs as the periodic batch roll-up
    *    [[curateResolve]] over the gated sink — the
    *    paths/funnel/retention delta-sink pattern.
    *
    * Emits one row per gated doc: (idCol, textCol, pred_lang,
    * n_tokens) — n_tokens computed in-stream with the identical
    * expression the batch composition uses, so the resolve step never
    * re-derives a score. */
  def curateStream(docs: DataFrame, textCol: String, idCol: String,
                   minTokens: Int, maxTokens: Int, keepLangs: Seq[String],
                   minStop: Double,
                   model: graft.operators.TextAnalysis.NbModel,
                   gateLabel: String): DataFrame =
    graft.operators.TextAnalysis.naiveBayesScoreAll(
        funnelStream(docs, textCol, minTokens, maxTokens, keepLangs, minStop)
          .filter(col("verdict") === "kept")
          .select(col(idCol), col(textCol)),
        textCol, idCol, model, carry = Seq(textCol))
      .filter(col("pred") === gateLabel)
      .select(col(idCol), col(textCol), col("pred").as("pred_lang"),
        size(filter(split(col(textCol), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))

  /** Batch resolution over a [[curateStream]] sink: MinHash near-dup
    * pairs over the gated corpus, quality-aware keep-best
    * ([[graft.operators.Dedup.dedupKeepBest]] on the carried
    * n_tokens), then the deterministic hash split — stages 3-4 of
    * `pipeline_curate_v2`, verbatim. Given the sink equals the batch
    * gate (the [[curateStream]] contract), this returns exactly the
    * batch composition's rows. */
  def curateResolve(candidates: DataFrame, textCol: String, idCol: String,
                    numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
                    threshold: Double = 0.5, evalFrac: Double = 0.1,
                    splitSeed: String = "cur2_"): DataFrame = {
    import graft.operators.Dedup
    val pairs = Dedup.minhashPairs(candidates, textCol, idCol,
      numHashes, bands, shingleN, threshold)
    val scores = candidates.select(col(idCol), col("n_tokens"))
    val best = Dedup.dedupKeepBest(candidates, idCol, pairs, scores, "n_tokens")
    best.filter(col("keep"))
      .join(candidates.select(col(idCol), col("pred_lang")), Seq(idCol))
      .select(col(idCol), col("pred_lang"), col("n_tokens"),
        when(Dedup.hash64(concat(lit(splitSeed), col(idCol).cast("string")))
          % 1000000 < lit(evalFrac) * 1000000, "eval")
          .otherwise("train").as("split"))
  }

  case class FunnelEv(user_id: Long, ts: Timestamp, event_type: String)
  case class FunnelState(ts: Seq[Long])
  case class FunnelOut(user_id: Long, step: Int, ts: Timestamp)

  /** Streaming twin of [[graft.operators.Events.funnel]]: a delta row
    * (user, step, ts) the first time each user ADVANCES to funnel step
    * `step` — step i+1 only after a strictly-later event than the
    * recorded step-i time, exactly the batch chain's rule. State per
    * user is the earliest-completion time of each reached step (≤ n
    * longs). Like the batch operator, only the participating types pay
    * the stateful shuffle (filter pushes to the source). Exact
    * equivalence with the batch report holds under in-order per-user
    * delivery ([[funnelFrom]] rolls the sink up; spec-pinned across
    * batch splits); an out-of-order earlier event cannot retract an
    * already-recorded step — O(1) state is the documented price. */
  def funnelStream(events: DataFrame, steps: Seq[String])
                  (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, "funnel steps must be distinct types")
    events.filter(col("event_type").isin(steps: _*)).as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[FunnelState]) =>
          val out = scala.collection.mutable.ListBuffer[FunnelOut]()
          var reached = state.getOption.map(_.ts.toVector).getOrElse(Vector.empty)
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val k = reached.size
            if (k < steps.size && e.event_type == steps(k) &&
                (k == 0 || e.ts.getTime > reached(k - 1))) {
              reached = reached :+ e.ts.getTime
              out += FunnelOut(user, k + 1, e.ts)
            }
          }
          if (reached.nonEmpty) state.update(FunnelState(reached))
          out.iterator
      }.toDF()
  }

  /** Batch roll-up of a [[funnelStream]] delta sink into the exact
    * [[graft.operators.Events.funnel]] report: one row per user who
    * completed step 1, nullable ts_1..ts_n, steps_reached. */
  def funnelFrom(deltas: DataFrame, nSteps: Int): DataFrame = {
    val tsCols = (1 to nSteps).map(i =>
      min(when(col("step") === i, col("ts"))).as(s"ts_$i"))
    deltas.groupBy(col("user_id"))
      .agg(tsCols.head, tsCols.tail :+ max(col("step")).cast("long")
        .as("steps_reached"): _*)
  }

  case class RetEv(user_id: Long, ts: Timestamp)
  case class RetState(cohort: Int, last: Int)
  case class RetOut(user_id: Long, cohort: java.sql.Date, day_offset: Long)

  /** Streaming twin of [[graft.operators.Events.retention]]: a delta
    * row (user, cohort, day_offset) the first time a user is active on
    * a new UTC day — the user's first-ever day is the cohort, exactly
    * the batch rule. State per user is TWO ints (cohort day, newest
    * emitted day): under in-order per-user delivery days arrive
    * non-decreasing, so "newer than the frontier day" IS first-
    * activity-of-day and the rolled-up matrix ([[retentionFrom]])
    * equals the batch report bit-exactly — spec-pinned across batch
    * splits. No per-day set, no watermark: the store is bounded by
    * the live-user count alone. */
  def retentionStream(events: DataFrame)
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.as[RetEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[RetState]) =>
          def day(t: Timestamp): Int =
            t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
              .toEpochDay.toInt
          def date(d: Int): java.sql.Date =
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
          val out = scala.collection.mutable.ListBuffer[RetOut]()
          var cur = state.getOption
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val d = day(e.ts)
            cur match {
              case None =>
                cur = Some(RetState(d, d))
                out += RetOut(user, date(d), 0L)
              case Some(s) if d > s.last =>
                cur = Some(s.copy(last = d))
                out += RetOut(user, date(s.cohort), (d - s.cohort).toLong)
              case _ => ()
            }
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF()
  }

  /** Batch roll-up of a [[retentionStream]] delta sink into the exact
    * [[graft.operators.Events.retention]] matrix. Each (user, day) is
    * emitted once, so a plain count IS the distinct-user count. */
  def retentionFrom(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))

  case class CoocEv(user_id: Long, event_type: String)
  case class CoocState(types: Seq[String])
  case class CoocOut(kind: String, a: String, b: String)

  /** Streaming twin of [[graft.operators.Events.typeCooccurrence]]:
    * per-user DELTA rows for the co-occurrence report, emitted the
    * first time each (user), (user, type) and (user, type-pair) is
    * observed — so a downstream count of the sink reproduces the batch
    * report's distinct-user arithmetic exactly ([[cooccurrenceReport]],
    * spec-pinned). The stateful step emits set-semantics deltas, never
    * counts, so arrival order and batch boundaries cannot move the
    * report. State per user is the seen-type set — bounded by TYPE
    * cardinality (the same bound the batch self-join rides), never by
    * event volume. State must persist for exactness (an evicted user's
    * re-arriving types would re-emit); on an open-ended user space
    * trade exactness for a bounded store by TTL-ing users upstream. */
  def cooccurrenceStream(events: DataFrame)
                        (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.as[CoocEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CoocState, CoocOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[CoocState]) =>
          val out = scala.collection.mutable.ListBuffer[CoocOut]()
          var seen = state.getOption.map(_.types.toSet).getOrElse {
            out += CoocOut("user", "", "")
            Set.empty[String]
          }
          evs.foreach { e =>
            val t = e.event_type
            if (!seen.contains(t)) {
              out += CoocOut("type", t, "")
              seen.foreach { s =>
                if (s < t) out += CoocOut("pair", s, t)
                else out += CoocOut("pair", t, s)
              }
              seen = seen + t
            }
          }
          state.update(CoocState(seen.toSeq.sorted))
          out.iterator
      }.toDF()
  }

  /** Batch roll-up of a [[cooccurrenceStream]] delta sink into the
    * exact [[graft.operators.Events.typeCooccurrence]] report: counts
    * of the three delta kinds ARE the batch operator's distinct
    * counts, and the lift/pmi arithmetic is the same fixed expression,
    * so the report is bit-identical (spec-pinned). */
  def cooccurrenceReport(deltas: DataFrame): DataFrame = {
    val nUsers = deltas.filter(col("kind") === "user")
      .agg(count(lit(1)).as("_nu"))
    val perType = deltas.filter(col("kind") === "type")
      .groupBy(col("a").as("_t")).agg(count(lit(1)).as("_nt"))
    val pairs = deltas.filter(col("kind") === "pair")
      .groupBy(col("a").as("_t"), col("b").as("_t2"))
      .agg(count(lit(1)).as("_nab"))
    val lift = (col("_nab").cast("double") * col("_nu")) /
      (col("_nt").cast("double") * col("_nt2"))
    pairs
      .join(broadcast(perType), Seq("_t"))
      .join(broadcast(perType.select(col("_t").as("_t2"),
        col("_nt").as("_nt2"))), Seq("_t2"))
      .crossJoin(broadcast(nUsers))
      .select(col("_t").as("type_a"), col("_t2").as("type_b"),
        col("_nt").as("n_a"), col("_nt2").as("n_b"), col("_nab").as("n_both"),
        col("_nu").as("n_users"),
        round(lift, 5).as("lift"), round(log(lift), 5).as("pmi"))
  }
}
