package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Boost, Knn, TextAnalysis}
import Shared._

/** Supervised classifiers over the corpus: naive Bayes, boosted stumps, logistic regression and centroids. */
object ClassifyQueries {

  val queries: Seq[Query] = Seq(
    Query("knn_classify", (s, dir) => {
      // weak-supervision labeling: every 10th vector drops its label
      // and takes the majority vote of its 10 nearest labeled
      // neighbors; ties to the label of the single nearest neighbor
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 10 === 0)
      val labeled = emb.filter(col("vec_id") % 10 =!= 0)
      Knn.knnClassify(labeled, queries, "embedding", "vec_id", "label",
          k = 10, Knn.Cosine)
        .select(col("qid"), col("pred_label"), col("votes"),
          col("best_rank").cast("long").as("best_rank"))
    },
      // identical retrieval (cosine brute force, (d, vec_id) rank
      // order) and identical vote total order (votes DESC, best_rank,
      // label)
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
         |           FROM embeddings WHERE vec_id % 10 = 0),
         |d AS (SELECT q.qid, e.vec_id, e.label, $cosDistSql AS d
         |      FROM (SELECT * FROM embeddings WHERE vec_id % 10 <> 0) e, q),
         |r AS (SELECT qid, vec_id, label,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |      FROM d),
         |nn AS (SELECT * FROM r WHERE rank <= 10),
         |v AS (SELECT qid, label, count(*) AS votes, min(rank) AS best_rank
         |      FROM nn GROUP BY 1, 2),
         |b AS (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY votes DESC, best_rank, label) AS rn FROM v)
         |SELECT qid, label AS pred_label, votes, best_rank
         |FROM b WHERE rn = 1""".stripMargin),

    Query("classify_centroid", (s, dir) => {
      // nearest-centroid label router over the embedding space: one
      // prototype per label from the train split, held-out fifth
      // scored by map-side argmin against the broadcast prototypes
      val emb = Tables.embeddings(s, dir)
      val tr = emb.filter(col("vec_id") % 5 =!= 0)
      val te = emb.filter(col("vec_id") % 5 === 0)
      Knn.centroidClassify(tr, te, "embedding", "vec_id", "label")
        .join(te.select(col("vec_id"), col("label")), Seq("vec_id"))
        .select(col("vec_id"), col("pred"),
          round(col("dist2"), 6).as("dist2"), col("label"),
          (col("pred") === col("label")).as("correct"))
    },
      // identical grid: 1e-6 coordinate snap, exact integer centroid
      // sums divided once, dim-ordered list_sum fold, (d2, label)
      // argmin tie order
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qb AS (SELECT vec_id, label,
         |         list_transform(v, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv FROM b),
         |tr AS (SELECT * FROM qb WHERE vec_id % 5 <> 0),
         |te AS (SELECT * FROM qb WHERE vec_id % 5 = 0),
         |ex AS (SELECT label AS lbl, d.d AS dim, qv[d.d + 1] AS qx FROM tr, range(64) d(d)),
         |ct AS (SELECT lbl, dim, sum(qx) AS s, count(*) AS n FROM ex GROUP BY 1, 2),
         |cent AS (SELECT lbl, list((CAST(s AS DOUBLE) / n) / 1000000.0 ORDER BY dim) AS c
         |         FROM ct GROUP BY lbl),
         |sc AS (SELECT t.vec_id, c.lbl,
         |         list_sum(list_transform(range(64), i ->
         |           ((CAST(t.qv[i + 1] AS DOUBLE) / 1000000.0) - c.c[i + 1])
         |           * ((CAST(t.qv[i + 1] AS DOUBLE) / 1000000.0) - c.c[i + 1]))) AS d2
         |       FROM te t, cent c),
         |best AS (SELECT vec_id, lbl, d2,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, lbl) AS rn FROM sc)
         |SELECT b2.vec_id, b2.lbl AS pred, round(b2.d2, 6) AS dist2, te.label,
         |  (b2.lbl = te.label) AS correct
         |FROM best b2 JOIN te ON te.vec_id = b2.vec_id WHERE b2.rn = 1""".stripMargin),

    Query("classify_nb", (s, dir) => {
      // supervised language check: train hashed-unigram Naive Bayes on
      // 4/5 of the corpus's declared lang labels, score the held-out
      // fifth — the fastText-style router/quality-gate shape. Scores
      // via the cached model + NbScore kernel (r16: the whole NB
      // family shares ONE training run — the Fixtures.boost convention;
      // kernel == chain bit-identical by the trainNaiveBayes
      // contract, so the chain-restating oracle is unchanged)
      val test = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      TextAnalysis.naiveBayesScoreAll(test, "text", "doc_id",
          Fixtures.of(s, dir).nb, carry = Seq("lang"))
        .select(col("doc_id"), col("pred").as("pred_lang"),
          round(col("nb_score"), 5).as("nb_score"),
          (col("pred") === col("lang")).as("correct"))
    }, classifyNbSql),

    Query("classify_nb_calibration", (s, dir) => {
      // the reliability diagram next to the confusion matrix: softmax
      // confidence of the NB gate vs empirical accuracy, 10 bins; the
      // per-bin (accuracy − mean_conf) gap is the miscalibration the
      // deploy gate reads before trusting "90% confident" verdicts
      // cached model + the all-labels NbScoresVec kernel (r16): the
      // reliability diagram is one zero-join scan + a bounded roll-up,
      // bit-identical to the nbCalibration chain (spec-pinned), so
      // the chain-restating oracle is unchanged
      val test = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      TextAnalysis.nbCalibrationFromModel(test, "text", "doc_id", "lang",
          Fixtures.of(s, dir).nb, bins = 10)
        .select(col("pred_label"), col("bin"), col("n"), col("n_correct"),
          round(col("accuracy"), 5).as("accuracy"),
          round(col("mean_conf"), 5).as("mean_conf"))
    },
      // the shared NB chain's nbsc/nbmx, then: softmax denominator as
      // a label-ordered list_sum fold (== the Spark side's ordered
      // aggregate), confidence snapped to the 1e-6 integer grid so
      // bin membership is integer arithmetic and per-bin means are
      // exact integer sums divided once
      s"""WITH caltest AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |${nbGateChain("caltest")},
         |nbz AS (SELECT nbsc.doc_id,
         |          list_sum(list(exp(4.0 * (nbsc.score - nbmx.m) / (len(t.w) + 1.0))
         |            ORDER BY nbsc.lang)) AS z,
         |          min(CASE WHEN nbsc.score = nbmx.m THEN nbsc.lang END) AS pred
         |        FROM nbsc JOIN nbmx ON nbmx.doc_id = nbsc.doc_id
         |        JOIN nbte t ON t.doc_id = nbsc.doc_id GROUP BY 1),
         |nbpd AS (SELECT z.doc_id, z.pred AS pred_label,
         |           CAST(round(1000000.0 / z.z, 0) AS BIGINT) AS cq,
         |           CASE WHEN z.pred = d.lang THEN 1 ELSE 0 END AS ok
         |         FROM nbz z JOIN documents d USING (doc_id)),
         |nbbn AS (SELECT pred_label, least((cq * 10) // 1000000, 9) AS bin, cq, ok
         |         FROM nbpd)
         |SELECT pred_label, bin, count(*) AS n, CAST(sum(ok) AS BIGINT) AS n_correct,
         |       round(CAST(sum(ok) AS DOUBLE) / count(*), 5) AS accuracy,
         |       round(CAST(sum(cq) AS DOUBLE) / (count(*) * 1000000.0), 5) AS mean_conf
         |FROM nbbn GROUP BY pred_label, bin""".stripMargin),

    Query("classify_nb_report", (s, dir) => {
      // the classifier's deploy gate: confusion matrix over the
      // held-out split (declared lang × predicted), integer counts —
      // the eval-report twin of ann_recall_eval/dedup_eval. Cached
      // model + kernel scoring (r16): the confusion roll-up is one
      // keyed agg over a zero-join scan
      val test = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      TextAnalysis.naiveBayesScoreAll(test, "text", "doc_id",
          Fixtures.of(s, dir).nb, carry = Seq("lang"))
        .groupBy(col("lang"), col("pred").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("pred_lang"), col("n"))
    },
      // the classify_nb chain rolled up to the confusion matrix —
      // integer counts, so the report is trivially engine-exact
      s"""WITH nbout AS ($classifyNbSql)
         |SELECT d.lang, nbout.pred_lang, count(*) AS n
         |FROM nbout JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin),

    Query("classify_nb_unseen", (s, dir) => {
      // the deploy gate's blind-spot check: one label ('de') is
      // WITHHELD from training, so the classifier can never predict
      // it — the confusion rows show where those docs land, and
      // label_trained flags the rows a deployment must treat as
      // out-of-distribution (the reference scenario: score-time data
      // drifts to a language the router was never trained on)
      val test = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      TextAnalysis.naiveBayesScoreAll(test, "text", "doc_id",
          Fixtures.of(s, dir).nbUnseen, carry = Seq("lang"))
        .groupBy(col("lang"), col("pred").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("pred_lang"), col("n"),
          (col("lang") =!= "de").as("label_trained"))
    },
      // same chain with 'de' withheld from the train split: the CROSS
      // JOIN over pri (trained labels only) makes 'de' unpredictable
      // by construction in BOTH engines
      s"""WITH nbout AS (${classifyNbSqlWith("doc_id % 5 <> 0 AND lang <> 'de'")})
         |SELECT d.lang, nbout.pred_lang, count(*) AS n,
         |  (d.lang <> 'de') AS label_trained
         |FROM nbout JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin),

    Query("classify_nb_stats", (s, dir) => {
      // buckets-vs-vocabulary collision report for the deployed
      // hashed-feature model: collisions merge unrelated tokens'
      // evidence silently, so the gate reads this row before trusting
      // the confusion matrix
      TextAnalysis.nbBucketStats(
          Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
          "text", buckets = 4096)
        .select(col("n_buckets"), col("n_vocab"), col("n_occupied"),
          col("n_excess"), round(col("collision_rate"), 6).as("collision_rate"))
    },
      // same tokenization + 60-bit md5 hash % buckets; integer counts
      // and one fixed division
      """WITH v AS (SELECT DISTINCT word FROM (
        |    SELECT unnest(list_filter(string_split(coalesce(text, ''), ' '),
        |      x -> x <> '')) AS word
        |    FROM documents WHERE doc_id % 5 <> 0)),
        |b AS (SELECT word,
        |        CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % 4096 AS bkt
        |      FROM v)
        |SELECT CAST(4096 AS BIGINT) AS n_buckets,
        |  CAST(count(*) AS BIGINT) AS n_vocab,
        |  CAST(count(DISTINCT bkt) AS BIGINT) AS n_occupied,
        |  CAST(count(*) - count(DISTINCT bkt) AS BIGINT) AS n_excess,
        |  round((count(*) - count(DISTINCT bkt)) * 1.0 / count(*), 6)
        |    AS collision_rate
        |FROM b""".stripMargin),

    Query("classify_nb_scored", (s, dir) => {
      // the deployment path: train once driver-side, score at scan
      // speed via the codegen'd NbScore kernel — bit-identical to
      // classify_nb by contract, so it shares that oracle (and since
      // r16 the model itself, via Fixtures.nb)
      val test = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      TextAnalysis.naiveBayesScoreAll(test, "text", "doc_id",
          Fixtures.of(s, dir).nb, carry = Seq("lang"))
        .select(col("doc_id"), col("pred").as("pred_lang"),
          round(col("nb_score"), 5).as("nb_score"),
          (col("pred") === col("lang")).as("correct"))
    },
      // the codegen'd kernel path is bit-identical to the batch
      // operator by contract (spec-pinned), so it shares the oracle
      classifyNbSql),

    Query("classify_boost", (s, dir) => {
      // rule distillation by exact-integer AdaBoost: learn the relaxed
      // quality gate (n_words >= 30 AND >= 1 distinct stopword — the
      // full Gopher bundle is degenerate on this corpus: no doc has 2
      // distinct stopwords) as a 3-stump committee, then score the
      // held-out fifth. The committee must recover an AND of two
      // thresholds — exactly what a single stump (or the NB family's
      // linear scores) cannot express; held-out agreement vs the rule
      // labels is the distillation fidelity a deployment reads
      val te = boostSignals(s, dir).filter(col("doc_id") % 5 === 0)
      val model = Fixtures.of(s, dir).boost
      Boost.scoreStumps(te, model, Seq("doc_id", "y"))
        .select(col("doc_id"), col("y").cast("long").as("label"),
          col("pred"), (col("y").cast("long") === col("pred")).as("agree"))
    }, boostOracleSql(3)),

    Query.fitted("classify_logreg", (s, dir) => {
      // the CALIBRATED classifier over the same signal frame and rule
      // labels as classify_boost: deterministic full-batch logistic
      // regression (integer-grid gradient sums, fixed 30 steps), held-
      // out fifth scored with probability + exact z>=0 decision. The
      // linear model CANNOT express the AND rule the committee
      // recovers — read next to classify_boost: agree here is the
      // linear approximation's fidelity, prob its confidence
      val te = boostSignals(s, dir).filter(col("doc_id") % 5 === 0)
      operators.Logit.score(te, Fixtures.of(s, dir).logit, Seq("doc_id", "y"))
        .select(col("doc_id"), col("y").cast("long").as("label"),
          col("pred"), col("prob"), col("z"),
          (col("y").cast("long") === col("pred")).as("agree"))
    },
      f => logitOracles(f.logit)("classify_logreg")),

    Query.fitted("classify_logreg_report", (s, dir) => {
      // the calibration table a gate reads before trusting `prob` as
      // a probability: per occupied probability decile, doc count,
      // empirical positive rate, and exact integer-grid mean logit.
      // Deciles are z-space comparisons against driver-literal logit
      // edges — zero per-row transcendentals
      val te = boostSignals(s, dir).filter(col("doc_id") % 5 === 0)
      operators.Logit.calibration(te, Fixtures.of(s, dir).logit, "y")
    },
      f => logitOracles(f.logit)("classify_logreg_report")),

    Query.fitted("classify_logreg_multi", (s, dir) => {
      // the d=6 member (VERDICT r15 #7): same integer-grid training,
      // same held-out fifth, but six count signals — the fixed-order
      // zSql fold and the exact gradient sums exercised past d=2 on
      // the oracle path (the fitted 7 doubles ship to DuckDB as
      // round-trip literals; both engines run the identical IEEE
      // operation sequence over the identical bigint signals)
      val te = logitWideSignals(s, dir).filter(col("doc_id") % 5 === 0)
      operators.Logit.score(te, Fixtures.of(s, dir).logitWide, Seq("doc_id", "y"))
        .select(col("doc_id"), col("y").cast("long").as("label"),
          col("pred"), col("prob"), col("z"),
          (col("y").cast("long") === col("pred")).as("agree"))
    },
      f => logitWideOracle(f.logitWide)),

    Query("classify_boost_sweep", (s, dir) => {
      // the committee-size tuning table (the minhash/quantize/nprobe
      // sweep pattern applied to the learner): held-out fidelity at
      // rounds = 1, 2, 3. AdaBoost is greedy-sequential, so the
      // smaller committees are PREFIXES of the 3-round model — one
      // training run serves every arm
      val te = boostSignals(s, dir).filter(col("doc_id") % 5 === 0)
      val full = Fixtures.of(s, dir).boost
      (1 to 3).map { r =>
        val m = Boost.BoostModel(full.features, full.stumps.take(r))
        Boost.scoreStumps(te, m, Seq("doc_id", "y"))
          .agg(count(lit(1)).as("n_test"),
            sum((col("y").cast("long") === col("pred")).cast("long"))
              .as("n_correct"))
          .select(lit(r.toLong).as("rounds"), col("n_test"), col("n_correct"),
            round(col("n_correct").cast("double") / col("n_test"), 6)
              .as("accuracy"))
      }.reduce(_ unionByName _)
    }, boostSweepOracleSql(3)),

    Query("classify_boost_report", (s, dir) => {
      // the distilled gate's deploy gate: held-out confusion matrix
      // (rule label × committee verdict), integer counts — read next
      // to classify_nb_report before trusting the cheap gate
      val te = boostSignals(s, dir).filter(col("doc_id") % 5 === 0)
      val model = Fixtures.of(s, dir).boost
      Boost.scoreStumps(te, model, Seq("doc_id", "y"))
        .groupBy(col("y").cast("long").as("label"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .select(col("label"), col("pred"), col("n"))
    },
      // shared training chain, rolled up to the confusion matrix
      s"""WITH bo AS (${boostOracleSql(3)})
         |SELECT label, pred, CAST(count(*) AS BIGINT) AS n
         |FROM bo GROUP BY 1, 2""".stripMargin)
  )

  /** classify_boost oracle: exact-integer AdaBoost training unrolled
    * as chained CTEs (the pagerank rule applied to a learner) — every
    * quantity is an integer (HUGEINT weights, floor-div renorm,
    * integer cross-product vote), so stump selection and every
    * held-out prediction match the Spark run bit-for-bit. */
  private def boostOracleSql(rounds: Int): String = {
    val (chain, a, b, joins) = boostChainSql(rounds)
    s"""$chain
       |SELECT s.doc_id, CAST(s.y AS BIGINT) AS label,
       |  CAST(CASE WHEN $a > $b THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |  (s.y = (CASE WHEN $a > $b THEN 1 ELSE 0 END)) AS agree
       |FROM te s $joins""".stripMargin
  }

  /** classify_boost_sweep oracle: one training chain, three prefix
    * votes — the committee at rounds 1..r is the first r stumps. */
  private def boostSweepOracleSql(rounds: Int): String = {
    val (chain, _, _, _) = boostChainSql(rounds)
    val arms = (1 to rounds).map { r =>
      val (_, a, b, joins) = boostChainSql(rounds, voteRounds = r)
      s"""SELECT CAST($r AS BIGINT) AS rounds, CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(sum(CASE WHEN s.y = (CASE WHEN $a > $b THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN s.y = (CASE WHEN $a > $b THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
         |FROM te s $joins""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$chain\n$arms"
  }

  /** Shared builder: the training CTE chain plus the vote-product
    * expressions over the first `voteRounds` stumps. */
  private def boostChainSql(rounds: Int,
                            voteRounds: Int = -1): (String, String, String, String) = {
    val vr = if (voteRounds > 0) voteRounds else rounds
    val R = "1000000000000"
    val fv = "(CASE WHEN c.f = 'n_words' THEN s.f_n_words ELSE s.f_n_stop END)"
    def sv(t: Int) =
      s"(CASE WHEN s$t.f = 'n_words' THEN s.f_n_words ELSE s.f_n_stop END)"
    val chain = (1 to rounds).map { t =>
      val p = t - 1
      s"""err$t AS (SELECT c.f, c.theta,
         |      sum(CASE WHEN (CASE WHEN $fv >= c.theta THEN 1 ELSE -1 END)
         |               <> (CASE WHEN s.y = 1 THEN 1 ELSE -1 END) THEN s.w ELSE CAST(0 AS HUGEINT) END) AS errpos,
         |      sum(s.w) AS wtot
         |    FROM w$p s CROSS JOIN cand c GROUP BY 1, 2),
         |st$t AS (SELECT f, theta, pol,
         |      greatest(eps0 // greatest((greatest(eps0, rest0) + $R - 1) // $R, 1), 1) AS eps,
         |      greatest(rest0 // greatest((greatest(eps0, rest0) + $R - 1) // $R, 1), 1) AS rest
         |    FROM (SELECT f, theta, pol, greatest(err, 1) AS eps0, greatest(wtot - err, 1) AS rest0 FROM (
         |      SELECT f, theta, 1 AS pol, errpos AS err, wtot FROM err$t
         |      UNION ALL SELECT f, theta, -1 AS pol, wtot - errpos AS err, wtot FROM err$t)
         |    ORDER BY err, f, theta, pol LIMIT 1)),
         |u$t AS (SELECT s.doc_id, s.y, s.f_n_words, s.f_n_stop,
         |      s.w * (CASE WHEN (CASE WHEN ${sv(t)} >= s$t.theta THEN s$t.pol ELSE -s$t.pol END)
         |                       = (CASE WHEN s.y = 1 THEN 1 ELSE -1 END)
         |             THEN s$t.eps ELSE s$t.rest END) AS u
         |    FROM w$p s CROSS JOIN st$t s$t),
         |d$t AS (SELECT greatest(sum(u) // $R, 1) AS d FROM u$t),
         |w$t AS (SELECT doc_id, y, f_n_words, f_n_stop, u // d AS w FROM u$t CROSS JOIN d$t)""".stripMargin
    }.mkString(",\n")
    def hv(t: Int) =
      s"(CASE WHEN (CASE WHEN s$t.f = 'n_words' THEN s.f_n_words ELSE s.f_n_stop END) >= s$t.theta THEN s$t.pol ELSE -s$t.pol END)"
    val a = (1 to vr).map(t =>
      s"(CASE WHEN ${hv(t)} = 1 THEN s$t.rest ELSE s$t.eps END)").mkString(" * ")
    val b = (1 to vr).map(t =>
      s"(CASE WHEN ${hv(t)} = 1 THEN s$t.eps ELSE s$t.rest END)").mkString(" * ")
    val joins = (1 to vr).map(t => s"CROSS JOIN st$t s$t").mkString(" ")
    val chainSql = s"""WITH sig AS (SELECT doc_id,
       |          CAST(len(w) AS HUGEINT) AS f_n_words,
       |          CAST(len(list_intersect(list_distinct(w), ${LangSql.en})) AS HUGEINT) AS f_n_stop,
       |          CASE WHEN len(w) >= 30 AND len(list_intersect(list_distinct(w), ${LangSql.en})) >= 1 THEN 1 ELSE 0 END AS y
       |        FROM (SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w FROM documents)),
       |tr AS (SELECT * FROM sig WHERE doc_id % 5 <> 0),
       |te AS (SELECT * FROM sig WHERE doc_id % 5 = 0),
       |cand AS (
       |  SELECT 'n_words' AS f, theta FROM (SELECT DISTINCT f_n_words AS theta FROM tr
       |    UNION ALL SELECT max(f_n_words) + 1 FROM tr)
       |  UNION ALL
       |  SELECT 'n_stop' AS f, theta FROM (SELECT DISTINCT f_n_stop AS theta FROM tr
       |    UNION ALL SELECT max(f_n_stop) + 1 FROM tr)),
       |w0 AS (SELECT doc_id, y, f_n_words, f_n_stop, CAST(1 AS HUGEINT) AS w FROM tr),
       |$chain""".stripMargin
    (chainSql, a, b, joins)
  }

  /** Shared oracle for `classify_nb` (distributed operator) and
    * `classify_nb_scored` (codegen'd kernel over the driver-trained
    * model): the two paths are bit-identical by contract (spec-pinned
    * in TextAnalysisSpec), so one SQL gates both. The Laplace-smoothed
    * chain mirrors the Spark arithmetic exactly; per-(doc, label)
    * log-likelihoods fold in POSITION order (list_sum(list(ll ORDER BY
    * pos)) — the lm_score rule), so the argmax compares identical
    * doubles in both engines. */
  private val classifyNbSql: String =
    classifyNbSqlWith("doc_id % 5 <> 0")

  /** The classify_nb oracle chain with a caller-chosen train-split
    * predicate — classify_nb uses the 4/5 split; classify_nb_unseen
    * additionally withholds one label from training. */
  private def classifyNbSqlWith(trainCond: String): String =
    s"""WITH tr AS (SELECT doc_id, lang,
      |        list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |      FROM documents WHERE $trainCond),
      |te AS (SELECT doc_id, lang,
      |        list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |      FROM documents WHERE doc_id % 5 = 0),
      |trt AS (SELECT lang, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % 4096 AS bkt
      |        FROM (SELECT lang, unnest(w) AS word FROM tr)),
      |cnt AS (SELECT lang, bkt, count(*) AS n FROM trt GROUP BY 1, 2),
      |tot AS (SELECT lang, count(*) AS t FROM trt GROUP BY 1),
      |pri AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
      |ndall AS (SELECT count(*) AS total FROM tr),
      |tet AS (SELECT doc_id, s.pos AS pos,
      |          CAST('0x' || substr(md5(s.word), 1, 15) AS BIGINT) % 4096 AS bkt
      |        FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
      |                i -> {'pos': i, 'word': w[CAST(i AS INT)]})) AS s FROM te)),
      |ll AS (SELECT tet.doc_id, p.lang, tet.pos,
      |         ln((coalesce(cnt.n, 0) + 1.0) / (tot.t + 4096)) AS ll
      |       FROM tet CROSS JOIN pri p
      |       LEFT JOIN cnt ON cnt.lang = p.lang AND cnt.bkt = tet.bkt
      |       JOIN tot ON tot.lang = p.lang),
      |fold AS (SELECT doc_id, lang, list_sum(list(ll ORDER BY pos)) AS s
      |         FROM ll GROUP BY 1, 2),
      |sc AS (SELECT te.doc_id, p.lang,
      |         ln(CAST(p.nd AS DOUBLE) / ndall.total) + coalesce(fold.s, 0.0) AS score
      |       FROM te CROSS JOIN pri p CROSS JOIN ndall
      |       LEFT JOIN fold ON fold.doc_id = te.doc_id AND fold.lang = p.lang),
      |mx AS (SELECT doc_id, max(score) AS m FROM sc GROUP BY 1),
      |win AS (SELECT sc.doc_id, min(sc.lang) AS pred, max(mx.m) AS score
      |        FROM sc JOIN mx USING (doc_id) WHERE sc.score = mx.m GROUP BY 1)
      |SELECT te.doc_id, win.pred AS pred_lang, round(win.score, 5) AS nb_score,
      |       (win.pred = te.lang) AS correct
      |FROM te JOIN win USING (doc_id)""".stripMargin

  /** DuckDB oracles for classify_logreg / classify_logreg_report (the
    * pcaOracles pattern): the gradient loop is driver-side and
    * not SQL-expressible, but the fitted model is 3 doubles BY
    * CONTRACT — it ships as shortest-round-trip literals and DuckDB
    * recomputes the DISTRIBUTED part, signal extraction + the scoring
    * expression (the IDENTICAL [[operators.Logit.zSql]] string runs
    * in both engines, so every IEEE operation matches). `m` is the
    * checked directory's own [[Fixtures.logit]]. */
  private def logitOracles(m: operators.Logit.LogitModel): Map[String, String] = {
    val z = operators.Logit.zSql(m)
    val nStop = s"len(list_intersect(list_distinct(w), ${LangSql.en}))"
    val sigCte =
      s"""WITH sig AS (SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST($nStop AS BIGINT) AS n_stop,
         |    CASE WHEN len(w) >= 30 AND $nStop >= 1 THEN 1 ELSE 0 END AS y
         |  FROM (SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w FROM documents)),
         |te AS (SELECT * FROM sig WHERE doc_id % 5 = 0)""".stripMargin
    val pred = s"CAST(CASE WHEN ($z) >= 0.0 THEN 1 ELSE 0 END AS BIGINT)"
    val bin = operators.Logit.zEdges
      .map(e => s"(CASE WHEN ($z) >= ${dLit(e)} THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    Map(
      "classify_logreg" ->
        s"""$sigCte
           |SELECT doc_id, CAST(y AS BIGINT) AS label, $pred AS pred,
           |  round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-($z))), 6) AS prob,
           |  round($z, 6) AS z,
           |  (CAST(y AS BIGINT) = $pred) AS agree
           |FROM te""".stripMargin,
      "classify_logreg_report" ->
        s"""$sigCte
           |SELECT CAST($bin AS BIGINT) AS bin,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(y) AS BIGINT) AS n_pos,
           |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate,
           |  round(CAST(sum(CAST(round(($z) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*), 6) AS mean_z
           |FROM te GROUP BY 1""".stripMargin)
  }

  /** DuckDB oracle for classify_logreg_multi — the d=6 twin of
    * [[logitOracles]]: six bigint count signals, the same
    * fixed-order zSql string over seven round-trip literals. */
  private def logitWideOracle(m: operators.Logit.LogitModel): String = {
    val z = operators.Logit.zSql(m)
    val nStop = s"len(list_intersect(list_distinct(w), ${LangSql.en}))"
    val sigCte =
      s"""WITH sig AS (SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST($nStop AS BIGINT) AS n_stop,
         |    CAST(len(txt) AS BIGINT) AS n_chars,
         |    CAST(coalesce(list_max(list_transform(w, x -> length(x))), 0) AS BIGINT) AS max_wlen,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         |    CASE WHEN len(w) >= 30 AND $nStop >= 1 THEN 1 ELSE 0 END AS y
         |  FROM (SELECT doc_id, coalesce(text, '') AS txt,
         |          list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
         |        FROM documents)),
         |te AS (SELECT * FROM sig WHERE doc_id % 5 = 0)""".stripMargin
    val pred = s"CAST(CASE WHEN ($z) >= 0.0 THEN 1 ELSE 0 END AS BIGINT)"
    s"""$sigCte
       |SELECT doc_id, CAST(y AS BIGINT) AS label, $pred AS pred,
       |  round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-($z))), 6) AS prob,
       |  round($z, 6) AS z,
       |  (CAST(y AS BIGINT) = $pred) AS agree
       |FROM te""".stripMargin
  }
}
