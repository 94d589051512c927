package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType,
  StringType, StructField, StructType}

/** Shannon entropy of a string's character distribution over a fixed
  * ASCII `alphabet`, in ONE pass over the bytes — the codegen'd
  * replacement for the 2·|alphabet| translate/length scans the Column
  * formulation costs (measured 2 s → scan-speed at sf0.1).
  *
  * Arithmetic is bit-identical to the per-char-count formulation the
  * DuckDB oracle uses: integer counts, then Σ (c/n)·ln(c/n) folded in
  * alphabet order, negated — only the counting pass is fused.
  * Characters outside the alphabet are ignored; a string with no
  * alphabet characters scores 0.0. The alphabet must be ASCII: UTF-8
  * multi-byte sequences never produce bytes < 0x80, so byte counting
  * equals character counting for every ASCII alphabet. */
case class CharEntropy(child: Expression, alphabet: String)
  extends UnaryExpression {

  require(alphabet.nonEmpty && alphabet.forall(_ < 128) &&
    alphabet.distinct == alphabet,
    "alphabet must be non-empty, ASCII, and duplicate-free")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_char_entropy requires a string argument, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextExprs.charEntropy(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes, alphabet)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val alpha = ctx.addReferenceObj("alphabet", alphabet, "java.lang.String")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextExprs.charEntropy($a.getBytes(), $alpha);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The deterministic hash-ngram embedder as ONE expression, the only
  * embedding code in graft (see [[graft.operators.Embed]]): token →
  * 60-bit md5 hash → bucket (mod dim) → counts → L2-normalized
  * weights, per row, riding the scan with no shuffle. The norm is Σc²
  * of integer counts — exact in any order — so the weights are the
  * same doubles however the words are ordered. */
case class HashEmbed(child: Expression, dim: Int) extends UnaryExpression {

  require(dim >= 1, s"dim must be >= 1, got $dim")

  override def prettyName: String = "graft_hash_embed"

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_hash_embed requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextExprs.hashEmbed(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], dim))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextExprs.hashEmbed($a, $dim));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-row Naive Bayes scoring against a trained, driver-resident
  * model — the scan-speed deployment form of
  * [[graft.operators.TextAnalysis.naiveBayes]]: the model (per-label
  * priors + a flattened [label][bucket] log-likelihood table, ≤
  * labels × buckets doubles BY CONSTRUCTION) ships to executors as a
  * codegen reference object, so classification is one map-side
  * expression over the words array — no joins, no shuffles, and it
  * runs unchanged inside a streaming micro-batch.
  *
  * Arithmetic is bit-identical to the batch operator: per label, the
  * token log-likelihoods accumulate from 0.0 in ARRAY (= position)
  * order and the prior is added LAST — the same fold the batch side's
  * `prior + coalesce(Σ, 0.0)` computes — and the argmax keeps the
  * FIRST maximal label index (labels are passed sorted, so ties break
  * to the lexicographically first label, like the batch min(label)).
  * Empty/null tokens are skipped, matching the batch tokenizer's
  * non-empty filter. Output: struct(idx int, score double). */
case class NbScore(child: Expression, lls: Array[Double],
                   priors: Array[Double], buckets: Int)
  extends UnaryExpression {

  require(priors.nonEmpty, "NbScore needs at least one label")
  require(buckets > 0, s"buckets must be > 0, got $buckets")
  require(lls.length == priors.length * buckets,
    s"lls length ${lls.length} != labels ${priors.length} x buckets $buckets")

  override def dataType: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nb_score requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextExprs.nbScore(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lls, priors, buckets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val llsRef = ctx.addReferenceObj("nbLls", lls, "double[]")
    val priRef = ctx.addReferenceObj("nbPriors", priors, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextExprs.nbScore($a, $llsRef, $priRef, $buckets);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[NbScore]]'s all-labels sibling: the FULL per-label score vector
  * (prior added last, same position-ordered token fold — element l is
  * bit-identical to the batch chain's (doc, label_l) score) plus the
  * non-empty token count, struct(scores array<double>, ntok int).
  * Exists for the consumers that need every label's likelihood, not
  * the argmax — the tempered-softmax calibration's denominator folds
  * over all of them. */
case class NbScoresVec(child: Expression, lls: Array[Double],
                       priors: Array[Double], buckets: Int)
  extends UnaryExpression {

  require(priors.nonEmpty, "NbScoresVec needs at least one label")
  require(buckets > 0, s"buckets must be > 0, got $buckets")
  require(lls.length == priors.length * buckets,
    s"lls length ${lls.length} != labels ${priors.length} x buckets $buckets")

  override def dataType: DataType = StructType(Seq(
    StructField("scores", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("ntok", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nb_scores requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextExprs.nbScores(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lls, priors, buckets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val llsRef = ctx.addReferenceObj("nbLls", lls, "double[]")
    val priRef = ctx.addReferenceObj("nbPriors", priors, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextExprs.nbScores($a, $llsRef, $priRef, $buckets);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  def charEntropyCol(s: Column, alphabet: String): Column =
    GraftBridge.toColumn(CharEntropy(GraftBridge.toExpression(s), alphabet))

  def nbScoreCol(words: Column, lls: Array[Double], priors: Array[Double],
                 buckets: Int): Column =
    GraftBridge.toColumn(NbScore(GraftBridge.toExpression(words), lls, priors, buckets))

  def nbScoresCol(words: Column, lls: Array[Double], priors: Array[Double],
                  buckets: Int): Column =
    GraftBridge.toColumn(NbScoresVec(GraftBridge.toExpression(words), lls, priors, buckets))

  def hashEmbedCol(words: Column, dim: Int): Column =
    GraftBridge.toColumn(HashEmbed(GraftBridge.toExpression(words), dim))

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Raw md5 digest via the shared thread-local instance — for
    * kernels that read several substrings of ONE digest (the bloom
    * position family) instead of re-hashing per substring. */
  def md5Digest(bytes: Array[Byte]): Array[Byte] = {
    val d = md5Local.get()
    d.reset()
    d.digest(bytes)
  }

  /** The engine's md5-derived 60-bit hash (first 15 hex nibbles of
    * md5 = first 7.5 digest bytes), byte-assembled — identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)` without the hex-string
    * round trip. */
  def hash60(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xFF); i += 1 }
    (v << 4) | ((h(7) & 0xFF) >>> 4)
  }

  /** One-pass hash embedding that the interpreted and generated code
    * and [[graft.operators.Embed.embedText]] call: bucket counts over
    * the words, then weight = c / √(Σc²) in bucket order; no words
    * give the zero vector. Null array elements count as the empty
    * string (split never produces nulls; defensive). */
  def hashEmbed(words: org.apache.spark.sql.catalyst.util.ArrayData,
                dim: Int): Array[Double] = {
    val counts = new Array[Long](dim)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      val w = if (words.isNullAt(i)) Array.emptyByteArray
        else words.getUTF8String(i).getBytes
      counts((hash60(w) % dim).toInt) += 1
      i += 1
    }
    var s2 = 0L
    var j = 0
    while (j < dim) { s2 += counts(j) * counts(j); j += 1 }
    val out = new Array[Double](dim)
    if (s2 > 0) {
      val nrm = math.sqrt(s2.toDouble)
      j = 0
      while (j < dim) { out(j) = counts(j) / nrm; j += 1 }
    }
    out
  }

  /** One-pass count + ordered entropy fold both the interpreted and
    * generated code call. Counts bytes (correct for ASCII alphabets,
    * see [[CharEntropy]]); the fold visits counts in alphabet order,
    * skipping zeros — the same terms, in the same order, as the
    * oracle's `list_sum(list_transform(cnts, …))`. */
  def charEntropy(bytes: Array[Byte], alphabet: String): Double = {
    val counts = new Array[Long](128)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 0) counts(b) += 1
      i += 1
    }
    var n = 0L
    var j = 0
    while (j < alphabet.length) {
      n += counts(alphabet.charAt(j))
      j += 1
    }
    if (n == 0L) return 0.0
    var acc = 0.0
    j = 0
    while (j < alphabet.length) {
      val c = counts(alphabet.charAt(j))
      if (c > 0L) {
        val p = c.toDouble / n
        acc += p * math.log(p)
      }
      j += 1
    }
    -acc
  }

  /** One-pass NB scoring both the interpreted and generated code
    * call: per label, log-likelihoods accumulate from 0.0 in token
    * order, prior added last; argmax keeps the FIRST maximal index.
    * See [[NbScore]] for the bit-equality contract with the batch
    * operator. */
  def nbScore(words: org.apache.spark.sql.catalyst.util.ArrayData,
              lls: Array[Double], priors: Array[Double],
              buckets: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nl = priors.length
    val acc = new Array[Double](nl)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        if (w.numBytes() > 0) {
          val b = (hash60(w.getBytes) % buckets).toInt
          var l = 0
          while (l < nl) { acc(l) += lls(l * buckets + b); l += 1 }
        }
      }
      i += 1
    }
    var l = 0
    while (l < nl) { acc(l) = priors(l) + acc(l); l += 1 }
    var best = 0
    l = 1
    while (l < nl) { if (acc(l) > acc(best)) best = l; l += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best, acc(best)))
  }

  /** All-labels twin of [[nbScore]]: the identical per-label fold
    * (accumulate token lls in position order from 0.0, prior added
    * LAST), returning every label's score plus the non-empty token
    * count — struct(scores, ntok). Element l is bit-identical to
    * [[nbScore]]'s winning score when l is the argmax. */
  def nbScores(words: org.apache.spark.sql.catalyst.util.ArrayData,
               lls: Array[Double], priors: Array[Double],
               buckets: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nl = priors.length
    val acc = new Array[Double](nl)
    val n = words.numElements()
    var ntok = 0
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        if (w.numBytes() > 0) {
          ntok += 1
          val b = (hash60(w.getBytes) % buckets).toInt
          var l = 0
          while (l < nl) { acc(l) += lls(l * buckets + b); l += 1 }
        }
      }
      i += 1
    }
    var l = 0
    while (l < nl) { acc(l) = priors(l) + acc(l); l += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(acc),
        ntok))
  }
}
