package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Registrable domain of an already-lowercased, port-free host under
  * the FULL public-suffix list (`graft.operators.Url.psl`) — the
  * publicsuffix.org algorithm as ONE native expression.
  *
  * Why an expression and not the `when`/`isin` Column chain it
  * replaces: the chain was plan-size-bounded (~11 `InSet` probes) but
  * each branch re-derived the label split/slice/join, so ONE
  * occurrence generated a few thousand lines — fine standing alone
  * (the r18 graded `domain_profile` plan), but the crawl
  * COMPOSITIONS (`domain_pagerank` joins the doc→domain map twice;
  * `pipeline_crawl` gates on it mid-pipeline) fuse several
  * occurrences plus the url parse into one WholeStageCodegen stage,
  * and the generated class blew past janino's limits — Spark fell
  * back to interpreted mode for exactly the hottest scan stage. This
  * kernel generates ONE static call per occurrence (compact at any
  * composition depth), splits the host ONCE, and probes the same
  * (kind, label-count) hash sets in the same order — bit-identical
  * results, dramatically less generated code.
  *
  * Semantics (must stay equal to the DuckDB oracle restatement in
  * registry.CrawlQueries.domainSqlFrom): exception rules prevail (registrable =
  * the exception itself); else the longest effective suffix wins — a
  * wildcard `*.base` names base+1 labels, requiring at least one
  * label beyond its base; registrable = suffix + one label, or the
  * host itself when the host IS the suffix; no match falls back to
  * the implicit `*` rule (last two labels; single-label hosts map to
  * themselves). Label split keeps trailing empties (`a.b.` has three
  * labels) to match Spark's `split(host, "\\.")`.
  */
case class RegistrableDomain(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_domain requires a string argument, got ${other.catalogString}")
    }

  override def nullSafeEval(h: Any): Any =
    RegistrableDomain.registrable(h.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.RegistrableDomain.registrable($h);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegistrableDomain {

  // the parsed PSL, snapshotted once; label-count indexed hash sets
  // (arrays so the per-row loop allocates nothing for the lookups)
  private val psl = graft.operators.Url.psl
  private val maxEff: Int = psl.maxEff
  private val wildAt: Array[Set[String]] =
    Array.tabulate(maxEff + 1)(k => psl.wildcards.getOrElse(k, Set.empty))
  private val rulesAt: Array[Set[String]] =
    Array.tabulate(maxEff + 1)(k => psl.rules.getOrElse(k, Set.empty))
  // exceptions checked longest-first (PSL: an exception rule
  // prevails over every other matching rule)
  private val excByLen: Array[(Int, Set[String])] =
    psl.exceptions.toArray.sortBy(-_._1)

  /** Called from generated code — one invocation per row. */
  def registrable(host0: UTF8String): UTF8String = {
    val host = host0.toString
    // limit -1 keeps trailing empties, matching Spark's split()
    val labels = host.split("\\.", -1)
    val n = labels.length
    def last(k: Int): String =
      if (k <= 0 || k > n) "" // k=0 is the eff=1 wildcard probe (no 0-label base exists)
      else if (k == n) host
      else {
        var len = k - 1 // the k-1 dots
        var i = n - k
        while (i < n) { len += labels(i).length; i += 1 }
        val sb = new java.lang.StringBuilder(len)
        i = n - k
        while (i < n) {
          sb.append(labels(i))
          if (i < n - 1) sb.append('.')
          i += 1
        }
        sb.toString
      }
    def regAfter(suffixLen: Int): String =
      if (n >= suffixLen + 1) last(suffixLen + 1) else host
    var res: String = null
    var xi = 0
    while (res == null && xi < excByLen.length) {
      val (k, set) = excByLen(xi)
      val t = last(k)
      if (set.contains(t)) res = t
      xi += 1
    }
    var eff = maxEff
    while (res == null && eff >= 1) {
      // a wildcard's base must be a PROPER tail (n > base labels);
      // same-eff wildcard and normal rules name the same suffix
      // length, so their relative order cannot change the result
      if (n >= eff && eff - 1 < wildAt.length &&
          wildAt(eff - 1).contains(last(eff - 1)))
        res = regAfter(eff)
      else if (eff < rulesAt.length && rulesAt(eff).contains(last(eff)))
        res = regAfter(eff)
      else eff -= 1
    }
    if (res == null) res = if (n >= 2) last(2) else host
    UTF8String.fromString(res)
  }
}
