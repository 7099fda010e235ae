package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** difflib `SequenceMatcher(None, a, b).ratio()` — exact semantics,
  * including the autojunk rule (for |b| ≥ 200, characters occurring more
  * than |b|/100 + 1 times are "popular": excluded from seed matches but
  * matched during block extension). The reference's `fuzz.ratio`
  * (word2vec_dbscan_approach.ipynb:30210) is fuzzywuzzy's difflib
  * fallback: `int(round(100 * ratio))` with banker's rounding.
  *
  * ratio = 2·M / (|a|+|b|) where M totals the recursive longest-matching-
  * block decomposition (Ratcliff–Obershelp as implemented by difflib —
  * tie-break: earliest i, then earliest j). Per-pair cost is O(|a|·occ)
  * like the original; this is a scalar kernel, embarrassingly parallel
  * across rows. 1.0 when both sides are empty (difflib's convention). */
case class GraftSeqRatio(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_seq_ratio"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SeqRatio.ratio(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.SeqRatio.ratio($a.toString(), $b.toString());")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftSeqRatio = copy(left = l, right = r)
}

object SeqRatio {

  def ratio(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la + lb == 0) return 1.0
    // b2j: char → ascending positions in b; autojunk removes "popular"
    // chars from the index (but they still extend blocks — see below)
    val counts = new java.util.HashMap[Character, Integer]()
    var j = 0
    while (j < lb) {
      val c = b.charAt(j)
      val n = counts.get(c)
      counts.put(c, if (n == null) 1 else n + 1)
      j += 1
    }
    val popular = new java.util.HashSet[Character]()
    if (lb >= 200) {
      val thresh = lb / 100 + 1
      counts.forEach { (c, n) => if (n > thresh) popular.add(c) }
    }
    val b2j = new java.util.HashMap[Character, Array[Int]]()
    counts.forEach { (c, n) =>
      if (!popular.contains(c)) b2j.put(c, new Array[Int](0))
    }
    // fill position arrays (second pass keeps them ascending)
    val fill = new java.util.HashMap[Character, Int]()
    b2j.forEach { (c, _) =>
      b2j.put(c, new Array[Int](counts.get(c))); fill.put(c, 0)
    }
    j = 0
    while (j < lb) {
      val c = b.charAt(j)
      val arr = b2j.get(c)
      if (arr != null) { val k = fill.get(c); arr(k) = j; fill.put(c, k + 1) }
      j += 1
    }
    // IMPORTANT difflib distinction: bpopular (autojunk) chars are only
    // excluded from SEED matches (b2j); the extension loops' isbjunk
    // tests the EXPLICIT junk set, which is empty for
    // SequenceMatcher(None, ...) — popular chars therefore extend in the
    // primary loops. Treating popular as junk diverged from difflib on
    // ~1% of random ≥200-char pairs (verified differentially).
    def isJunk(c: Char): Boolean = false

    // difflib find_longest_match over [alo,ahi) × [blo,bhi):
    // returns (besti, bestj, size)
    def flm(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo
      var bestj = blo
      var bestsize = 0
      var j2len = new java.util.HashMap[Integer, Integer]()
      var i = alo
      while (i < ahi) {
        val newj2len = new java.util.HashMap[Integer, Integer]()
        val arr = b2j.get(a.charAt(i))
        if (arr != null) {
          var x = 0
          var done = false
          while (x < arr.length && !done) {
            val jj = arr(x)
            if (jj >= blo) {
              if (jj >= bhi) done = true
              else {
                val prev = j2len.get(jj - 1)
                val k = (if (prev == null) 0 else prev.intValue) + 1
                newj2len.put(jj, k)
                if (k > bestsize) {
                  besti = i - k + 1; bestj = jj - k + 1; bestsize = k
                }
              }
            }
            x += 1
          }
        }
        j2len = newj2len
        i += 1
      }
      // extend with non-junk matches, then over junk (difflib order)
      while (besti > alo && bestj > blo && !isJunk(b.charAt(bestj - 1)) &&
        a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
        !isJunk(b.charAt(bestj + bestsize)) &&
        a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      while (besti > alo && bestj > blo && isJunk(b.charAt(bestj - 1)) &&
        a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
        isJunk(b.charAt(bestj + bestsize)) &&
        a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      (besti, bestj, bestsize)
    }

    // recursive block decomposition (explicit stack; only the match total
    // matters for ratio)
    var matches = 0L
    val stack = new java.util.ArrayDeque[(Int, Int, Int, Int)]()
    stack.push((0, la, 0, lb))
    while (!stack.isEmpty) {
      val (alo, ahi, blo, bhi) = stack.pop()
      val (i, jj, k) = flm(alo, ahi, blo, bhi)
      if (k > 0) {
        matches += k
        if (alo < i && blo < jj) stack.push((alo, i, blo, jj))
        if (i + k < ahi && jj + k < bhi) stack.push((i + k, ahi, jj + k, bhi))
      }
    }
    2.0 * matches / (la + lb)
  }
}
