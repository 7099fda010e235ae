package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface of the reference (SURVEY.md §2.2–§2.7).
  *
  * Each method expresses one reference pattern as a declarative DataFrame
  * transformation so Catalyst handles pushdown/pruning/join strategy.
  * Scale notes are per-operator; nothing here collects to the driver.
  */
object Relational {

  /** A3 `value_counts` (rucio_data_exploration.ipynb:800-801): per-key
    * frequency, descending, deterministic
    * tie-break on the key. One shuffle (partial agg map-side). */
  def valueCounts(df: DataFrame, key: String, cntCol: String = "cnt"): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as(cntCol))
      .orderBy(desc(cntCol), col(key))

  /** A4 multi-key group size (`groupby([k1,k2]).size()`,
    * rucio_data_exploration.ipynb:1185-1186). */
  def groupSize(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))

  /** O3 top-k of a value_counts (`value_counts()[:k]`,
    * rucio_data_exploration.ipynb:860-865), deterministic.
    * Catalyst plans this as TakeOrderedAndProject — no full sort at scale. */
  def topK(df: DataFrame, key: String, k: Int): DataFrame =
    valueCounts(df, key).limit(k)

  /** P4/J1 (rucio_data_exploration.ipynb:1057): semi-join against the
    * computed top-n key list. The top-n list is
    * tiny by construction, so Spark broadcasts it; at 100 TB the fact side
    * never shuffles. */
  def semiJoinTopN(fact: DataFrame, key: String, n: Int): DataFrame = {
    val top = topK(fact, key, n).select(key)
    fact.join(broadcast(top), Seq(key), "left_semi")
  }

  /** A5 crosstab (`pd.crosstab`, rucio_data_exploration.ipynb:1487-1490):
    * groupBy(row).pivot(col).count with an
    * explicit value list so the plan is a single shuffle (no extra pass to
    * discover pivot values). */
  def crosstab(df: DataFrame, rowKey: String, colKey: String,
               colValues: Seq[String]): DataFrame =
    df.groupBy(col(rowKey)).pivot(colKey, colValues).count()
      .na.fill(0).orderBy(col(rowKey))

  /** A5 crosstab with pandas-style value discovery: one extra distinct
    * pass finds the pivot columns (capped — a pivot wider than `maxCols`
    * is a misuse of crosstab, not a bigger crosstab), then the single
    * pivot shuffle as above. */
  def crosstabDiscover(df: DataFrame, rowKey: String, colKey: String,
                       maxCols: Int = 10000): DataFrame = {
    // drop null keys (pandas crosstab does; String.sorted would NPE)
    val values = df.select(col(colKey).cast("string"))
      .filter(col(colKey).isNotNull).distinct()
      .limit(maxCols + 1).collect().map(_.getString(0)).sorted
    require(values.length <= maxCols,
      s"crosstab: more than $maxCols distinct values in $colKey")
    crosstab(df, rowKey, colKey, values.toSeq)
  }

  /** A6 describe (rucio_data_exploration.ipynb:607;
    * rucio_data_access_HDFS.ipynb:2320-2325): count/mean/min/max
    * (+ stddev) of one numeric column.
    * mean is routed through exact decimal (see Tables.davg) by callers that
    * need oracle parity. */
  def describeNumeric(df: DataFrame, c: String): DataFrame =
    df.agg(
      count(col(c)).as("count"),
      avg(col(c)).as("mean"),
      stddev(col(c)).as("stddev"),
      min(col(c)).as("min"),
      max(col(c)).as("max"))

  /** A6 describe, oracle-parity variant: count/mean/std/min/max where mean
    * and std come from EXACT decimal sums (the input is 2-decimal money
    * data) so the result is order-independent and identical across
    * engines — a streaming stddev would not hash-match the oracle. */
  def describeExact(df: DataFrame, c: String): DataFrame = {
    import graft.core.Tables.dec
    val agg = df.agg(
      count(col(c)).as("n"),
      sum(dec(col(c))).as("s"),
      sum(dec(col(c)) * dec(col(c))).as("sq"),
      min(col(c)).as("min_v"),
      max(col(c)).as("max_v"))
    val n = col("n").cast("double")
    val s = col("s").cast("double")
    val sq = col("sq").cast("double")
    agg.select(
      col("n").as("count"),
      (s / n).as("mean"),
      when(col("n") < 2, lit(null).cast("double"))
        .otherwise(sqrt(greatest((sq - s * s / n) / (n - lit(1.0)), lit(0.0))))
        .as("std"),
      col("min_v").as("min"),
      col("max_v").as("max"))
  }

  /** A6 full-frame describe — the pandas `describe(include='all')` shape
    * (`rucio_data_exploration.ipynb:607`): one ROW per column with
    * count / unique / top / freq (all columns) plus mean / std / min /
    * quartiles / max (numeric columns; exact decimal sums and exact
    * interpolated percentiles, 1e-6-quantized, so the row hash-matches
    * the DuckDB oracle). `top` is the modal value with a deterministic
    * tie-break (highest count, then smallest value) — pandas leaves the
    * tie unspecified.
    *
    * Scale shape (r20): ONE shared aggregation pass computes every
    * column's scalar stats — counts, distincts, exact decimal sums,
    * min/max and the per-column array percentiles all ride a single
    * scan (the pre-r20 form ran one full pass per column, plus one
    * more per string column: 4 scans for the a6 fixture, now 2). The
    * multi-column countDistincts plan as one Expand over the shared
    * scan — rows multiply in memory by the distinct-agg count, but the
    * table is READ once (§6). The single agg row then explodes to the
    * one-row-per-column output. Only the modal value still needs its
    * own narrow groupBy per STRING column (a per-value count cannot
    * ride a global agg), shuffling one (value, count) pair per
    * distinct value.
    *
    * Contract: `cols` must be distinct — the shared pass aliases stats
    * by column name — and a duplicate name throws
    * `IllegalArgumentException` before any job runs.
    *
    * SCALE BOUNDARY (exact percentiles): the three quartiles come from ONE
    * `percentile(col, array(0.25,0.5,0.75))` aggregate — a single shared
    * TypedImperativeAggregate buffer per column (not three independent
    * ones). That buffer still holds every distinct (value,count) pair of
    * the column and merges in one final task, so this EXACT form is the
    * fixture/oracle contract only. At 100 TB choose per column:
    * `distQuartiles = true` sources the quartiles from
    * [[graft.ops.DistQuantile]] instead — EXACT (bit-identical after the
    * shared 1e-6 quantization, same oracle) with bounded memory via
    * iterated histogram refinement (a few extra pruned single-column
    * passes; eager, driver-coordinated) — or [[quantiles]]
    * (one-pass `approx_percentile`, bounded memory, approximate);
    * see PLANS.md §A6. */
  def describeAll(df: DataFrame, cols: Seq[String],
                  distQuartiles: Boolean = false): DataFrame = {
    import graft.core.Tables.dec
    import org.apache.spark.sql.types.NumericType
    require(cols.distinct == cols, s"describeAll: duplicate columns in $cols")
    def isNum(c: String) = df.schema(c).dataType.isInstanceOf[NumericType]
    // TWO shared aggregation passes: the plain stats (counts, exact
    // decimal sums, min/max, percentile buffers) ride one Expand-free
    // agg; the multi-column countDistincts ride their own agg (they
    // plan as an Expand that multiplies rows per distinct-agg — the
    // heavy percentile buffers must NOT sit behind it: measured 3.2 s
    // combined vs 1.0 s split at sf0.1). Both are 1-row frames.
    val plainAggs: Seq[Column] = cols.flatMap { c =>
      val base = Seq(count(col(c)).as(s"${c}_count"))
      if (!isNum(c)) base
      else base ++ Seq(
        sum(dec(col(c))).as(s"${c}_s"),
        sum(dec(col(c)) * dec(col(c))).as(s"${c}_sq"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max")) ++
        // quartile source: the single-buffer exact percentile (fixture
        // contract) or DistQuantile's bounded-memory exact refinement —
        // same values bit-for-bit after the shared 1e-6 quantization
        (if (distQuartiles) Nil
         else Seq(percentile(col(c),
           array(lit(0.25), lit(0.5), lit(0.75))).as(s"${c}_qs")))
    }
    val distinctAggs: Seq[Column] =
      cols.map(c => countDistinct(col(c)).as(s"${c}_unique"))
    val g0 = df.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(df.agg(distinctAggs.head, distinctAggs.tail: _*))
    val g =
      if (!distQuartiles) g0
      else cols.filter(isNum).foldLeft(g0) { (acc, c) =>
        acc.crossJoin(DistQuantile.quantiles(df.sparkSession, df, c)
          .select(col("p25").as(s"${c}_p25"), col("p50").as(s"${c}_p50"),
            col("p75").as(s"${c}_p75")))
      }
    // the single agg row explodes to one output row per column
    val rows = g.select(explode(array(cols.map { c =>
      val nul = lit(null).cast("double")
      val fields =
        if (!isNum(c)) Seq(nul.as("mean"), nul.as("std"), nul.as("min_v"),
          nul.as("p25"), nul.as("p50"), nul.as("p75"), nul.as("max_v"))
        else {
          val n = col(s"${c}_count").cast("double")
          val s = col(s"${c}_s").cast("double")
          val sq = col(s"${c}_sq").cast("double")
          def q(i: Int, name: String) =
            if (distQuartiles) col(s"${c}_$name").as(name)
            else (round(element_at(col(s"${c}_qs"), i) * 1e6) / 1e6).as(name)
          Seq((s / n).as("mean"),
            when(col(s"${c}_count") < 2, nul)
              .otherwise(sqrt(greatest((sq - s * s / n) / (n - lit(1.0)),
                lit(0.0)))).as("std"),
            col(s"${c}_min").as("min_v"),
            q(1, "p25"), q(2, "p50"), q(3, "p75"),
            col(s"${c}_max").as("max_v"))
        }
      struct(Seq(lit(c).as("column"),
        col(s"${c}_count").as("count"),
        col(s"${c}_unique").as("unique")) ++ fields: _*)
    }: _*)).as("r")).select("r.*")
    // modal value: its own narrow groupBy per STRING column, joined back
    val modes = cols.filterNot(isNum).map { c =>
      df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("top"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("top")).limit(1)
        .select(lit(c).as("column"), col("top"), col("freq"))
    }
    val withMode = modes match {
      case Nil => rows
        .withColumn("top", lit(null).cast("string"))
        .withColumn("freq", lit(null).cast("long"))
      case ms => rows.join(ms.reduce(_ unionByName _), Seq("column"), "left")
    }
    withMode.select(col("column"), col("count"), col("unique"),
        col("top"), col("freq"), col("mean"), col("std"), col("min_v"),
        col("p25"), col("p50"), col("p75"), col("max_v"))
      .orderBy("column")
  }

  /** A7 share-of-total over top-n (rucio_data_exploration.ipynb:860-865):
    * share = key_count / total via a window
    * over the (tiny) aggregated frame — the window runs on the agg output,
    * never on the fact table. */
  def shareOfTotal(df: DataFrame, key: String, n: Int): DataFrame = {
    val counts = valueCounts(df, key)
    // Window sum over the FULL aggregated frame (global total), applied
    // before the top-n limit — reference A7 divides by the sum over ALL
    // keys, not the top-n sum. The window input is the (small) agg output.
    counts
      .withColumn("share",
        col("cnt").cast("double") / sum("cnt").over(Window.partitionBy()))
      .orderBy(desc("cnt"), col(key))
      .limit(n)
  }

  /** §2.5 top-n per group via row_number window; shuffles once on the
    * partition key. */
  def topNPerGroup(df: DataFrame, grp: String, orderCol: Column,
                   tieBreak: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(col(grp)).orderBy(orderCol, tieBreak)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n).drop("rn")
  }

  /** J5 AS-OF (backward) join: attach to every left row the LATEST right
    * row of the same key with `right.ts <= left.ts` (inclusive — kdb/
    * DuckDB ASOF semantics), null-extending lefts with no prior right
    * (ASOF LEFT JOIN). The classic "state as of the event" operator:
    * last click before a purchase, last quote before a trade.
    *
    * Shape: NOT the naive range join (an O(pairs) inequality join plus a
    * max-per-left regroup — two wide shuffles and a skew trap). Both
    * sides are UNIONED, tagged, and swept by ONE running window per key:
    * a single hash exchange on the key, one per-partition sort, and the
    * `last(_, ignoreNulls)` frame (unbounded-preceding → current) is
    * incremental — O(1) state per row, no per-group buffering. At equal
    * ts the right row sorts FIRST (`_is_r` desc), which is exactly the
    * inclusive bound.
    *
    * `rightCols` are carried from the right side and must not collide
    * with left column names (rename before the call). Determinism needs
    * (key, ts) unique on the RIGHT side; when it isn't, pass `tieBreak`
    * (a right-side column, e.g. its row id) and the row with the LARGEST
    * tie-break value among equal (key, ts) wins deterministically —
    * otherwise `last()` picks whichever right row the partition sort
    * happened to place last, which can diverge run-to-run and from
    * DuckDB's native ASOF pick.
    *
    * `direction = "forward"` flips the sweep: attach the EARLIEST right
    * row with `right.ts >= left.ts` (inclusive — DuckDB `ON l.ts <=
    * r.ts`), the "next event after" operator (next retry after a
    * failure, next quote after an order). Identical plan shape — the
    * only change is the descending window sort, so the running `last()`
    * sees right rows at-or-after the current left row. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, rightCols: Seq[String],
               tieBreak: Option[String] = None,
               direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asofJoin: direction must be backward|forward, got $direction")
    require(rightCols.nonEmpty, "asofJoin: no right columns to attach")
    val leftCols = left.columns.toSeq
    require(rightCols.forall(!leftCols.contains(_)),
      s"asofJoin: right columns ${rightCols.filter(leftCols.contains)} collide with left")
    val rSchema = right.select(rightCols.map(col): _*).schema
    val lSchema = left.select(leftCols.map(col): _*).schema
    tieBreak.foreach { tb =>
      require(right.columns.contains(tb),
        s"asofJoin: tie-break column $tb not on the right side")
    }
    // the tie-break only has to order rows WITHIN equal (key, ts, _is_r);
    // left rows carry a typed null (they never compete — _is_r desc
    // dominates at equal ts). Native type kept: a string cast would
    // mis-order numeric ids ("10" < "9").
    val tbType = tieBreak.map(tb => right.schema(tb).dataType)
      .getOrElse(org.apache.spark.sql.types.IntegerType)
    val tbR = tieBreak.map(col).getOrElse(lit(null).cast(tbType))
    val lTagged = left.select(col(keyCol), col(tsCol).as("_ts"),
      lit(0).as("_is_r"), lit(null).cast(tbType).as("_tb"),
      struct(leftCols.map(col): _*).as("_lpay"),
      lit(null).cast(rSchema).as("_rpay"))
    // SQL ASOF semantics: a NULL key or ts on the right can never match
    // (= / >= are unknown) — without this filter, Window.partitionBy
    // would happily group null keys together and attach them. Left rows
    // with null key/ts stay and null-extend (no right sorts before them).
    val rTagged = right
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol).as("_ts"),
        lit(1).as("_is_r"), tbR.as("_tb"),
        lit(null).cast(lSchema).as("_lpay"),
        struct(rightCols.map(col): _*).as("_rpay"))
    // _tb asc → among right rows tied on (key, ts) the frame's last() —
    // i.e. the match — is the one with the LARGEST tie-break.
    // backward sweeps time ascending (last right ≤ ts wins); forward
    // sweeps descending, so the running last() is the EARLIEST right ≥ ts
    val tsOrd = if (direction == "backward") col("_ts").asc else col("_ts").desc
    val w = Window.partitionBy(col(keyCol))
      .orderBy(tsOrd, col("_is_r").desc, col("_tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged)
      .withColumn("_m", last(col("_rpay"), ignoreNulls = true).over(w))
      .filter(col("_is_r") === 0)
      .select(leftCols.map(c => col(s"_lpay.$c").as(c)) ++
        rightCols.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** P5 any-null row filter (`df[df.isnull().any(axis=1)]`,
    * rucio_data_exploration.ipynb:727). */
  def anyNullRows(df: DataFrame): DataFrame =
    df.filter(df.columns.map(c => col(c).isNull).reduce(_ || _))

  /** Cardinality guard for deliberately-bounded O(n²) exact forms (the
    * j4 / llm_cosine_neardup cross joins): a filter LITERAL alone
    * (`vec_id < 300`) silently reintroduces the quadratic blowup if the
    * fixture's id density grows — this makes the bound a hard contract,
    * like `Dbscan.exactOnFrame`'s maxN. The probe is `limit(cap+1)`, so
    * it costs one short-circuiting scan and never counts past the cap. */
  def requireBounded(df: DataFrame, cap: Int, what: String): DataFrame = {
    val probe = df.limit(cap + 1).count()
    require(probe <= cap,
      s"$what: exact O(n^2) form capped at $cap input rows (got > $cap); " +
        "use the documented scale variant (LSH/banded) instead")
    df
  }

  /** J3 dedup-then-broadcast-back — THE reference scaling trick
    * (README.md:43, word2vec_dbscan_approach.ipynb:328-329: cluster 589
    * distinct messages, apply to 2826 rows).
    * Computes `f` over the distinct values of `key` only, then joins the
    * (small) result back. `f`'s output must retain `key`.
    *
    * No forced broadcast: at reference scale (589 keys) AQE broadcasts the
    * computed side on its own; at 100 TB the distinct side can be billions
    * of keys and a forced broadcast would OOM the driver. Callers that KNOW
    * the distinct side is tiny can pass `hintBroadcast = true`. */
  def dedupCompute(df: DataFrame, key: String, hintBroadcast: Boolean = false)
                  (f: DataFrame => DataFrame): DataFrame = {
    val uniq = df.select(key).distinct()
    val computed = f(uniq)
    df.join(if (hintBroadcast) broadcast(computed) else computed, Seq(key), "inner")
  }

  /** Skew-safe equi-join: salt the (skewed) fact side into `salt`
    * sub-keys and replicate the dim side once per sub-key, so a hot key's
    * rows spread over `salt` tasks instead of one straggler. AQE's skew
    * handling covers sort-merge joins after the fact; explicit salting is
    * the deterministic fix when the hot keys are known to be extreme
    * (the 100 TB case: one error message = 30% of the corpus). */
  def skewSafeJoin(fact: DataFrame, dim: DataFrame, key: String,
                   salt: Int = 8): DataFrame = {
    require(salt > 1)
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salt)))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    saltedFact.join(saltedDim, Seq(key, "_salt")).drop("_salt")
  }

  /** A6 pandas-variant quantiles: approx percentiles of a numeric column
    * (exact percentile requires a full sort; approx_percentile is the
    * one-pass scale form — accuracy parameter trades memory for error). */
  def quantiles(df: DataFrame, c: String,
                probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
                accuracy: Int = 10000): DataFrame =
    df.agg(percentile_approx(col(c),
      array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))

  /** Keyed upsert (MERGE): rows of `updates` replace same-key rows of
    * `base`; new keys append. Plans as updates ∪ (base ⟕̸ updates); the
    * anti-join's key list broadcasts whenever updates are small (AQE /
    * autoBroadcastJoinThreshold) — the common incremental-batch shape: a
    * day's changes against a 100-TB table reads the base ONCE with a
    * broadcast filter and never shuffles it. Schemas must match
    * (enforced by unionByName). */
  def upsert(base: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame =
    updates.unionByName(
      base.join(updates.select(keys.map(col): _*), keys, "left_anti"))

  /** J6 anti-join: rows of `left` with NO match in `right` on `keys` —
    * the set-subtraction join (upsert above already uses the same plan
    * shape for its append branch; this is the standalone operator).
    *
    * Scale: the common case is a huge left against a small exclusion
    * list (blocklist, already-processed ids) — AQE broadcasts the right
    * side and the left is ONE scan with a broadcast probe, zero shuffle
    * of the big table. When both sides are huge it degrades gracefully
    * to a sort-merge anti on the key shuffle. `hintBroadcast` pins the
    * broadcast when the caller knows the right side is small but stats
    * don't (a freshly computed aggregate has no size estimate). */
  def antiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               hintBroadcast: Boolean = false): DataFrame =
    left.join(if (hintBroadcast) broadcast(right) else right, keys, "left_anti")

  /** Point-in-interval range join, bin-bucketed for scale: each point
    * joins every interval `[loCol, hiCol]` containing it.
    *
    * A naive `pt BETWEEN lo AND hi` join has no equality predicate, so
    * Spark plans BroadcastNestedLoopJoin — O(points × intervals)
    * comparisons, a non-starter when both sides are large. Binning
    * restores an equi-key: points land in exactly ONE bin
    * (`floor(pt/W)`), intervals replicate into the `len/W + 1` bins they
    * overlap, the join runs hash-partitioned on the bin, and the exact
    * `BETWEEN` filter keeps only true containments. Each (point,
    * interval) pair meets in exactly one bin (the point's), so no
    * dedup pass is needed. Choosing `binWidth` ≥ the typical interval
    * length bounds replication at ~2×; hot bins are AQE skew-split.
    * Inverted intervals (lo > hi) are dropped up front — Spark's
    * `sequence(a, b)` would otherwise COUNT DOWN and silently treat
    * them as valid bins.
    *
    * Column names of the two inputs must be disjoint (checked). */
  def rangeJoinPoints(points: DataFrame, ptCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty, s"column names must be disjoint, shared: $overlap")
    // `_bin` is the internal working column: a caller's column of that
    // name would be silently clobbered by withColumn and then dropped
    require(!points.columns.contains("_bin") &&
      !intervals.columns.contains("_bin"),
      "column name _bin is reserved by rangeJoinPoints")
    val binned = points.withColumn("_bin",
      floor(col(ptCol) / binWidth).cast("long"))
    val ivBins = intervals.filter(col(loCol) <= col(hiCol)).withColumn("_bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    binned.join(ivBins, Seq("_bin"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("_bin")
  }

  /** CDC changelog apply — [[upsert]] extended with DELETE semantics:
    * each `changes` row carries an op marker (insert/update rows replace
    * or append by key; `deleteOp` rows remove the key). Same plan shape
    * as upsert: surviving changes ∪ (base anti-join change keys) — one
    * anti-join whose key list broadcasts when the day's changelog is
    * small, so the 100-TB base is ONE scan and never shuffles. The
    * changelog must be key-unique (one winner per key — compact a raw
    * multi-version log with a TopKPerGroup/last-writer pass first). */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
               opCol: String = "op", deleteOp: String = "D",
               hintBroadcast: Boolean = false): DataFrame = {
    // a freshly derived changelog has no stats, so without the hint the
    // anti-join sort-merges — shuffling the whole base (measured 6.6 s
    // sort-merge vs 1.1 s broadcast at ×100 = 15M base rows, PLANS.md
    // calibration `r10new`). Hint when the day's changes are
    // known-small; leave to AQE otherwise.
    val keyList = changes.select(keys.map(col): _*)
    // null-SAFE comparison: a malformed NULL-op row must behave as an
    // upsert (its key leaves the base AND the row survives) — the
    // null-unsafe `=!=` would drop it from the surviving branch while
    // its key still anti-joins away the base row: a silent delete
    changes.filter(!(col(opCol) <=> deleteOp)).drop(opCol)
      .unionByName(base.join(
        if (hintBroadcast) broadcast(keyList) else keyList, keys, "left_anti"))
  }

  /** W6 per-key EWMA core over (id, key, ord, value) rows: the
    * genuinely-sequential recurrence `state = α·x + (1−α)·state` no
    * window frame expresses — keys hash-partitioned, locally sorted by
    * (key, ord, id), ONE typed mapPartitions pass with O(1) state reset
    * at key boundaries. Returns (id, key, ewma).
    *
    * BOTH α and 1−α are passed explicitly: `1.0 - 0.3` is not the
    * double literal `0.7`, and the SQL twin mirrors the literals
    * verbatim. The registered w6_ewma query runs it, and PLANS.md
    * calibration `r10new` timed this same code. Dataset (not RDD)
    * mapPartitions keeps the exchange visible to plan audits. */
  def ewmaTyped(ds: Dataset[(Long, Long, Long, Double)],
                alpha: Double, oneMinusAlpha: Double)
      : Dataset[(Long, Long, Double)] = {
    import ds.sparkSession.implicits._
    // .as[tuple] keeps the caller's column names — normalize to the
    // tuple names so the partition/sort columns resolve for any input
    ds.toDF("_1", "_2", "_3", "_4").as[(Long, Long, Long, Double)]
      .repartition(col("_2"))
      .sortWithinPartitions("_2", "_3", "_1")
      .mapPartitions { it =>
        var curKey = 0L; var started = false
        var state = 0.0; var first = true
        it.map { case (id, key, _, x) =>
          if (!started || key != curKey) {
            started = true; curKey = key; first = true
          }
          state = if (first) { first = false; x }
            else alpha * x + oneMinusAlpha * state
          (id, key, state)
        }
      }
  }

  /** A2 distinct count (word2vec_dbscan_approach.ipynb:351), exact. */
  def distinctCount(df: DataFrame, c: String): DataFrame =
    df.agg(countDistinct(col(c)).as("n_distinct"))

  /** A2 scale variant: HyperLogLog++ distinct count — one pass, no
    * shuffle of the values themselves, bounded memory at any cardinality
    * (the exact form shuffles every distinct value). */
  def distinctCountApprox(df: DataFrame, c: String,
                          rsd: Double = 0.05): DataFrame =
    df.agg(approx_count_distinct(col(c), rsd).as("n_distinct_approx"))

  /** In-flight pipeline telemetry via `observe` (the CollectMetrics
    * node): the metrics ride the frame's ONE execution as accumulators
    * — row counts, null rates, key sums arrive for free with the main
    * action instead of costing a second 100 TB scan (the parse-rate /
    * drop-rate reporting every production ingest wants). The returned
    * 1-row frame is the observed metric set (an S8 driver-bridge
    * result, like the other collect-to-local operators); ObserveSpec
    * pins that the source is scanned exactly once and the metrics
    * equal the direct aggregates. */
  def observedIngestStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    // Upstream quirk (Spark 4.1, measured): ObservationManager never
    // unregisters — its map keeps every Observation after get(), and
    // the manager class is not Serializable, so ONE observe() makes
    // the session fail Java serialization FOREVER. Anything that later
    // drags the session into a task closure breaks — e.g. scoring with
    // an ml model whose training summary holds the session
    // (ObserveSpec pins both the poison and this quarantine).
    // Quarantine: run the observed write on a THROWAWAY session clone
    // (same SparkContext; the frame crosses via a global temp view),
    // so the non-serializable residue dies with the clone.
    val q = spark.newSession()
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val obs = org.apache.spark.sql.Observation("graft_obs_" + tag)
    events.createOrReplaceGlobalTempView(s"graft_obs_src_$tag")
    val m =
      try {
        q.table(s"global_temp.graft_obs_src_$tag")
          .observe(obs, count(lit(1)).as("n_rows"),
            count(col("value")).as("n_value"),
            sum(col("user_id")).as("uid_sum"))
          .write.format("noop").mode("overwrite").save()
        obs.get
      } finally spark.catalog.dropGlobalTempView(s"graft_obs_src_$tag")
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("n_value").asInstanceOf[Long],
        m("uid_sum").asInstanceOf[Long]))
      .toDF("n_rows", "n_value", "uid_sum")
  }
}
