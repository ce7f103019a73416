package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** EXACT distributed selection (k-th smallest / exact quantiles)
  * without a global sort — the classic iterative range-narrowing
  * scheme (Blum-style selection re-expressed for a cluster):
  *
  *   1. one aggregation pass counts rows per equi-width cell over the
  *      current [lo, hi] candidate range (B cells — a B-row result,
  *      never data on the driver);
  *   2. the cell containing the running k-th is found driver-side from
  *      those B counts; [lo, hi] narrows to that cell, k adjusts by
  *      the mass below it;
  *   3. repeat until the candidate cell holds ≤ `threshold` rows, then
  *      ONE bounded top-k (TakeOrderedAndProject — per-partition
  *      heaps) resolves the exact value.
  *
  * Each round is a full scan with a pushable range predicate and a
  * tiny aggregate — no shuffle of data rows, no window, nothing
  * data-sized on the driver. Rounds are log_B(n/threshold): 4 scans
  * reach the exact median of 10^12 rows at B = 128 — versus the
  * O(n log n) global sort an `ORDER BY ... LIMIT k OFFSET` plans. The
  * answer is a VALUE of the column (the k-th order statistic of the
  * multiset), so tie order cannot affect it and both engines agree
  * bit-for-bit with no interpolation convention.
  *
  * Nulls and NaNs are excluded (order statistics over the comparable
  * values — the quantile convention every SQL engine shares).
  * ±Infinity IS comparable and stays in the multiset: its masses are
  * counted in the head pass and resolved directly, so infinite
  * endpoints never enter the equi-width cell arithmetic.
  */
object DistributedSelect {

  /** The exact k-th smallest (1-based) value of `valueCol` cast to
    * double, with the per-round narrowing trace: returns
    * (value, rounds). */
  def kthSmallest(df: DataFrame, valueCol: String, k: Long,
                  buckets: Int = 128,
                  threshold: Long = 100000): (Double, Int) = {
    require(k >= 1, "k must be >= 1")
    require(buckets >= 2, "buckets must be >= 2")
    require(threshold >= 1 && threshold <= Int.MaxValue,
      s"threshold must be in [1, Int.MaxValue] (got $threshold): the " +
        "bounded resolve materializes up to threshold rows via limit()")
    val v = col(valueCol).cast("double")
    val all = df.select(v.as("_v"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))

    // ±Infinity is a legitimate member of the ordered multiset but
    // poisons equi-width cells (width = Inf → NaN boundaries), so the
    // head pass counts the infinite masses separately: if k lands in
    // either mass the answer IS that infinity; otherwise narrowing
    // runs over the finite values with k shifted past the -Inf mass.
    val finite = col("_v") > Double.NegativeInfinity &&
      col("_v") < Double.PositiveInfinity
    val head = all.agg(
      min(when(finite, col("_v"))), max(when(finite, col("_v"))),
      count(when(finite, lit(1))),
      count(when(col("_v") === Double.NegativeInfinity, lit(1))),
      count(when(col("_v") === Double.PositiveInfinity, lit(1))))
      .head()
    val nFinite = head.getLong(2)
    val nNegInf = head.getLong(3)
    val nPosInf = head.getLong(4)
    require(nFinite + nNegInf + nPosInf >= k,
      s"k=$k exceeds non-null row count")
    if (k <= nNegInf) return (Double.NegativeInfinity, 0)
    if (k > nNegInf + nFinite) return (Double.PositiveInfinity, 0)
    val vals = all.filter(finite)
    var lo = head.getDouble(0)
    var hi = head.getDouble(1)
    var kk = k - nNegInf
    var inRange = nFinite
    var rounds = 0

    // Narrow while the candidate set is big and the range can split.
    // Guard: equi-width cells over [lo, hi] use the SAME formula for
    // counting and for the next round's filter, so a row can never
    // fall between rounds.
    while (inRange > threshold && lo < hi && rounds < 64) {
      rounds += 1
      val width = (hi - lo) / buckets
      val cellOf = least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("_v") - lit(lo)) / lit(width)).cast("long")))
      val counts: Array[Row] = vals
        .filter(col("_v") >= lo && col("_v") <= hi)
        .groupBy(cellOf.as("_c")).agg(count(lit(1)).as("_n"))
        .collect() // B rows max — a stats fetch, not a data collect
      val byCell = counts.map(r => r.getLong(0) -> r.getLong(1)).toMap
      var c = 0L
      var below = 0L
      while (c < buckets && below + byCell.getOrElse(c, 0L) < kk) {
        below += byCell.getOrElse(c, 0L)
        c += 1
      }
      kk -= below
      inRange = byCell.getOrElse(c, 0L)
      val newLo = lo + c * width
      val newHi = if (c == buckets - 1) hi else lo + (c + 1) * width
      // all remaining candidates share one double value (or FP width
      // underflow): the k-th of identical values is that value
      if (newLo >= newHi || newLo == lo && newHi == hi) {
        lo = newLo; hi = newLo
      } else {
        lo = newLo; hi = newHi
      }
    }
    if (lo == hi) return (lo, rounds)
    // bounded resolve: top-kk of the surviving range via per-partition
    // heaps; kk <= inRange <= threshold
    val kth = vals.filter(col("_v") >= lo && col("_v") <= hi)
      .orderBy(col("_v").asc).limit(kk.toInt)
      .agg(max(col("_v"))).head().getDouble(0)
    (kth, rounds)
  }

  /** Exact WEIGHTED k-th smallest: the smallest value v with
    * Σ_{u ≤ v} w(u) ≥ k over positive INTEGER weights (integer so the
    * crossing point is exact — no summation-order drift; a
    * token-count or byte-size weight is the natural caller). Same
    * iterative range narrowing as [[kthSmallest]] with per-cell
    * weight sums driving the descent and per-cell ROW counts bounding
    * the resolve; the bounded resolve takes the first crossing of the
    * running weight over the ≤`threshold` surviving rows (a window
    * over a bounded frame — the rocAuc contract). The answer is a
    * value of the multiset, so tie order cannot affect it. Nulls and
    * NaN values are excluded; rows with null/non-positive weight are
    * rejected loudly (a silent drop would move every quantile).
    * Returns (value, rounds). */
  def weightedKthSmallest(df: DataFrame, valueCol: String,
                          weightCol: String, k: Long,
                          buckets: Int = 128,
                          threshold: Long = 100000): (Double, Int) = {
    require(k >= 1, "k must be >= 1")
    require(buckets >= 2, "buckets must be >= 2")
    require(threshold >= 1 && threshold <= Int.MaxValue,
      s"threshold must be in [1, Int.MaxValue] (got $threshold)")
    val v = col(valueCol).cast("double")
    val w = col(weightCol).cast("long")
    val all = df.select(v.as("_v"), w.as("_w"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
    val finite = col("_v") > Double.NegativeInfinity &&
      col("_v") < Double.PositiveInfinity
    // weight validation rides the same head aggregate (no separate
    // validation scan — at corpus scale an extra full pass just to
    // check weights would double the fixed cost of every quantile)
    val head = all.agg(
      min(when(finite, col("_v"))), max(when(finite, col("_v"))),
      coalesce(sum(when(finite, col("_w"))), lit(0L)),
      coalesce(sum(when(col("_v") === Double.NegativeInfinity,
        col("_w"))), lit(0L)),
      coalesce(sum(when(col("_v") === Double.PositiveInfinity,
        col("_w"))), lit(0L)),
      count(when(finite, lit(1))),
      count(when(col("_w").isNull || col("_w") <= 0, lit(1)))).head()
    require(head.getLong(6) == 0,
      "weights must be positive integers (null/<=0 found)")
    val wFinite = head.getLong(2)
    val wNegInf = head.getLong(3)
    val wPosInf = head.getLong(4)
    require(wNegInf + wFinite + wPosInf >= k,
      s"k=$k exceeds total weight")
    if (k <= wNegInf) return (Double.NegativeInfinity, 0)
    if (k > wNegInf + wFinite) return (Double.PositiveInfinity, 0)
    val vals = all.filter(finite)
    var lo = head.getDouble(0)
    var hi = head.getDouble(1)
    var kk = k - wNegInf
    var rowsInRange = head.getLong(5)
    var rounds = 0
    while (rowsInRange > threshold && lo < hi && rounds < 64) {
      rounds += 1
      val width = (hi - lo) / buckets
      val cellOf = least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("_v") - lit(lo)) / lit(width)).cast("long")))
      val counts: Array[Row] = vals
        .filter(col("_v") >= lo && col("_v") <= hi)
        .groupBy(cellOf.as("_c"))
        .agg(sum(col("_w")).as("_sw"), count(lit(1)).as("_n"))
        .collect() // B rows max — a stats fetch, not a data collect
      val byCell = counts.map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      var c = 0L
      var below = 0L
      while (c < buckets &&
        below + byCell.get(c).map(_._1).getOrElse(0L) < kk) {
        below += byCell.get(c).map(_._1).getOrElse(0L)
        c += 1
      }
      kk -= below
      rowsInRange = byCell.get(c).map(_._2).getOrElse(0L)
      val newLo = lo + c * width
      val newHi = if (c == buckets - 1) hi else lo + (c + 1) * width
      if (newLo >= newHi || newLo == lo && newHi == hi) {
        lo = newLo; hi = newLo
      } else {
        lo = newLo; hi = newHi
      }
    }
    if (lo == hi) return (lo, rounds)
    // bounded resolve: running weight over the ≤threshold surviving
    // rows (single-partition window over a bounded frame), first
    // crossing of kk
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("_v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val kth = vals.filter(col("_v") >= lo && col("_v") <= hi)
      .withColumn("_cw", sum(col("_w")).over(win))
      .filter(col("_cw") >= kk)
      .orderBy(col("_v").asc).limit(1)
      .head().getDouble(0)
    (kth, rounds)
  }

  /** Exact weighted discrete quantile: the value at cumulative-weight
    * position ⌈q·W⌉ — one-row DataFrame (value, w_total, k). */
  def exactWeightedQuantile(df: DataFrame, valueCol: String,
                            weightCol: String, q: Double,
                            buckets: Int = 128,
                            threshold: Long = 100000): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    val v = col(valueCol).cast("double")
    val wTotal = df.select(v.as("_v"),
        col(weightCol).cast("long").as("_w"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
      .agg(coalesce(sum(col("_w")), lit(0L))).head().getLong(0)
    val k = math.max(1L, math.ceil(q * wTotal).toLong)
    val (value, _) = weightedKthSmallest(df, valueCol, weightCol, k,
      buckets, threshold)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((value, wTotal, k)).toDF("value", "w_total", "k")
  }

  /** Per-group resolution state for [[groupedWeightedQuantile]]:
    * either already answered (±Infinity mass or a collapsed range) or
    * carrying the live narrowing range. */
  private final case class GroupState(lo: Double, hi: Double, kk: Long,
                                      rowsInRange: Long,
                                      resolved: Option[Double])

  /** Exact weighted discrete quantile for EVERY group at once — the
    * group-wise form of [[weightedKthSmallest]] with all groups
    * narrowing in the SAME scans ("median doc length by language,
    * weighted by tokens" in one operator call):
    *
    *   - one head pass per call (groupBy(group) aggregate) seeds every
    *     group's range/target; G rows to the driver;
    *   - each narrowing round is ONE scan: the per-group [lo, hi]
    *     ranges broadcast-join onto the data, per-(group, cell) weight
    *     sums come back (≤ G·B rows — stats, not data), and every
    *     still-active group advances together. Rounds are
    *     max over groups of log_B(n_g/threshold), NOT the sum — a
    *     thousand groups cost the same number of scans as one;
    *   - one bounded resolve pass for all surviving groups: a window
    *     partitioned by group over ≤ threshold rows each takes the
    *     first cumulative-weight crossing.
    *
    * Group cardinality must be report-grade (the per-group range state
    * lives on the driver): `maxGroups` rejects degenerate callers
    * loudly rather than OOMing. The group column must be string-typed
    * (composite keys concat upstream — the splitName convention).
    * Groups whose every value is null/NaN do not appear in the output,
    * matching the SQL convention (no comparable values, no quantile).
    * Weights must be positive integers, rejected loudly otherwise;
    * ±Infinity masses resolve directly per group as in the ungrouped
    * form. Returns (group, value, w_total, k) ordered by group. */
  def groupedWeightedQuantile(df: DataFrame, groupCol: String,
                              valueCol: String, weightCol: String,
                              q: Double, buckets: Int = 128,
                              threshold: Long = 100000,
                              maxGroups: Int = 100000): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    require(buckets >= 2, "buckets must be >= 2")
    require(threshold >= 1 && threshold <= Int.MaxValue,
      s"threshold must be in [1, Int.MaxValue] (got $threshold)")
    val spark = df.sparkSession
    import spark.implicits._
    val all = df.select(col(groupCol).cast("string").as("_g"),
        col(valueCol).cast("double").as("_v"),
        col(weightCol).cast("long").as("_w"))
      .filter(col("_g").isNotNull &&
        col("_v").isNotNull && !isnan(col("_v")))
    val finite = col("_v") > Double.NegativeInfinity &&
      col("_v") < Double.PositiveInfinity

    // head pass: one groupBy seeding every group's range and target
    val head = all.groupBy("_g").agg(
      min(when(finite, col("_v"))).as("_lo"),
      max(when(finite, col("_v"))).as("_hi"),
      coalesce(sum(when(finite, col("_w"))), lit(0L)).as("_wf"),
      coalesce(sum(when(col("_v") === Double.NegativeInfinity,
        col("_w"))), lit(0L)).as("_wn"),
      coalesce(sum(when(col("_v") === Double.PositiveInfinity,
        col("_w"))), lit(0L)).as("_wp"),
      count(when(finite, lit(1))).as("_nf"),
      count(when(col("_w").isNull || col("_w") <= 0, lit(1))).as("_bad"))
      .collect()
    require(head.length <= maxGroups,
      s"${head.length} groups exceed maxGroups=$maxGroups: grouped " +
        "selection keeps per-group range state on the driver")
    require(head.forall(_.getLong(7) == 0),
      "weights must be positive integers (null/<=0 found)")

    // head row layout: _g(0) _lo(1) _hi(2) _wf(3) _wn(4) _wp(5)
    // _nf(6) _bad(7)
    val totals = head.map { r =>
      r.getString(0) -> (r.getLong(3) + r.getLong(4) + r.getLong(5))
    }.toMap
    val ks = totals.map { case (g, wt) =>
      g -> math.max(1L, math.ceil(q * wt).toLong)
    }
    var state: Map[String, GroupState] = head.map { r =>
      val g = r.getString(0)
      val wf = r.getLong(3); val wn = r.getLong(4)
      val k = ks(g)
      val st =
        if (k <= wn) GroupState(0, 0, 0, 0,
          Some(Double.NegativeInfinity))
        else if (k > wn + wf) GroupState(0, 0, 0, 0,
          Some(Double.PositiveInfinity))
        else {
          val lo = r.getDouble(1); val hi = r.getDouble(2)
          GroupState(lo, hi, k - wn, r.getLong(6),
            if (lo == hi) Some(lo) else None)
        }
      g -> st
    }.toMap

    val vals = all.filter(finite)
    var rounds = 0
    def active = state.filter { case (_, s) =>
      s.resolved.isEmpty && s.rowsInRange > threshold && s.lo < s.hi
    }
    while (active.nonEmpty && rounds < 64) {
      rounds += 1
      val ranges = broadcast(active.toSeq
        .map { case (g, s) => (g, s.lo, s.hi) }
        .toDF("_rg", "_rlo", "_rhi"))
      val width = (col("_rhi") - col("_rlo")) / buckets
      val cellOf = least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("_v") - col("_rlo")) / width).cast("long")))
      // the ENVELOPE of the active ranges filters before the join —
      // a plain sargable value predicate (pushes to a real scan),
      // so in later rounds most rows never pay the join probe
      val envLo = active.values.map(_.lo).min
      val envHi = active.values.map(_.hi).max
      val counts = vals
        .filter(col("_v") >= envLo && col("_v") <= envHi)
        .join(ranges, col("_g") === col("_rg"))
        .filter(col("_v") >= col("_rlo") && col("_v") <= col("_rhi"))
        .groupBy(col("_g"), cellOf.as("_c"))
        .agg(sum(col("_w")).as("_sw"), count(lit(1)).as("_n"))
        .collect() // ≤ G_active·B rows — stats, not data
      val byGroup = counts.groupBy(_.getString(0))
      state = state.map { case (g, s) =>
        if (!active.contains(g)) g -> s
        else {
          val byCell = byGroup.getOrElse(g, Array.empty[Row])
            .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3)))
            .toMap
          val width = (s.hi - s.lo) / buckets
          var c = 0L
          var below = 0L
          while (c < buckets &&
            below + byCell.get(c).map(_._1).getOrElse(0L) < s.kk) {
            below += byCell.get(c).map(_._1).getOrElse(0L)
            c += 1
          }
          val kk = s.kk - below
          val rows = byCell.get(c).map(_._2).getOrElse(0L)
          val newLo = s.lo + c * width
          val newHi =
            if (c == buckets - 1) s.hi else s.lo + (c + 1) * width
          if (newLo >= newHi || newLo == s.lo && newHi == s.hi)
            g -> GroupState(newLo, newLo, kk, rows, Some(newLo))
          else g -> GroupState(newLo, newHi, kk, rows, None)
        }
      }
    }

    // one bounded resolve pass for every still-unresolved group:
    // window partitioned by group over ≤ threshold rows each
    val pending = state.filter(_._2.resolved.isEmpty)
    val resolvedTail: Map[String, Double] =
      if (pending.isEmpty) Map.empty
      else {
        val fin = broadcast(pending.toSeq
          .map { case (g, s) => (g, s.lo, s.hi, s.kk) }
          .toDF("_rg", "_rlo", "_rhi", "_rkk"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("_g").orderBy(col("_v").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        vals
          .filter(col("_v") >= pending.values.map(_.lo).min &&
            col("_v") <= pending.values.map(_.hi).max)
          .join(fin, col("_g") === col("_rg"))
          .filter(col("_v") >= col("_rlo") && col("_v") <= col("_rhi"))
          .withColumn("_cw", sum(col("_w")).over(win))
          .filter(col("_cw") >= col("_rkk"))
          .groupBy("_g").agg(min(col("_v")).as("_kth"))
          .collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
      }

    // driver-loop counters into the bench artifact (Counters.note —
    // keep-last, so a multi-pass caller like groupedMad reports its
    // final pass): rounds is THE cost driver here
    Counters.note("grouped_weighted_quantile", "loop", Map(
      "rounds" -> rounds.toLong, "groups" -> state.size.toLong,
      "tail_resolved" -> resolvedTail.size.toLong))
    // guarded lookup (round-9 advice): if FP drift between the
    // floor((v-lo)/width) cell assignment and the v∈[lo,hi] resolve
    // filter ever strands a pending group with no crossing row, fail
    // with the group/range/rank in the message, not a bare
    // NoSuchElementException from a Map.
    state.toSeq.map { case (g, s) =>
      val v = s.resolved.getOrElse(resolvedTail.getOrElse(g,
        throw new IllegalStateException(
          s"groupedWeightedQuantile: bounded resolve found no crossing " +
            s"row for group '$g' (range [${s.lo}, ${s.hi}], " +
            s"kk=${s.kk}, rowsInRange=${s.rowsInRange}) — " +
            "FP boundary drift between cell assignment and resolve")))
      (g, v, totals(g), ks(g))
    }.sortBy(_._1)
      .toDF(groupCol, "value", "w_total", "k")
  }

  /** Exact median absolute deviation — the robust dispersion statistic
    * a quality-score monitor scales by (stddev is wrecked by the one
    * 10^6-token outlier; MAD is not): median m of the values, then the
    * median of |x − m|, both EXACT via [[kthSmallest]] (two narrowing
    * selections ≈ 2·log_B(n) pushable scans, nothing data-sized on
    * the driver). Both answers are order statistics of real multisets
    * (the deviations are IEEE |x − m| with m the identical double in
    * any engine), so the result is engine-exact with no summation
    * order anywhere. One-row DataFrame (median, mad, n). */
  def madFrame(df: DataFrame, valueCol: String, buckets: Int = 128,
               threshold: Long = 100000): DataFrame = {
    val v = col(valueCol).cast("double")
    val vals = df.select(v.as("_v"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
    val n = vals.count()
    require(n >= 1, "madFrame needs at least one comparable value")
    val k = math.max(1L, math.ceil(0.5 * n).toLong)
    val (m, _) = kthSmallest(vals, "_v", k, buckets, threshold)
    val (mad, _) = kthSmallest(
      vals.select(abs(col("_v") - lit(m)).as("_d")), "_d", k,
      buckets, threshold)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((m, mad, n)).toDF("median", "mad", "n")
  }

  /** Exact winsorized mean: values clamp to the exact [⌈qLo·n⌉-th,
    * ⌈qHi·n⌉-th] order statistics (two [[kthSmallest]] selections),
    * then average — the outlier-robust location estimate a corpus
    * quality dashboard trends (a handful of 10^8-char docs cannot move
    * it). Each clamped value micro-quantizes BEFORE the sum
    * (round(v·1e6) as a long — summation-order-free), and the mean is
    * the single integer floor division at the end. One-row DataFrame
    * (lo_value, hi_value, n, wmean_micro). */
  def winsorizedMeanMicro(df: DataFrame, valueCol: String,
                          qLo: Double = 0.05, qHi: Double = 0.95,
                          buckets: Int = 128,
                          threshold: Long = 100000): DataFrame = {
    require(qLo > 0 && qLo < qHi && qHi <= 1,
      "need 0 < qLo < qHi <= 1")
    val v = col(valueCol).cast("double")
    val vals = df.select(v.as("_v"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
    val n = vals.count()
    require(n >= 1, "winsorizedMeanMicro needs at least one value")
    val kLo = math.max(1L, math.ceil(qLo * n).toLong)
    val kHi = math.max(1L, math.ceil(qHi * n).toLong)
    val (lo, _) = kthSmallest(vals, "_v", kLo, buckets, threshold)
    val (hi, _) = kthSmallest(vals, "_v", kHi, buckets, threshold)
    val agg = vals.agg(
      sum(round(least(greatest(col("_v"), lit(lo)), lit(hi)) *
        lit(1e6)).cast("long")).as("_s")).head()
    val spark = df.sparkSession
    import spark.implicits._
    Seq((lo, hi, n, Math.floorDiv(agg.getLong(0), n)))
      .toDF("lo_value", "hi_value", "n", "wmean_micro")
  }

  /** EVERY requested quantile of one column in SHARED scans — the
    * multi-target form of [[kthSmallest]] (a latency dashboard wants
    * P50/P90/P99/P999 together; running the narrowing once per
    * quantile pays Q·log_B(n) scans for what is one column's
    * statistics). One head pass seeds every target rank; each round is
    * ONE scan: rows filter to the ENVELOPE of the active ranges
    * (sargable), explode onto the ≤Q range literals that contain them
    * (bounded Q× amplification of the envelope's rows only, fully
    * codegen'd generate+filter — no join), and per-(target, cell)
    * counts come back (≤ Q·B stat rows). Each target narrows B× per
    * round in its OWN cell grid, so rounds = max over targets of
    * log_B(n/threshold), not the sum. One bounded pass resolves all
    * surviving targets (window partitioned by target over ≤ threshold
    * rows each). Duplicate target ranks (q's that round to the same
    * ⌈q·n⌉) share one narrowing. Returns (q, value, n, k) ordered
    * by q. */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double], buckets: Int = 128,
                     threshold: Long = 100000): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach(q => require(q > 0 && q <= 1,
      s"q must be in (0, 1] (got $q)"))
    require(buckets >= 2, "buckets must be >= 2")
    require(threshold >= 1 && threshold <= Int.MaxValue,
      s"threshold must be in [1, Int.MaxValue] (got $threshold)")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val all = df.select(v.as("_v"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
    val finite = col("_v") > Double.NegativeInfinity &&
      col("_v") < Double.PositiveInfinity
    val head = all.agg(
      min(when(finite, col("_v"))), max(when(finite, col("_v"))),
      count(when(finite, lit(1))),
      count(when(col("_v") === Double.NegativeInfinity, lit(1))),
      count(when(col("_v") === Double.PositiveInfinity, lit(1))))
      .head()
    val nFinite = head.getLong(2)
    val nNegInf = head.getLong(3)
    val nPosInf = head.getLong(4)
    val n = nFinite + nNegInf + nPosInf
    require(n >= 1, "exactQuantiles needs at least one value")
    val kOf = qs.map(q =>
      q -> math.max(1L, math.ceil(q * n).toLong)).toMap
    // one narrowing per DISTINCT target rank
    var state: Map[Long, GroupState] = kOf.values.toSet.map { k: Long =>
      k -> (if (k <= nNegInf)
          GroupState(0, 0, 0, 0, Some(Double.NegativeInfinity))
        else if (k > nNegInf + nFinite)
          GroupState(0, 0, 0, 0, Some(Double.PositiveInfinity))
        else {
          val lo = head.getDouble(0); val hi = head.getDouble(1)
          GroupState(lo, hi, k - nNegInf, nFinite,
            if (lo == hi) Some(lo) else None)
        })
    }.toMap
    val vals = all.filter(finite)
    var rounds = 0
    def active = state.filter { case (_, s) =>
      s.resolved.isEmpty && s.rowsInRange > threshold && s.lo < s.hi
    }
    // each row explodes onto the ≤Q (target, lo, hi) literals whose
    // range contains it — array+explode over literals, no join node
    def rangeExplode(src: DataFrame,
                     ranges: Seq[(Long, Double, Double)]): DataFrame =
      src
        .filter(col("_v") >= ranges.map(_._2).min &&
          col("_v") <= ranges.map(_._3).max)
        .select(col("_v"), explode(array(ranges.map { case (k, lo, hi) =>
          struct(lit(k).as("_k"), lit(lo).as("_rlo"),
            lit(hi).as("_rhi"))
        }: _*)).as("_r"))
        .filter(col("_v") >= col("_r._rlo") &&
          col("_v") <= col("_r._rhi"))
    while (active.nonEmpty && rounds < 64) {
      rounds += 1
      val ranges = active.toSeq.map { case (k, s) => (k, s.lo, s.hi) }
      val width = (col("_r._rhi") - col("_r._rlo")) / buckets
      val cellOf = least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("_v") - col("_r._rlo")) / width).cast("long")))
      val counts = rangeExplode(vals, ranges)
        .groupBy(col("_r._k").as("_k"), cellOf.as("_c"))
        .agg(count(lit(1)).as("_n"))
        .collect() // ≤ Q·B rows — stats, not data
      val byK = counts.groupBy(_.getLong(0))
      state = state.map { case (k, s) =>
        if (!active.contains(k)) k -> s
        else {
          val byCell = byK.getOrElse(k, Array.empty[Row])
            .map(r => r.getLong(1) -> r.getLong(2)).toMap
          val width = (s.hi - s.lo) / buckets
          var c = 0L
          var below = 0L
          while (c < buckets &&
            below + byCell.getOrElse(c, 0L) < s.kk) {
            below += byCell.getOrElse(c, 0L)
            c += 1
          }
          val kk = s.kk - below
          val rows = byCell.getOrElse(c, 0L)
          val newLo = s.lo + c * width
          val newHi =
            if (c == buckets - 1) s.hi else s.lo + (c + 1) * width
          if (newLo >= newHi || newLo == s.lo && newHi == s.hi)
            k -> GroupState(newLo, newLo, kk, rows, Some(newLo))
          else k -> GroupState(newLo, newHi, kk, rows, None)
        }
      }
    }
    val pending = state.filter(_._2.resolved.isEmpty)
    val resolvedTail: Map[Long, Double] =
      if (pending.isEmpty) Map.empty
      else {
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_r._k")).orderBy(col("_v").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        rangeExplode(vals, pending.toSeq.map { case (k, s) =>
            (k, s.lo, s.hi) })
          .withColumn("_rn", count(lit(1)).over(win))
          .filter(col("_rn") >= pending.toSeq.map { case (k, s) =>
            when(col("_r._k") === k, lit(s.kk))
          }.reduce((a, b) => coalesce(a, b)))
          .groupBy(col("_r._k").as("_k"))
          .agg(min(col("_v")).as("_kth"))
          .collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
    Counters.note("exact_quantiles", "loop", Map(
      "rounds" -> rounds.toLong,
      "targets" -> kOf.values.toSet.size.toLong,
      "tail_resolved" -> resolvedTail.size.toLong))
    qs.distinct.sorted.map { q =>
      val k = kOf(q)
      val s = state(k)
      val v = s.resolved.getOrElse(resolvedTail.getOrElse(k,
        throw new IllegalStateException(
          s"exactQuantiles: bounded resolve found no crossing row for " +
            s"q=$q (rank k=$k, range [${s.lo}, ${s.hi}], kk=${s.kk}, " +
            s"rowsInRange=${s.rowsInRange}) — FP boundary drift " +
            "between cell assignment and resolve")))
      (q, v, n, k)
    }.toDF("q", "value", "n", "k")
  }

  /** Exact per-group median absolute deviation — [[madFrame]] for
    * every group at once, composed from TWO [[groupedWeightedQuantile]]
    * passes: per-group medians m_g (all groups narrowing in the same
    * scans), then the G-row median table broadcast-joins back onto the
    * data and the per-group median of |x − m_g| resolves the same way.
    * The robust dispersion behind per-language/per-source quality
    * monitoring ("scale each group's scores by ITS spread") — total
    * scan count is 2× one grouped selection regardless of G, where the
    * per-group loop would pay G·log(n) scans twice. Weights weight the
    * deviation multiset exactly as they weight the value multiset.
    * Returns (group, median, mad, w_total) ordered by group. */
  def groupedMad(df: DataFrame, groupCol: String, valueCol: String,
                 weightCol: String, buckets: Int = 128,
                 threshold: Long = 100000,
                 maxGroups: Int = 100000): DataFrame = {
    val med = groupedWeightedQuantile(df, groupCol, valueCol,
        weightCol, 0.5, buckets, threshold, maxGroups)
      .select(col(groupCol).as("_mg"), col("value").as("_m"),
        col("w_total").as("_wt"))
    val dev = df
      .select(col(groupCol).cast("string").as("_dg"),
        col(valueCol).cast("double").as("_dv"),
        col(weightCol).cast("long").as("_dw"))
      .join(broadcast(med), col("_dg") === col("_mg"))
      .select(col("_dg"), abs(col("_dv") - col("_m")).as("_dd"),
        col("_dw"))
    groupedWeightedQuantile(dev, "_dg", "_dd", "_dw", 0.5, buckets,
        threshold, maxGroups)
      .select(col("_dg").as("_g2"), col("value").as("mad"))
      .join(broadcast(med), col("_g2") === col("_mg"))
      .select(col("_mg").as(groupCol), col("_m").as("median"),
        col("mad"), col("_wt").as("w_total"))
      .orderBy(groupCol)
  }

  /** Exact discrete quantile (the value at 1-based position
    * ⌈q·n⌉ — the lower/"disc" convention, no interpolation): one-row
    * DataFrame (value, n, k) for the oracle-comparable form. (The
    * narrowing-round count is available via [[kthSmallest]]; it is a
    * property of the run, not of the data, so it stays out of the
    * oracle-compared schema.) */
  def exactQuantile(df: DataFrame, valueCol: String,
                    q: Double, buckets: Int = 128,
                    threshold: Long = 100000): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    val v = col(valueCol).cast("double")
    val n = df.select(v.as("_v"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
      .count()
    val k = math.max(1L, math.ceil(q * n).toLong)
    val (value, _) = kthSmallest(df, valueCol, k, buckets, threshold)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((value, n, k)).toDF("value", "n", "k")
  }

  /** Equi-depth histogram: `buckets` buckets whose boundaries are the
    * EXACT order statistics at q = 1/B … (B−1)/B — the optimizer-stats
    * / data-profile shape where an equi-WIDTH histogram is useless on
    * skewed values (one bucket holds everything). Boundaries resolve
    * through [[exactQuantiles]]' shared narrowing scans (rounds = the
    * max over targets, a B−1-row driver fetch — parameters, not data);
    * then ONE counting scan assigns each row bucket = #{boundaries
    * < v} via a static chain of B−1 codegen'd comparisons (values
    * equal to a boundary fall LEFT; no higher-order functions on the
    * hot path — the q17c house rule). With heavy ties adjacent
    * boundaries can collide and the bucket between them is genuinely
    * empty: all B rows are reported, absent buckets with cnt 0, so
    * the output contract is fixed-size. NULL/NaN excluded as in every
    * selection operator; ±∞ are ordinary extreme values. Returns
    * (bucket, lo, hi, cnt) — lo is NULL for bucket 0, hi NULL for the
    * last (unbounded tails). */
  def equiDepthHistogram(df: DataFrame, valueCol: String, buckets: Int,
                         narrowBuckets: Int = 128,
                         threshold: Long = 100000): DataFrame = {
    require(buckets >= 2 && buckets <= 1024,
      s"buckets must be in [2, 1024] (got $buckets)")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val bnds = exactQuantiles(df, valueCol, qs, narrowBuckets, threshold)
      .orderBy("q").select("value").collect().map(_.getDouble(0))
    val vals = df.select(col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull && !isnan(col("_v")))
    val bucketOf = bnds.map(b => when(col("_v") > lit(b), 1L)
      .otherwise(0L)).reduce(_ + _)
    val counts = vals.groupBy(bucketOf.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val spark = df.sparkSession
    import spark.implicits._
    val shell = (0 until buckets).map { i =>
      (i.toLong,
        if (i == 0) None else Some(bnds(i - 1)),
        if (i == buckets - 1) None else Some(bnds(i)))
    }.toDF("bucket", "lo", "hi")
    // B-row shell ⋈ ≤B-row counts: both sides bucket-keyed singletons
    shell.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), col("lo"), col("hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("bucket")
  }
}
