package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sketches: approximate algorithms whose OUTPUT is an exact
  * function of the input (hash-defined, no RNG), so they hash-verify
  * against a SQL oracle and reproduce across partitionings — unlike
  * `approx_count_distinct`'s HLL, whose merge order leaks into the result.
  */
object Sketches {

  /** KMV (k-minimum-values) distinct-count sketch per group: keep the k
    * smallest 60-bit hashes of the value; the k-th smallest `h_k`
    * estimates the distinct count as `(k-1) * 2^60 / h_k` (the classic
    * order-statistics estimator, ±1/√k relative error). Groups with
    * fewer than k distinct hashes report their exact count.
    *
    * Scale: the shuffle carries DISTINCT (group, hash) longs only —
    * map-side combined — and WindowGroupLimit bounds each group to k
    * rows before the final aggregate; the sketch row per group is
    * mergeable downstream (union + re-take the k smallest).
    * `est_distinct` is exact-double arithmetic: `(k-1)·2^60` is exactly
    * representable, the long→double conversion of `h_k` is correctly
    * rounded in every IEEE engine, and one division follows.
    */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 64): DataFrame =
    kmvEstimate(kmvMinima(df, groupCol, valueCol, k), groupCol, k)

  /** The KMV sketch's persisted/merge form: the k smallest distinct
    * 60-bit value hashes per group, one `(groupCol, h)` row each. Merge
    * slices — overlapping ones included, the distinct absorbs them —
    * with [[mergeKmvMinima]]: union, re-distinct, re-take the k
    * smallest ≡ the union corpus's minima.
    */
  def kmvMinima(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val h = df
      .select(col(groupCol), Hashing.md5Long60(col(valueCol).cast("string")).as("h"))
      .distinct()
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
    h.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(groupCol), col("h"))
  }

  /** The KMV union: pooled minima → distinct → k smallest per group. */
  def mergeKmvMinima(groupCol: String, minima: Seq[DataFrame], k: Int = 64): DataFrame = {
    require(minima.nonEmpty, "nothing to merge")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
    minima.reduce(_ unionByName _)
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(groupCol), col("h"))
  }

  /** The estimate step over a minima table (built or merged). */
  private def kmvEstimate(minima: DataFrame, groupCol: String, k: Int): DataFrame =
    minima
      .groupBy(col(groupCol))
      .agg(max(col("h")).as("kth"), count(lit(1)).as("k_actual"))
      .withColumn(
        "est_distinct",
        when(col("k_actual") < k, col("k_actual").cast("double"))
          .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) / col("kth").cast("double")))

  /** KMV set-overlap estimate between two keysets — the join-size /
    * broadcast-decision audit ("how much of the part dimension does the
    * fact table touch?") from two k-row sketches instead of a full
    * distinct join. The union sketch is the k smallest of the merged
    * per-side minima (exactly the union corpus's minima — the KMV merge
    * property [[mergeKmvMinima]] relies on); `k_common` counts union-
    * sketch hashes present in BOTH sides, giving the standard
    * estimators:
    * {{{
    *   jaccard_ppm = ⌊10⁶·k_common / k_union⌋            // exact integer
    *   est_union   = (k−1)·2⁶⁰ / kth                      // KMV, exact below k
    *   est_common  = (k_common · est_union) / k_union     // Jaccard · union
    * }}}
    * The doubles are single correctly-rounded IEEE ops on exact inputs
    * in a fixed association — engine-bit-identical, the [[kmvDistinct]]
    * discipline.
    *
    * Scale: each side ships DISTINCT (60-bit hash) longs through one
    * map-side-combined distinct + a k-row TakeOrdered; everything after
    * operates on ≤ 3k rows. Neither input is ever joined to the other.
    */
  def kmvOverlap(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    def minima(df: DataFrame) = df
      .select(Hashing.md5Long60(col(valueCol).cast("string")).as("h"))
      .distinct()
      .orderBy(col("h"))
      .limit(k)
    val ma = minima(a)
    val mb = minima(b)
    val u = ma.unionByName(mb).distinct().orderBy(col("h")).limit(k)
    val common = u
      .join(ma, Seq("h"), "left_semi")
      .join(mb, Seq("h"), "left_semi")
    u.agg(max(col("h")).as("kth"), count(lit(1)).as("k_union"))
      .crossJoin(broadcast(common.agg(count(lit(1)).as("k_common"))))
      .withColumn(
        "jaccard_ppm",
        when(col("k_union") > 0L, expr("(1000000 * k_common) div k_union")))
      .withColumn(
        "est_union",
        when(col("k_union") < k, col("k_union").cast("double"))
          .otherwise(
            lit((k - 1).toDouble * math.pow(2, 60)) / col("kth").cast("double")))
      .withColumn(
        "est_common",
        when(col("k_union") > 0L,
          (col("k_common").cast("double") * col("est_union")) /
            col("k_union").cast("double")))
      .select(
        col("k_union"), col("k_common"), col("kth"),
        col("jaccard_ppm"), col("est_union"), col("est_common"))
  }

  /** Deterministic HyperLogLog distinct-count sketch per group, with
    * m = 2^p registers. Register index is the hash's low p bits, the
    * rank ρ is the leading-zero count of the remaining 60−p bits plus
    * one, and the register keeps `max(ρ)` — duplicate-invariant, so
    * unlike [[kmvDistinct]] there is NO distinct pre-shuffle: the only
    * shuffle is the map-side-combined `(group, register)` max, whose
    * state is m counters per group, and register tables merge downstream
    * by element-wise max (the standard HLL union).
    *
    * Everything that feeds the estimate is exact-integer: ρ comes from
    * the binary-string length of the remainder (`bin()` in both engines —
    * NOT `floor(log2(w))`, which rounds 2^k−1 up at double precision),
    * and the harmonic denominator Σ2^{−ρ_j} is carried scaled by 2^55 as
    * an exact long (max 2^61), empty registers contributing 2^55 each.
    * The raw estimate `α_m·m²·2^55 / S` is then ONE double division of a
    * compile-time constant by an exact integer — engine-bit-identical.
    * No small-range (linear-counting) correction is applied; callers
    * counting ≪ m distincts per group should use [[kmvDistinct]], which
    * is exact below k.
    */
  def hllDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      p: Int = 6): DataFrame =
    hllEstimate(hllRegisters(df, groupCol, valueCol, p), groupCol, p)

  /** The HLL register table `(groupCol, reg, r)` for a corpus slice —
    * the sketch's persisted/merge form: registers from arbitrary slices
    * (even OVERLAPPING ones — max is idempotent) combine by
    * [[mergeHllRegisters]] into exactly the union corpus's registers.
    */
  def hllRegisters(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 12, s"p=$p outside the sane register range [2, 12]")
    val m = 1 << p
    // 60-bit hash: low p bits pick the register, the remaining 60-p bits
    // (as w) give rho = (60-p) - bitlength(w) + 1; w = 0 means all-zero.
    val maxRho = 60 - p + 1
    df
      .select(
        col(groupCol),
        Hashing.md5Long60(col(valueCol).cast("string")).as("h"))
      .select(
        col(groupCol),
        (col("h") % m).cast("int").as("reg"),
        expr(s"h DIV $m").as("w"))
      .select(
        col(groupCol),
        col("reg"),
        when(col("w") === 0, lit(maxRho))
          .otherwise(lit(maxRho) - length(bin(col("w")))).cast("int").as("rho"))
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("rho")).as("r"))
  }

  /** Register-wise max of HLL register tables (same p): the HLL union. */
  def mergeHllRegisters(groupCol: String, regTables: Seq[DataFrame]): DataFrame = {
    require(regTables.nonEmpty, "nothing to merge")
    regTables.reduce(_ unionByName _)
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("r")).as("r"))
  }

  /** The estimate step over a register table (built or merged). */
  def hllEstimate(regs: DataFrame, groupCol: String, p: Int): DataFrame = {
    val m = 1 << p
    // alpha_m for m >= 64 registers (the constant the HLL paper derives).
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val c = alpha * m * m * math.pow(2.0, 55.0)
    regs
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("m_used"),
        // Scaled harmonic sum over OCCUPIED registers: 2^(55 - r) each
        // (r <= 55 for every p >= 5; exact long, no overflow at m <= 4096).
        sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - r)")).as("s_used"))
      .select(
        col(groupCol),
        col("m_used"),
        (col("s_used") + (lit(m.toLong) - col("m_used")) * lit(1L << 55)).as("s"))
      .withColumn("est_distinct", lit(c) / col("s").cast("double"))
  }

  /** HLL's oracle-side estimate constant, exposed so the SQL mirror can
    * embed the SAME double literal the operator uses.
    */
  def hllConstant(p: Int): Double = {
    val m = 1 << p
    (0.7213 / (1.0 + 1.079 / m)) * m * m * math.pow(2.0, 55.0)
  }

  /** Per-group Misra–Gries heavy-hitters summary
    * ([[graft.expressions.MisraGries]]): `(grp, mg: map<item, est>, n)`
    * with at most `k` surviving items per group. THE bounded-state
    * frequent-items path: exact `groupBy(item).count` shuffles the whole
    * vocabulary; this shuffles ≤ k counters per map task per group, and
    * partials merge with the PODS'12 mergeable-summaries rule. Items with
    * true frequency > n/(k+1) are guaranteed present, estimates
    * undercount by at most n/(k+1); survivors NEAR the threshold depend
    * on partitioning (inherent to MG), so hash-stable consumers should
    * use [[heavyHittersChecked]].
    */
  def heavyHitters(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      k: Int = 24): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    df.groupBy(col(groupCol).as("grp"))
      .agg(
        bridge.column(
          graft.expressions.MisraGries(bridge.expression(col(itemCol)), k)
            .toAggregateExpression()).as("mg"),
        count(col(itemCol)).as("n"))
  }

  /** [[heavyHitters]] with its guarantees made checkable (and its output
    * made deterministic): for every item whose EXACT count clears the
    * guarantee threshold `cnt·(k+1) > n`, report whether the sketch holds
    * it (`present` — MG theory says always) and whether the estimate is
    * within the error bound `(cnt − est)·(k+1) ≤ n` (ditto) — both as
    * exact integer comparisons. The row set is defined by exact counts,
    * so it reproduces across engines and partitionings even though the
    * sketch's marginal survivors don't.
    */
  def heavyHittersChecked(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      k: Int = 24): DataFrame = {
    val sk = heavyHitters(df, groupCol, itemCol, k)
    val exact = df
      .groupBy(col(groupCol).as("grp"), col(itemCol).as("item"))
      .agg(count(lit(1)).as("cnt"))
    exact.join(broadcast(sk), Seq("grp"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(
        col("grp"), col("item"), col("cnt"), col("n"),
        element_at(col("mg"), col("item")).isNotNull.as("present"),
        ((col("cnt") - coalesce(element_at(col("mg"), col("item")), lit(0L))) * (k + 1)
          <= col("n")).as("bound_ok"))
  }

  /** Per-group Bloom filter (`bits` capacity as 62-bit words, 3 hash
    * probes) over a key column, plus the membership test of a probe set
    * against every group's filter — the pre-join pruning sketch: "might
    * this key exist in that partition/source" without touching the data.
    *
    * Layout dodges engine overflow traps: positions live in [0, bits), a
    * set bit is `1 << (pos % 62)` on word `pos DIV 62` — shifts stay
    * ≤ 61, so the words are always positive longs in both engines (a
    * 63-bit shift is negative in Spark and an overflow error in DuckDB).
    * The three probe positions come from ONE md5 digest (h60, h52,
    * h60⊕h52 mod bits).
    *
    * Capacity is a PARAMETER (size `bits ≈ 7.3 × expected keys` for ~10%
    * false positives with k = 3; the default 124 keeps the q78 oracle and
    * suits only demo-sized groups), and the build is SPARSE so capacity
    * is free at scale: each key emits its ≤ 3 OCCUPIED (word, mask)
    * entries — never a dense `bits/62`-long array — and the
    * (group, word) `bit_or` is map-side combined, so shuffle volume stays
    * 3 tiny rows per key and reduce state is (groups × occupied words)
    * regardless of `bits`. Filters merge downstream by the same
    * element-wise OR. The probe set (query-sized by nature) joins via
    * broadcast; the corpus never reshuffles. False positives are possible
    * by construction (rate ≈ (1 − e^(−3n/bits))³), false negatives are
    * not; output counts both the exact per-group hit tally and the
    * filter's fill factor (`bits_set`) so callers can size `bits`.
    */
  def bloomMembership(
      corpus: DataFrame,
      groupCol: String,
      valueCol: String,
      probes: DataFrame,
      probeCol: String = "probe",
      bits: Int = 124): DataFrame = {
    require(bits >= 62 && bits % 62 == 0,
      s"bits=$bits must be a positive multiple of 62 (62-bit words keep " +
        "shifts sign-safe in both engines)")
    val nWords = bits / 62
    def positions(v: Column): Seq[Column] = {
      val hh = Hashing.md5Pair(v.cast("string"))
      Seq(
        hh.getField("h60") % bits,
        hh.getField("h52") % bits,
        hh.getField("h60").bitwiseXOR(hh.getField("h52")) % bits)
    }
    // Sparse build: ≤ 3 (word, mask) entries per key, map-side-combined
    // bit_or per (group, word) — the only per-key shuffle.
    val entries = corpus
      .select(
        col(groupCol).as("grp"),
        explode(array(positions(col(valueCol)).map(_.cast("int")): _*)).as("p"))
      .select(
        col("grp"),
        // DIV yields bigint; keep word an int so the densify sequence's
        // int indexes hit the map keys without implicit casts.
        expr("CAST(p DIV 62 AS INT)").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), p % 62)").as("m"))
      .groupBy(col("grp"), col("word"))
      .agg(expr("bit_or(m)").as("w"))
    // Densify to one fixed-width word array per group (groups are few by
    // the time we're here; absent words are 0).
    val words = entries
      .groupBy(col("grp"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("word"), col("w"))))).as("wm"))
      .select(
        col("grp"),
        transform(
          sequence(lit(0), lit(nWords - 1)),
          i => coalesce(element_at(col("wm"), i), lit(0L))).as("words"))
    val nk = corpus.groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n_keys"))
    val filters = nk.join(words, Seq("grp"))
      .withColumn(
        "bits_set",
        aggregate(col("words"), lit(0), (acc, w) => acc + bit_count(w)))
    val pr = probes
      .select(
        col(probeCol).as("probe_id") +:
          positions(col(probeCol)).zipWithIndex.map { case (p, i) =>
            p.cast("int").as(s"p$i")
          }: _*)
    def hit(i: Int): Column =
      expr(s"(shiftright(element_at(words, CAST(p$i DIV 62 AS INT) + 1), p$i % 62) & 1) = 1")
    val hits = broadcast(pr)
      .crossJoin(filters.select(col("grp"), col("words")))
      .filter(hit(0) && hit(1) && hit(2))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_probe_hits"))
    filters
      .join(hits, Seq("grp"), "left_outer")
      .select(
        col("grp"), col("n_keys"), col("words"), col("bits_set"),
        coalesce(col("n_probe_hits"), lit(0L)).as("n_probe_hits"))
  }

  /** Per-group Count-Min frequency sketch (`depth` rows × `width`
    * buckets) plus a probe of every distinct (group, item) against it —
    * the bounded-state companion to [[heavyHitters]]: Misra–Gries keeps
    * only the top-k survivors, Count-Min answers a frequency query for
    * ANY item (one-sided error: `est >= exact` always, overcount bounded
    * by bucket collisions). The hash family is `depth` disjoint 32-bit
    * slices of ONE md5 per item, so the sketch — counts, probes, and all
    * — is an exact deterministic function of the input and hash-verifies
    * against the SQL oracle (same reason the HLL/KMV sketches here can).
    *
    * Scale design: sketch state is `groups × depth × width` counter
    * rows — fixed, tiny, map-side combined, and mergeable by cell-wise
    * addition (the streaming/union path). The probe side joins the
    * sketch by broadcast: the corpus-sized stages are exactly the two
    * wordcount-shaped aggregates. `overcount = est − exact` is emitted
    * so callers (and the spec) can see the collision error directly.
    */
  def countMin(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      depth: Int = 4,
      width: Int = 64): DataFrame = {
    val toks = df.select(col(groupCol).as("grp"), col(itemCol).as("item"))
    val exact = toks.groupBy(col("grp"), col("item")).agg(count(lit(1)).as("exact_cnt"))
    probeCountMin(countMinCells(df, groupCol, itemCol, depth, width), exact, depth, width)
      .select(col("grp"), col("item"), col("exact_cnt"), col("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
  }

  /** Row i's bucket for every i < depth: hex chars [1+8i, 8+8i) of ONE
    * md5(item), mod width — 32 bits per slice, positive, exact in both
    * engines.
    */
  private def cmsBuckets(c: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && depth <= 4, s"depth=$depth: md5 yields 4 disjoint 32-bit slices")
    require(width >= 2, s"width=$width must be >= 2")
    array((0 until depth).map(i =>
      conv(substring(md5(c), 1 + 8 * i, 8), 16, 10).cast("long") % width): _*)
  }

  /** The Count-Min cell table `(grp, row, bucket, c)` for a corpus slice —
    * the sketch's PERSISTED form and its merge unit: cells from disjoint
    * slices (daily increments, per-partition partials) combine by
    * [[mergeCountMinCells]] into exactly the cells of the union corpus,
    * so a 100 TB sketch is built incrementally and never recomputed.
    */
  def countMinCells(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      depth: Int = 4,
      width: Int = 64): DataFrame =
    df.select(col(groupCol).as("grp"), col(itemCol).as("item"))
      .select(col("grp"), posexplode(cmsBuckets(col("item"), depth, width)).as(Seq("row", "bucket")))
      .groupBy(col("grp"), col("row"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Cell-wise sum of Count-Min cell tables (same depth/width): the CMS
    * union. `cells(A) ⊕ cells(B) = cells(A ∪ B)` exactly — pinned by
    * spec, not just claimed.
    */
  def mergeCountMinCells(cells: Seq[DataFrame]): DataFrame = {
    require(cells.nonEmpty, "nothing to merge")
    cells.reduce(_ unionByName _)
      .groupBy(col("grp"), col("row"), col("bucket"))
      .agg(sum(col("c")).as("c"))
  }

  /** Probe a cell table: `cms_est` for each probe row — min over the
    * depth cells the item hashes to, 0 for never-inserted items (absent
    * cells read as 0, matching the dense-matrix semantics). All probe
    * columns pass through — the internal explode/join columns live in a
    * reserved `_cms_*` namespace so a probe frame that itself carries
    * `row`/`bucket`/`c` columns (e.g. one derived from a cell table)
    * does not hit an ambiguous-reference analysis error. The cell table
    * is group×depth×width-bounded — broadcast; the probe side never
    * reshuffles.
    */
  def probeCountMin(
      cells: DataFrame,
      probes: DataFrame,
      depth: Int = 4,
      width: Int = 64): DataFrame = {
    val passThrough = probes.columns.map(col).toSeq
    val cellsR = cells.select(
      col("grp"), col("row").as("_cms_row"), col("bucket").as("_cms_bucket"),
      col("c").as("_cms_c"))
    probes
      .select(passThrough :+
        posexplode(cmsBuckets(col("item"), depth, width)).as(Seq("_cms_row", "_cms_bucket")): _*)
      .join(broadcast(cellsR), Seq("grp", "_cms_row", "_cms_bucket"), "left_outer")
      .groupBy(passThrough: _*)
      .agg(min(coalesce(col("_cms_c"), lit(0L))).as("cms_est"))
  }
}
