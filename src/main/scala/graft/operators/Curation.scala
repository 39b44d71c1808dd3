package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextAnalysis}

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: context-window chunking, per-source quotas,
  * deterministic train/val/test splits, and text normalization.
  *
  * All are narrow or single-shuffle, built from codegen'd expressions —
  * no UDFs — and every derivation is plain arithmetic/regex so the DuckDB
  * oracle reproduces results bit-for-bit.
  */
object Curation {

  /** Split each document's whitespace tokens into training context windows
    * of `chunkSize` tokens taken every `stride` tokens (stride < chunkSize
    * ⇒ overlapping windows). Output one row per (doc_id, chunk_id) with
    * the chunk text and its token count.
    *
    * Narrow: one `transform(sequence(...))` + explode per doc — no
    * shuffle at any scale; chunk counts are bounded by document length.
    */
  def chunkTokens(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkSize > 0)
    val nChunks = // one chunk per stride start strictly below n_tokens
      ceil(size(col("w")).cast("double") / stride).cast("int")
    TextAnalysis.spread(docs) // single-split scans serialize per-token work
      .select(col("doc_id"), TextAnalysis.wordsCol.as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        explode(transform(
          sequence(lit(0), nChunks - 1),
          i => struct(
            i.cast("int").as("chunk_id"),
            array_join(slice(col("w"), i * stride + 1, lit(chunkSize)), " ").as("chunk_text"),
            least(size(col("w")) - i * stride, lit(chunkSize)).as("chunk_tokens")))).as("c"))
      .select(
        col("doc_id"), col("c.chunk_id"), col("c.chunk_tokens"), col("c.chunk_text"))
  }

  /** Per-source quota: keep at most `maxPerSource` documents per `source`,
    * preferring longer documents (n_chars DESC) with doc_id as the total
    * tie-break — the standard "cap any one domain's share of the corpus"
    * curation step. One bounded shuffle: Spark's WindowGroupLimit caps
    * each group to `maxPerSource` rows map-side before the exchange.
    */
  def sourceQuota(docs: DataFrame, maxPerSource: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    docs
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= maxPerSource)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
  }

  /** Deterministic train/val/test assignment by content-independent key
    * hash: bucket = first 60 bits of md5(doc_id) mod 100, split by
    * cumulative percentage. Pure projection — no shuffle, stable across
    * runs/partitionings, and any engine reproduces it (the 15-hex-digit
    * slice keeps the value inside a signed 64-bit int everywhere).
    */
  def hashSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100)
    val bucket = pmod(Hashing.md5Long60(col("doc_id").cast("string")), lit(100L))
    docs.select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Concat-split sequence packing: documents are laid end-to-end in
    * doc_id order within a hash shard and cut every `budgetTokens` tokens —
    * the standard pretraining packing where documents may straddle a
    * sequence boundary (equivalent to tokenize-concatenate-chunk). Output
    * maps each doc to its shard, the sequence index its FIRST token lands
    * in, and its token offset within that sequence.
    *
    * Scale: packing is per-shard (`pmod(doc_id, numShards)`), so the
    * running-sum window parallelizes across shards instead of forcing one
    * global sort — shard count is the parallelism knob, and sequences are
    * globally identified by (shard, seq_in_shard).
    */
  def packSequences(
      docs: DataFrame,
      budgetTokens: Int = 512,
      numShards: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // Tokenize before the shard exchange (spread keeps it parallel on
    // single-split scans) so only (doc_id, shard, n_tokens) shuffles.
    TextAnalysis.spread(docs)
      .select(
        col("doc_id"),
        pmod(col("doc_id"), lit(numShards.toLong)).as("shard"),
        size(TextAnalysis.wordsCol).cast("long").as("n_tokens"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("tokens_before") / budgetTokens).cast("long").as("seq_in_shard"),
        (col("tokens_before") % budgetTokens).as("seq_offset"))
  }

  /** Canonical text normalization for dedup robustness: lowercase, strip
    * everything but [a-z0-9 ], collapse runs of spaces, trim. Regexes use
    * only literal character classes, which Java and RE2 interpret
    * identically. Narrow — no shuffle.
    */
  private def normalizedTextCol(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Incremental cross-corpus dedup: drop incoming documents whose
    * normalized content already exists in the reference corpus — the
    * "dedup the new crawl snapshot against everything already kept" step
    * of a continuously-growing corpus. Shuffle key is the 128-bit digest;
    * text never leaves its partition. Output keeps the incoming schema
    * plus the digest (for appending to the reference's hash index).
    */
  def dedupAgainst(incoming: DataFrame, reference: DataFrame): DataFrame =
    dedupAgainstHashes(incoming, contentHashIndex(reference))

  /** The reference side of [[dedupAgainst]] as a standalone index: the
    * distinct normalized-content digests of a corpus. This is the kept
    * representation an INCREMENTAL pipeline maintains (persist once,
    * append each admitted delta's digests, reuse every snapshot) instead
    * of re-hashing the full kept text per round — the exact-dedup twin
    * of [[Dedup.signatureDigestIndex]]. 16 bytes per kept document.
    */
  private def contentHashIndex(reference: DataFrame, dedupe: Boolean = true): DataFrame = {
    val hashes = TextAnalysis.spread(reference)
      .select(md5(normalizedTextCol(col("text"))).as("content_hash"))
    // `dedupe = false` skips the distinct's shuffle — correct wherever
    // the index feeds [[dedupAgainstHashes]] (anti-join semantics
    // tolerate duplicate digests); incremental appenders use it for
    // per-delta slices that are duplicate-free in practice.
    if (dedupe) hashes.distinct() else hashes
  }

  /** The combined admission-state row of a document — the near-dup
    * signature index ([[Dedup.signatureDigestIndex]] shape) PLUS the
    * exact-dedup content hash, from ONE text scan. This is the carried
    * kept-corpus representation the streaming admission sink persists
    * per delta: one scan and one cache entry per micro-batch where the
    * split indexes cost two of each (ISO_r17 — at gate scale the
    * admission DAG is plan-count-bound, and at 100 TB one fewer pass
    * over each admitted delta is one fewer pass). Unlike
    * [[Dedup.signatureDigestIndex]] it KEEPS shingle-less documents —
    * their hash still participates in exact dedup; signature consumers
    * filter `size(sigs) > 0` (the [[admissionSigView]] projection). No
    * hash distinct: [[dedupAgainstHashes]]' anti-join tolerates
    * duplicate digests, and skipping it keeps the build narrow.
    */
  def admissionIndex(docs: DataFrame, k: Int = 3, numHashes: Int = 8): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    TextAnalysis.spread(docs)
      .select(
        col("doc_id"),
        bridge.column(graft.expressions.MinHashSigDigests(
          bridge.expression(TextAnalysis.wordsCol), k, numHashes)).as("sd"),
        md5(normalizedTextCol(col("text"))).as("content_hash"))
      .select(
        col("doc_id"),
        col("sd.sigs").as("sigs"),
        col("sd.shl").as("shl"),
        size(col("sd.shl")).cast("long").as("n_sh"),
        col("content_hash"))
  }

  /** The `keptSignatures` view of an [[admissionIndex]] frame. */
  def admissionSigView(idx: DataFrame): DataFrame =
    idx.filter(size(col("sigs")) > 0)
      .select(col("doc_id"), col("sigs"), col("shl"), col("n_sh"))

  /** The `keptHashes` view of an [[admissionIndex]] frame. */
  def admissionHashView(idx: DataFrame): DataFrame =
    idx.select(col("content_hash"))

  /** [[dedupAgainst]] against a prebuilt [[contentHashIndex]]: the kept
    * corpus never re-hashes (only `incoming` is scanned). Duplicate
    * digests in `referenceHashes` are tolerated (anti-join semantics).
    */
  private def dedupAgainstHashes(incoming: DataFrame, referenceHashes: DataFrame): DataFrame =
    TextAnalysis.spread(incoming)
      .withColumn("content_hash", md5(normalizedTextCol(col("text"))))
      .join(referenceHashes.select("content_hash"), Seq("content_hash"), "left_anti")

  /** Deterministic stratified sampling: keep ~`pct`% of documents per
    * `source`, chosen by content-independent key hash — every engine and
    * every run picks the same rows, and each stratum is sampled at the
    * same rate regardless of its size (a global sample would let big
    * sources crowd out small ones). Pure projection + filter: no shuffle,
    * pushdown-friendly.
    */
  def stratifiedSample(docs: DataFrame, pct: Int = 10): DataFrame = {
    require(pct >= 0 && pct <= 100)
    // Salt the hash with the source so strata draw independent samples
    // (hashing doc_id alone would select the same ids in every stratum).
    docs.filter(
      pmod(Hashing.md5Long60(concat_ws("|", col("source"), col("doc_id").cast("string"))),
        lit(100L)) < pct)
  }

  /** Deterministic uniform k-sample per group — the batch equivalent of
    * per-group reservoir sampling: rank rows by a salted md5 of their id
    * (content-independent, so the sample is stable under text edits) and
    * keep the `k` hash-smallest. Exactly `min(k, |group|)` rows per
    * group, reproducible across runs AND engines (md5 is the
    * cross-engine hash family used throughout). Complements
    * [[stratifiedSample]]: that draws a RATE per stratum, this draws an
    * exact COUNT — the eval-set / human-review draw where "10 docs per
    * source" is the contract.
    *
    * Scale: the rank window is per-group and Spark's WindowGroupLimit
    * bounds it map-side — at most k rows per (input partition, group)
    * reach the shuffle, the usual top-k shape.
    */
  def uniformSamplePerGroup(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      k: Int,
      salt: String = "graft"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val key = md5(concat(lit(salt), lit(":"), idCol.cast("string")))
    df.withColumn(
      "sample_rnk",
      row_number().over(
        Window.partitionBy(groupCol).orderBy(key, idCol)).cast("int"))
      .filter(col("sample_rnk") <= k)
  }

  /** Exact duplicate groups over NORMALIZED text — catches near-dups that
    * differ only in case/punctuation, which raw [[Dedup.exactDuplicates]]
    * misses. Same scale shape: the shuffle key is the 128-bit digest of
    * the normalized text, never the text itself.
    */
  def normalizedDuplicates(docs: DataFrame): DataFrame =
    TextAnalysis.spread(docs) // regex normalization is the heavy step
      .select(col("doc_id"), md5(normalizedTextCol(col("text"))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("doc_id"))).as("members"))

  /** Changelog/CDC compaction: the LATEST row per key from an append-only
    * change stream — upsert materialization, the table-maintenance pass
    * every ingestion pipeline runs before serving a snapshot. `ordering`
    * must be a total order within a key (e.g. version desc, then a unique
    * id desc as tie-break) or "latest" is not well-defined.
    *
    * One shuffle on the key; Spark plans the rank-1 filter as
    * WindowGroupLimit, so each map task forwards only its per-key best
    * row — the shuffle carries ~|keys| rows, not the full changelog,
    * which is what makes compaction of a petabyte changelog tractable.
    */
  def latestSnapshot(changelog: DataFrame, keys: Seq[Column], ordering: Seq[Column]): DataFrame = {
    // The working column must not collide with user data: `withColumn`
    // silently REPLACES an existing column and the final drop would then
    // delete it. Probe for a free name instead of trusting a fixed one.
    val rn = Iterator.from(0).map(i => s"__graft_rn$i")
      .find(n => !changelog.columns.contains(n)).get
    val w = Window.partitionBy(keys: _*).orderBy(ordering: _*)
    changelog
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Budget-constrained mixture allocation across sources — the exact
    * waterfilling a pre-training data mix runs: given each source's
    * available token mass and a global budget, small sources are taken
    * whole ("saturated") and the rest share a common per-source cap, the
    * allocation that maximizes the minimum cap (i.e. flattens the mix as
    * much as the budget allows, the equalizing alternative to
    * proportional/temperature sampling).
    *
    * Closed form, no iteration: with sources sorted by availability
    * ascending, source i is saturated iff
    * `cum_{i−1} + (n−i+1)·a_i ≤ budget` (that condition is monotone in
    * i, so the saturated set is a prefix), and every unsaturated source
    * gets `(budget − Σ_saturated) DIV n_unsat` — all integer arithmetic,
    * with up to `n_unsat − 1` leftover tokens intentionally unallocated
    * (documented floor semantics, keeps the result engine-exact).
    *
    * Scale shape: the per-doc scan reduces map-side to ONE row per
    * source; the windows then run over that source-count-sized frame
    * (sources are O(10²) at any corpus scale — a single partition of
    * counters, not data).
    */
  def mixtureAllocation(
      perDoc: DataFrame,
      group: Column,
      weight: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget=$budget must be non-negative")
    val avail = perDoc
      .groupBy(group.as("grp"))
      .agg(sum(weight.cast("long")).as("available"))
    // Bounded-input invariant (r21 window audit): both windows run over
    // the per-GROUP availability aggregate — one row per quota group,
    // never the documents.
    val byAvail = Window.orderBy(col("available"), col("grp"))
    val all = Window.partitionBy()
    avail
      .withColumn("i", row_number().over(byAvail))
      .withColumn("cum", sum(col("available")).over(byAvail))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn(
        "saturated",
        (col("cum") - col("available")) + (col("n") - col("i") + 1) * col("available") <= budget)
      .withColumn("sat_cum", max(when(col("saturated"), col("cum")).otherwise(0L)).over(all))
      .withColumn("n_sat", sum(when(col("saturated"), 1L).otherwise(0L)).over(all))
      .withColumn(
        "allocated",
        when(col("saturated"), col("available"))
          .otherwise(expr(s"($budget - sat_cum) DIV (n - n_sat)")))
      .select(col("grp"), col("available"), col("allocated"), col("saturated"))
  }

  /** Cross-split near-duplicate leakage audit: every verified near-dup
    * pair ([[Dedup.lshVerifiedPairs]]) whose two documents land in
    * DIFFERENT [[hashSplit]] splits — the within-corpus contamination a
    * random split always creates when near-duplicates exist (a val/test
    * doc whose rewording sits in train is memorization, not
    * generalization, when evaluated). Run after splitting, before
    * training; the fix is cluster-aware splitting (assign whole
    * [[Dedup.dedupClusters]] components to one split), and this audit is
    * the check that proves it worked (zero rows under a cluster-aware
    * split).
    *
    * Scale: the pair side is LSH-bounded, the split assignment is a
    * narrow hash projection joined by doc_id — nothing new shuffles
    * beyond what the pair generation already does.
    */
  def splitLeakage(
      docs: DataFrame,
      trainPct: Int = 80,
      valPct: Int = 10,
      minJaccard: Double = 0.2): DataFrame = {
    val splits = hashSplit(docs, trainPct, valPct).select("doc_id", "split")
    Dedup.lshVerifiedPairs(docs, minJaccard = minJaccard)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
  }

  /** Leak-free train/val/test assignment: hash-split on the near-dup
    * CLUSTER's canonical id instead of the document's own — every member
    * of a [[Dedup.dedupClusters]] component lands in the same split by
    * construction, so the contamination [[splitLeakage]] audits for
    * cannot exist (its audit returns zero rows over this assignment —
    * pinned by spec). Documents in no near-dup pair are their own
    * canonical and split exactly like [[hashSplit]].
    *
    * Scale: adds the LSH + clustering passes to the split (both bounded;
    * see their scaladocs); the assignment itself stays a narrow hash
    * projection. Rates are per-canonical rather than per-document, which
    * for near-dup-heavy corpora is the point: duplicates stop double-
    * counting toward the split proportions.
    */
  def clusterAwareSplit(
      docs: DataFrame,
      trainPct: Int = 80,
      valPct: Int = 10,
      minJaccard: Double = 0.5): DataFrame = {
    require(trainPct + valPct < 100)
    val clusters = Dedup
      .dedupClusters(Dedup.lshVerifiedPairs(docs, minJaccard = minJaccard))
      .select(col("doc_id"), col("canonical_id"))
    val canon = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
    val bucket = pmod(Hashing.md5Long60(col("canonical_id").cast("string")), lit(100L))
    canon.select(
      col("doc_id"),
      col("canonical_id"),
      bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** One admission round of the incremental curation pipeline: the
    * snapshot documents that (1) pass the quality filter, (2) are not
    * exact duplicates of the kept corpus (normalized content hash), and
    * (3) are not verified NEAR-duplicates of the kept corpus (LSH
    * candidates + exact digest-set jaccard). Returns admitted rows with
    * the snapshot's schema — the rows that JOIN the kept corpus.
    *
    * This is the batch semantics that
    * [[graft.streaming.StreamingOps.corpusAdmissionSink]] replays
    * incrementally: admitting snapshots S₁, S₂ through that sink equals
    * `admitSnapshot(kept, S₁)` then `admitSnapshot(kept ∪ admitted₁, S₂)`
    * (pinned by spec). Scale shape is the composition of its parts — the
    * quality pass is narrow, both dedup passes shuffle digests and band
    * keys only, and the kept side can be a persisted
    * [[Dedup.signatureDigestIndex]].
    */
  def admitSnapshot(
      kept: DataFrame,
      snapshot: DataFrame,
      minJaccard: Double = 0.75,
      keptSignatures: Option[DataFrame] = None,
      keptHashes: Option[DataFrame] = None,
      snapshotBounded: Boolean = false): DataFrame = {
    val novel = novelCandidates(kept, snapshot, keptHashes)
    val survivors = Dedup.nearDupAgainst(
      kept, novel, minJaccard = minJaccard, keptSignatures = keptSignatures,
      snapshotBounded = snapshotBounded)
    novel.join(
      if (snapshotBounded) broadcast(survivors) else survivors,
      Seq("doc_id"), "left_semi")
  }

  /** [[admitSnapshot]] as a cache-lifecycle bracket
    * ([[Dedup.withNearDupAgainst]] semantics): runs the action `f` over
    * the admitted frame, then unpersists the near-dup indexes this call
    * built. The form repeated callers want — a streaming sink admitting
    * micro-batch after micro-batch would otherwise accumulate two
    * session-lifetime index caches per batch.
    */
  def withAdmitSnapshot[T](
      kept: DataFrame,
      snapshot: DataFrame,
      minJaccard: Double = 0.75,
      keptSignatures: Option[DataFrame] = None,
      keptHashes: Option[DataFrame] = None,
      snapshotBounded: Boolean = false)(f: DataFrame => T): T = {
    // `novel` feeds BOTH the near-dup index build and the final
    // anti-join — persist it for the bracket so the quality-filter +
    // exact-dedup front half runs once, not once per consumer.
    val novel = novelCandidates(kept, snapshot, keptHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Anti-join the DROPPED ids directly instead of materializing the
      // survivor list and semi-joining it — same rows (dropped ⊆ novel,
      // doc_id unique), one join and one broadcast fewer per call, which
      // a per-micro-batch caller pays on every trigger.
      Dedup.withNearDupDropped(
        kept, novel, minJaccard = minJaccard, keptSignatures = keptSignatures,
        snapshotBounded = snapshotBounded) { dropped =>
        f(novel.join(
          if (snapshotBounded) broadcast(dropped) else dropped,
          Seq("doc_id"), "left_anti"))
      }
    } finally { novel.unpersist(); () }
  }

  /** Shared front half of the admission: quality-passing snapshot rows
    * whose normalized content hash is not already kept. With a
    * caller-maintained `keptHashes` ([[contentHashIndex]] shape) the
    * kept text is never read — the incremental path.
    */
  private def novelCandidates(
      kept: DataFrame,
      snapshot: DataFrame,
      keptHashes: Option[DataFrame] = None): DataFrame = {
    val quality = TextAnalysis.qualityFilter(snapshot)
      .filter(col("keep")).select("doc_id")
    val qualified = snapshot.join(quality, Seq("doc_id"), "left_semi")
    dedupAgainstHashes(qualified, keptHashes.getOrElse(contentHashIndex(kept)))
      .drop("content_hash")
  }

  /** Temperature-weighted mixture allocation at α = 0.5 — the classic
    * multilingual-pretraining rebalance (small sources get more than
    * their proportional share, large ones less, in proportion to
    * √size): source i's budget quota is `budget · √aᵢ / Σ√aⱼ`,
    * integerized by largest-remainder so quotas sum EXACTLY to the
    * budget, then capped at availability. Complements
    * [[mixtureAllocation]]'s waterfill (equal caps) with the smooth
    * power-law interpolation between proportional (α=1) and uniform
    * (α=0).
    *
    * Every emitted value is engine-bit-identical: the weight is
    * `floor(√available)` — IEEE `sqrt` is CORRECTLY rounded (unlike
    * log/exp), so the floor of it over an exact integer matches across
    * engines — and everything downstream is long arithmetic
    * (`budget·wᵢ DIV/% Σw`, rank, min). Requires `budget · max(w)`
    * within long range (budget ≤ ~10¹² at corpus scale).
    *
    * Scale: one per-group aggregate; the allocation windows run over
    * the group table (sources are few by definition).
    */
  def temperatureAllocation(
      perDoc: DataFrame,
      group: Column,
      weight: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget=$budget must be non-negative")
    // Bounded-input invariant (r21 window audit): both windows run over
    // the per-GROUP seat table — one row per quota group, never the
    // documents.
    val all = Window.partitionBy()
    val bySeat = Window.orderBy(col("rem").desc, col("grp"))
    perDoc
      .groupBy(group.as("grp"))
      .agg(sum(weight.cast("long")).as("available"))
      .withColumn("w", floor(sqrt(col("available").cast("double"))).cast("long"))
      .withColumn("denom", sum(col("w")).over(all))
      .withColumn(
        "quota",
        when(col("denom") > 0, expr(s"($budget * w) DIV denom")).otherwise(0L))
      .withColumn(
        "rem",
        when(col("denom") > 0, expr(s"($budget * w) % denom")).otherwise(0L))
      .withColumn("seat_rank", row_number().over(bySeat))
      .withColumn("q_total", sum(col("quota")).over(all))
      .withColumn(
        "quota_final",
        col("quota") + when(
          col("denom") > 0 && col("seat_rank") <= (lit(budget) - col("q_total")), 1L)
          .otherwise(0L))
      .select(
        col("grp"), col("available"), col("w"), col("quota_final").as("quota"),
        least(col("quota_final"), col("available")).as("allocated"))
  }

  /** The sparse Bloom word table of a kept corpus: one row per SET
    * 62-bit word, `(word = p DIV 62, w = bit_or of set bits)`, built
    * from three md5-derived probe positions per distinct normalized
    * content hash. Stays a DataFrame end to end — at a 10⁹-document
    * kept corpus the sized filter is ~10¹⁰ bits ≈ 1.2 GB of words,
    * fatal to parse as an inline SQL array literal (the defect this
    * design replaced) but a perfectly ordinary join table. Pure and
    * unpersisted: an incremental caller persists the snapshot's table
    * itself, merges new snapshots in with [[mergeBloomWordTables]]
    * (bit_or is associative/commutative/idempotent), and owns the
    * release — no session-scoped cache to leak.
    * Size `bits ≈ 7.3 × |kept|` for ~10% FPR, multiple of 62.
    */
  def bloomWordTable(reference: DataFrame, bits: Long = 1984L): DataFrame = {
    require(bits >= 62 && bits % 62 == 0,
      s"bits=$bits must be a positive multiple of 62")
    val kept = TextAnalysis.spread(reference)
      .withColumn("content_hash", md5(normalizedTextCol(col("text"))))
      .select("content_hash").distinct()
    bloomPositions(kept, bits)
      .select(explode(array(col("p0"), col("p1"), col("p2"))).as("p"))
      .select(
        expr("p DIV 62").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), p % 62)").as("m"))
      .groupBy(col("word"))
      .agg(expr("bit_or(m)").as("w"))
  }

  /** Merge per-snapshot [[bloomWordTable]]s into the union corpus's
    * table (same `bits` required — callers keep it with the table).
    * bit_or makes the merge order-insensitive and replay-idempotent.
    */
  def mergeBloomWordTables(tables: Seq[DataFrame]): DataFrame = {
    require(tables.nonEmpty, "no word tables to merge")
    tables.reduce(_ unionByName _)
      .groupBy(col("word")).agg(expr("bit_or(w)").as("w"))
  }

  private def bloomPositions(df: DataFrame, bits: Long): DataFrame = df
    .withColumn("hh", Hashing.md5Pair(col("content_hash")))
    .withColumn("p0", col("hh.h60") % bits)
    .withColumn("p1", col("hh.h52") % bits)
    .withColumn("p2", col("hh.h60").bitwiseXOR(col("hh.h52")) % bits)
    .drop("hh")

  /** [[dedupAgainst]] with a Bloom pre-filter — sketch-accelerated,
    * exactness preserved: the kept corpus's content hashes build one
    * Bloom filter as the SPARSE word table of [[bloomWordTable]], and
    * each incoming row probes its three positions against it. Two
    * probe shapes, same answer (oracle-pinned):
    *
    *   - `broadcastFilter = true`: three broadcast equi-joins
    *     on the word index (`p DIV 62`), one per probe position — ZERO
    *     shuffles of the incoming snapshot. AQE's runtime stage cache
    *     materializes the three identical broadcast builds ONCE (the
    *     final plan shows two ReusedExchange nodes pointing at the one
    *     build — pinned in PlanShapeSpec), so no operator-side persist
    *     is needed. Only right when the word table fits the broadcast
    *     budget AND probe latency dominates (small interactive jobs):
    *     it pays three probe joins over EVERY incoming row.
    *   - `broadcastFilter = false` (default): the filter size is UNBOUNDED by the
    *     broadcast/driver budget. Probes explode to `(content_hash,
    *     word, bit)` rows — 3 per distinct hash, never the text — and
    *     meet the word table in ONE shuffle equi-join on `word`;
    *     `bool_and` of the three hits re-aggregates per hash, and the
    *     flag joins back to the snapshot on `content_hash` (the same
    *     key the exact anti-join shuffles on). This is the 100 TB path
    *     once the kept corpus outgrows broadcasting — and the default:
    *     probing once per DISTINCT hash instead of three times per row
    *     measured 1.8× faster than the broadcast probe at 10× scale
    *     (SCALE_r10), on top of being budget-unbounded.
    *
    * Either way, Bloom-negative rows are DEFINITELY novel (no false
    * negatives) and skip the anti-join entirely; only the maybe rows —
    * true duplicates plus the filter's ~FPR of novel rows — pay the
    * exact digest join. If the table is too big to broadcast you can
    * also size `bits` DOWN instead: a higher FPR only moves rows from
    * the skip path back to the anti-join, never changes the answer —
    * the graceful degradation a pre-filter should have.
    *
    * Output: the SAME rows [[dedupAgainst]] returns, plus
    * `needed_exact_check` telling which survivors paid the join
    * (deterministic given the hash family, so it hash-verifies too).
    * Incremental callers with a persisted, merged word table use
    * [[bloomDedupAgainstWith]] and own the cache lifecycle; this
    * convenience form persists nothing (nothing to release).
    */
  def bloomDedupAgainst(
      incoming: DataFrame,
      reference: DataFrame,
      bits: Long = 1984L,
      broadcastFilter: Boolean = false): DataFrame =
    bloomDedupAgainstWith(
      incoming, reference, bloomWordTable(reference, bits), bits, broadcastFilter)

  /** [[bloomDedupAgainst]] probing a CALLER-PROVIDED word table (built
    * by [[bloomWordTable]] with the same `bits`, possibly merged across
    * snapshots and persisted by the caller — who then owns the single
    * unpersist, instead of a session-scoped cache this operator would
    * have to leak).
    */
  def bloomDedupAgainstWith(
      incoming: DataFrame,
      reference: DataFrame,
      words: DataFrame,
      bits: Long = 1984L,
      broadcastFilter: Boolean = false): DataFrame = {
    require(bits >= 62 && bits % 62 == 0,
      s"bits=$bits must be a positive multiple of 62")
    val inc = TextAnalysis.spread(incoming)
      .withColumn("content_hash", md5(normalizedTextCol(col("text"))))
    val kept = TextAnalysis.spread(reference)
      .withColumn("content_hash", md5(normalizedTextCol(col("text"))))
      .select("content_hash").distinct()
    val probed =
      if (broadcastFilter) {
        // Sparse-table probe: only SET words appear as rows; a probe
        // whose word is absent left-joins to null → coalesce(0) → a
        // guaranteed miss.
        def probeJoin(df: DataFrame, i: Int): DataFrame = df
          .withColumn(s"_bl_word$i", expr(s"p$i DIV 62"))
          .join(
            broadcast(words.select(
              col("word").as(s"_bl_word$i"), col("w").as(s"_bl_w$i"))),
            Seq(s"_bl_word$i"), "left_outer")
        def hit(i: Int) = expr(
          s"(shiftright(coalesce(_bl_w$i, CAST(0 AS BIGINT)), CAST(p$i % 62 AS INT)) & 1) = 1")
        (0 until 3)
          .foldLeft(bloomPositions(inc, bits))(probeJoin)
          .withColumn("maybe", hit(0) && hit(1) && hit(2))
          .drop((0 until 3).flatMap(i => Seq(s"_bl_word$i", s"_bl_w$i")): _*)
          .drop("p0", "p1", "p2")
      } else {
        // Shuffle probe: positions depend only on the content hash, so
        // probe once per DISTINCT hash and join the verdict back. The
        // text itself is never exploded and never keyed by `word`.
        val flags = bloomPositions(inc.select("content_hash").distinct(), bits)
          .select(col("content_hash"),
            explode(array(col("p0"), col("p1"), col("p2"))).as("p"))
          .select(col("content_hash"),
            expr("p DIV 62").as("word"),
            expr("CAST(p % 62 AS INT)").as("bit"))
          // The hint makes "never broadcast the filter" structural: the
          // planner's size estimate must not silently re-introduce the
          // driver ceiling this path exists to remove.
          .join(words.hint("shuffle_hash"), Seq("word"), "left_outer")
          .groupBy(col("content_hash"))
          .agg(expr(
            "bool_and((shiftright(coalesce(w, CAST(0 AS BIGINT)), bit) & 1) = 1)")
            .as("maybe"))
        inc.join(flags, Seq("content_hash"))
      }
    val definitelyNew = probed.filter(!col("maybe"))
      .drop("maybe").withColumn("needed_exact_check", lit(false))
    val survivors = probed.filter(col("maybe")).drop("maybe")
      .join(kept, Seq("content_hash"), "left_anti")
      .withColumn("needed_exact_check", lit(true))
    definitelyNew.unionByName(survivors)
  }

  /** End-to-end batch corpus curation as ONE call — the composition a
    * training-data team runs per corpus snapshot: quality filter →
    * sub-document boilerplate removal → exact dedup on the CLEANED text
    * → deterministic split. Every input document gets a verdict row:
    *
    *   - `rejected_quality` — failed [[TextAnalysis.qualityFilter]]
    *     (`reject_reasons` says why);
    *   - `dropped_duplicate` — its boilerplate-stripped text equals a
    *     lower-id survivor's (`dup_of` names the canonical);
    *   - `kept` — with its train/val/test `split`.
    *
    * Dedup runs on CLEANED text deliberately: two documents differing
    * only in chrome ARE duplicates once the chrome is stripped (the
    * composition catches what either stage alone misses — including
    * documents wiped to `""`, which all collapse into one canonical
    * empty doc). Scale shape is the composition of its audited parts;
    * the glue adds only doc_id-keyed joins of verdict-sized columns and
    * one digest-keyed canonical-id aggregate (the cleaned text hashes,
    * never the text, are the shuffle key). The cleaned table — consumed
    * by both the canonical-id aggregate and the verdict join — is
    * persisted so the boilerplate-removal subtree runs ONCE, not once
    * per consumer.
    */
  def curateCorpus(
      docs: DataFrame,
      passageLen: Int = 8,
      maxDocFreq: Long = 1): DataFrame =
    curateCorpusPlan(docs, passageLen, maxDocFreq)._1

  /** [[curateCorpus]] as a caller-owned-lifecycle bracket: runs the
    * action `f` over the verdict frame, then unpersists the cleaned
    * table this call persisted — the
    * [[graft.operators.Dedup.withNearDupAgainst]] convention for
    * one-shot callers, so long-lived sessions never accumulate
    * session-lifetime caches.
    */
  def withCurateCorpus[T](
      docs: DataFrame,
      passageLen: Int = 8,
      maxDocFreq: Long = 1)(f: DataFrame => T): T = {
    val (result, cached) = curateCorpusPlan(docs, passageLen, maxDocFreq)
    try f(result) finally cached.unpersist()
  }

  /** [[curationFunnel]] under the same bracket: the funnel consumes
    * [[curateCorpus]]'s plan (and therefore its persisted cleaned
    * table), so the one-shot form must release that cache after the
    * action exactly like [[withCurateCorpus]].
    */
  def withCurationFunnel[T](
      docs: DataFrame,
      passageLen: Int = 8,
      maxDocFreq: Long = 1)(f: DataFrame => T): T = {
    val (verdicts, cached) = curateCorpusPlan(docs, passageLen, maxDocFreq)
    try f(funnelOf(docs, verdicts)) finally cached.unpersist()
  }

  private def curateCorpusPlan(
      docs: DataFrame,
      passageLen: Int,
      maxDocFreq: Long): (DataFrame, DataFrame) = {
    val q = TextAnalysis.qualityFilter(docs)
    val passing = docs.join(q.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val cleaned = Dedup.passageDedup(passing, passageLen, maxDocFreq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = cleaned
      .groupBy(md5(col("clean_text")).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"))
    val withCanon = cleaned
      .select(col("doc_id"), col("n_dropped"), md5(col("clean_text")).as("h"))
      .join(canon, Seq("h"))
      .drop("h")
    val split = hashSplit(withCanon.filter(col("doc_id") === col("canonical_id")))
    val verdicts = q.select(col("doc_id"), col("keep"), col("reject_reasons"))
      .join(withCanon, Seq("doc_id"), "left_outer")
      .join(split.select(col("doc_id"), col("split")), Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        when(!col("keep"), lit("rejected_quality"))
          .when(col("doc_id") =!= col("canonical_id"), lit("dropped_duplicate"))
          .otherwise(lit("kept")).as("verdict"),
        col("reject_reasons"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped_passages"),
        when(col("doc_id") =!= col("canonical_id"), col("canonical_id")).as("dup_of"),
        col("split"))
    (verdicts, cleaned)
  }

  /** Per-source curation funnel — the monitoring view a pipeline team
    * watches per snapshot: how many documents each source contributed
    * and where they went ([[curateCorpus]] verdicts aggregated), plus
    * the boilerplate volume and the split distribution of the keepers.
    * A source whose `n_rejected_quality` or `n_dropped_duplicate` share
    * jumps between snapshots is the first thing to investigate (cf.
    * [[graft.functions.TextAnalysis.sourceDrift]] for the token-level
    * view, [[graft.operators.Timeseries.dailyAnomalies]] for volumes).
    *
    * Scale: everything corpus-sized happens inside [[curateCorpus]];
    * the funnel adds one doc_id-keyed join of verdict-sized columns and
    * a |sources|-bounded aggregate.
    */
  def curationFunnel(
      docs: DataFrame,
      passageLen: Int = 8,
      maxDocFreq: Long = 1): DataFrame =
    funnelOf(docs, curateCorpus(docs, passageLen, maxDocFreq))

  private def funnelOf(docs: DataFrame, verdicts: DataFrame): DataFrame =
    verdicts
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("verdict") === "rejected_quality", 1)).as("n_rejected_quality"),
        count(when(col("verdict") === "dropped_duplicate", 1)).as("n_dropped_duplicate"),
        count(when(col("verdict") === "kept", 1)).as("n_kept"),
        sum(col("n_dropped_passages")).as("n_dropped_passages"),
        count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "val", 1)).as("n_val"),
        count(when(col("split") === "test", 1)).as("n_test"))

  /** Quality-ranked token-budget selection: keep the documents whose
    * cumulative cost still fits `budget` when ranked by (score desc, id
    * asc) — "take the best docs until N tokens", the final selection
    * step of a budgeted pretraining mix. Strict-prefix semantics: the
    * first row that would overflow cuts the selection there (no
    * skip-and-refill knapsack), so the kept set is a deterministic
    * prefix of the global quality order and any engine reproduces it.
    * Output `(id, score, cost, cum_cost)` with `cum_cost` the inclusive
    * global running cost.
    *
    * Scale: the textbook `sum(cost) over (order by score)` is a
    * single-partition window — the whole corpus through one task
    * (Spark's own "No Partition Defined for Window operation" warning).
    * This is instead the distributed prefix sum: range-partition the
    * narrow (id, score, cost) triple on the sort key, aggregate
    * per-partition cost totals (one row per partition), convert their
    * running sum to per-partition offsets with a window over that
    * partition-count-bounded frame, broadcast the offsets back, and
    * cumsum WITHIN each partition in parallel. Which row lands in which
    * partition depends on sampled range boundaries, but the result does
    * not: range partitioning keeps the global order contiguous across
    * partitions, so offset + within-partition running cost IS the
    * global prefix sum. The totals subtree shares the range exchange
    * with the main pass (ReuseExchange — pinned in PlanShapeSpec), so
    * the corpus shuffles once.
    */
  def tokenBudgetSelect(
      df: DataFrame,
      idCol: Column,
      scoreCol: Column,
      costCol: Column,
      budget: Long,
      numPartitions: Int = 32): DataFrame = {
    require(budget >= 0, s"budget=$budget must be >= 0")
    require(numPartitions >= 1, s"numPartitions=$numPartitions must be >= 1")
    val triple = df
      .select(idCol.as("id"), scoreCol.as("score"), costCol.cast("long").as("cost"))
      .repartitionByRange(numPartitions, col("score").desc, col("id"))
      .withColumn("_pid", spark_partition_id())
    // ≤ numPartitions rows: the one intentionally-global window runs
    // over the per-partition totals, never the data.
    val offsets = triple.groupBy(col("_pid")).agg(sum(col("cost")).as("_t"))
      .withColumn(
        "_off",
        coalesce(
          sum(col("_t")).over(
            // Bounded-input invariant (r21 window audit): one row per
            // _pid bucket (≤ numPartitions rows), never the documents.
            Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("_pid"), col("_off"))
    val w = Window.partitionBy(col("_pid")).orderBy(col("score").desc, col("id"))
    triple.join(broadcast(offsets), Seq("_pid"))
      .withColumn("cum_cost", col("_off") + sum(col("cost")).over(w))
      .filter(col("cum_cost") <= budget)
      .select(col("id"), col("score"), col("cost"), col("cum_cost"))
  }

  /** Deterministic corpus shuffle: a reproducible (shard, pos) training
    * order for every document from salted md5 hashes alone — "shuffle
    * the corpus for this training run, identically on every rerun".
    * Shard assignment and within-shard order use independently salted
    * hashes (`salt:s:` / `salt:o:`), so the order within a shard is not
    * correlated with the shard split; a different `salt` draws an
    * independent permutation, the same `salt` reproduces the exact
    * order across runs, partitionings, and engines (md5 is the
    * cross-engine hash family used throughout). Appends `shard` and
    * `pos` (1-based within shard) to the input columns.
    *
    * Scale: one hash shuffle on `shard` — uniform by construction — and
    * a per-shard rank window; `numShards` is the parallelism knob (the
    * [[packSequences]] shape). No global sort at any size.
    */
  def deterministicShuffle(
      df: DataFrame,
      idCol: Column,
      numShards: Int = 32,
      salt: String = "graft"): DataFrame = {
    require(numShards >= 1, s"numShards=$numShards must be >= 1")
    val hShard = Hashing.md5Long60(concat(lit(salt), lit(":s:"), idCol.cast("string")))
    val hOrd = md5(concat(lit(salt), lit(":o:"), idCol.cast("string")))
    df.withColumn("shard", pmod(hShard, lit(numShards.toLong)))
      .withColumn(
        "pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(hOrd, idCol)).cast("long"))
  }

  /** Materialize a fractional per-group repeat plan into concrete,
    * deterministic document copies — the step that turns a data recipe
    * ("upsample this source 2.5×, downsample that one to 0.7×") into an
    * explicit training list. `factors` (columns `grp`, `factor_ppm`)
    * maps each group to a repeat factor in parts-per-million
    * (2_500_000 ppm = 2.5 copies): every
    * doc gets `factor DIV 1M` whole copies, and the extra fractional
    * copy goes to the docs whose salted-md5 residue falls below
    * `factor MOD 1M` — an exact-in-expectation, content-independent,
    * engine-reproducible draw (the [[stratifiedSample]] coin, reused as
    * the repeat coin). Output repeats each kept input row with
    * `copy_id` 1..n_copies.
    *
    * Scale: one broadcast join of the (groups-bounded) factor table and
    * a narrow explode — no shuffle of the corpus; the output size is
    * the recipe's token budget, which is the point.
    */
  def materializeRepeats(
      docs: DataFrame,
      groupName: String,
      idCol: Column,
      factors: DataFrame,
      salt: String = "graft"): DataFrame = {
    val whole = expr("factor_ppm DIV 1000000")
    val coin = pmod(
      Hashing.md5Long60(concat(lit(salt), lit(":"), idCol.cast("string"))),
      lit(1000000L))
    val nCopies = (whole +
      when(coin < pmod(col("factor_ppm"), lit(1000000L)), 1L).otherwise(0L))
      .cast("long")
    docs.join(broadcast(factors), docs(groupName) === factors("grp"))
      .withColumn("n_copies", nCopies)
      .filter(col("n_copies") > 0)
      .select(
        docs.columns.map(docs(_)) :+ col("n_copies") :+
          explode(sequence(lit(1L), col("n_copies"))).as("copy_id"): _*)
  }

  /** Length-bucketed batching: group documents of similar token length
    * into fixed-size batches so per-batch padding (to the batch max) is
    * small — the standard fine-tuning batcher. `boundaries` split the
    * length axis into buckets (`bucket` = number of boundaries ≤
    * n_tokens); within a (bucket, shard) cell, docs are ranked by
    * (n_tokens, id) and cut into batches of `batchSize`; `pad_waste` is
    * the per-doc padding the batch assignment costs (batch max −
    * n_tokens).
    *
    * Scale: the rank window is per (bucket, shard) — `numShards`
    * (id-hash) keeps a popular length bucket from serializing into one
    * task, the [[packSequences]] trade; batches are globally identified
    * by (bucket, shard, batch_id). One shuffle of (id, n_tokens) pairs.
    */
  def lengthBucketBatches(
      docs: DataFrame,
      idCol: Column,
      lenCol: Column,
      boundaries: Seq[Long],
      batchSize: Int = 8,
      numShards: Int = 4): DataFrame = {
    require(batchSize >= 1, s"batchSize=$batchSize must be >= 1")
    require(numShards >= 1, s"numShards=$numShards must be >= 1")
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      s"boundaries must be a nonempty ascending list, got $boundaries")
    val bucket = boundaries
      .map(b => when(lenCol >= b, 1L).otherwise(0L))
      .reduce(_ + _)
    val base = docs.select(
      idCol.as("id"),
      lenCol.cast("long").as("n_tokens"),
      bucket.as("bucket"),
      pmod(Hashing.md5Long60(idCol.cast("string")), lit(numShards.toLong)).as("shard"))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("n_tokens"), col("id"))
    val batched = base
      .withColumn("_rnk", row_number().over(w).cast("long") - 1L)
      .withColumn("batch_id", expr(s"_rnk DIV $batchSize"))
      .withColumn("pos", pmod(col("_rnk"), lit(batchSize.toLong)))
    val wb = Window.partitionBy(col("bucket"), col("shard"), col("batch_id"))
    batched
      .withColumn("batch_max", max(col("n_tokens")).over(wb))
      .withColumn("pad_waste", col("batch_max") - col("n_tokens"))
      .select(
        col("id"), col("n_tokens"), col("bucket"), col("shard"),
        col("batch_id"), col("pos"), col("batch_max"), col("pad_waste"))
  }

  /** Snapshot diff — CDC between two corpus snapshots: which documents
    * were added, removed, changed, or left untouched since the last
    * ingest, by key and content digest. The incremental-pipeline
    * primitive: downstream re-embedding / re-tokenization wants exactly
    * the `added ∪ changed` slice, retention tooling wants `removed`, and
    * "unchanged should dominate" is the cheapest ingest sanity check
    * there is.
    *
    * Scale: each side is projected to `(key, md5(text), source)` BEFORE
    * the join, so the full-outer shuffle carries 16-byte digests, never
    * document bodies; the join is a plain key equi-join (AQE handles
    * skew), and at 100 TB the digest projection is the only pass over
    * text on either side.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String = "doc_id"): DataFrame = {
    def digested(df: DataFrame, tag: String) = df.select(
      col(keyCol).as("key"),
      md5(col("text")).as(s"${tag}_digest"),
      col("source").as(s"${tag}_source"))
    digested(oldSnap, "old")
      .join(digested(newSnap, "new"), Seq("key"), "full_outer")
      .select(
        col("key"),
        coalesce(col("new_source"), col("old_source")).as("source"),
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Rendezvous (highest-random-weight) sharding — STABLE key→shard
    * assignment for a corpus that re-shards as it grows: each key goes
    * to the shard with the highest keyed hash, so growing from `n` to
    * `n + 1` shards moves ONLY the keys whose new winner is the NEW
    * shard (expected 1/(n+1) of them) — against modulo sharding's
    * wholesale reshuffle (`pmod` moves ~n/(n+1) of all keys on the same
    * transition). The q159 gate proves the property on real data: every
    * key whose n=5 and n=6 assignments differ lands on shard 5.
    *
    * Deterministic: the weight is the house 60-bit md5 slice of
    * `key#shard`; ties (astronomically unlikely) break toward the
    * smallest shard via the struct order. Pure narrow projection —
    * no shuffle, pushdown-friendly; cost is `numShards` digests per
    * row, so keep `numShards` ≤ ~100 (production hierarchies compose
    * two levels rather than one wide one).
    */
  def rendezvousShard(df: DataFrame, key: Column, numShards: Int): DataFrame = {
    require(numShards >= 1 && numShards <= 1024,
      s"numShards=$numShards out of range [1, 1024]")
    val best = array_max(transform(
      sequence(lit(0), lit(numShards - 1)),
      s => struct(
        Hashing.md5Long60(concat_ws("#", key, s.cast("string"))).as("h"),
        (-s).cast("long").as("ns"))))
    df.withColumn("shard", (-best.getField("ns")).cast("int"))
  }

  /** CDC delta feed with payloads — the shippable companion to
    * [[snapshotDiff]]'s classification: one row per added / removed /
    * changed key (unchanged keys are absent, so the feed is
    * delta-sized), carrying the NEW snapshot's full row for
    * added/changed and the key alone (payload NULLs) for removed.
    * This is the artifact an incremental pipeline persists per refresh
    * and the input [[applyChanges]] replays.
    *
    * Scale: the digest comparison joins 16-byte digests on the key (the
    * q108 shape — text never joins), and only the delta keys join back
    * to the new snapshot for payloads. Output is change-sized, not
    * snapshot-sized.
    */
  def snapshotDelta(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String = "doc_id"): DataFrame = {
    val payloadCols = newSnap.columns.filterNot(_ == keyCol).toSeq
    val delta = snapshotDiff(oldSnap, newSnap, keyCol)
      .filter(col("status") =!= "unchanged")
      .select(col("key").as(keyCol), col("status"))
    delta.join(newSnap, Seq(keyCol), "left_outer")
      .select(col(keyCol) +: payloadCols.map(col) :+ col("status"): _*)
  }

  /** MERGE/upsert apply — the write path that closes the CDC loop
    * [[snapshotDiff]]/[[snapshotDelta]] (read) and [[latestSnapshot]]
    * (changelog compaction) open: `applyChanges(prev, delta)` produces
    * the next snapshot by dropping every delta key from `prev` and
    * inserting the delta's added/changed payloads. By construction
    * `applyChanges(old, snapshotDelta(old, new)) == new` (the
    * full-recompute equivalence q153's oracle hash-checks), and
    * re-applying the same delta is IDEMPOTENT: the anti-join removes
    * the rows the first application inserted, then inserts the
    * identical payloads again (pinned by spec) — the foreachBatch
    * replay property the streaming sinks rely on, here for batch
    * refreshes.
    *
    * Scale: ONE key-keyed anti-join of the snapshot against the
    * delta-sized key set (broadcastable when the delta is a trigger's
    * worth — pass `deltaBounded = true`) plus a union; the snapshot is
    * never re-digested and never shuffles beyond the anti-join.
    */
  /** Incremental VIEW maintenance for per-key count/sum aggregates — the
    * delta-merge that keeps a corpus dashboard current without
    * re-aggregating the corpus: `applyChanges` maintains the ROWS of a
    * snapshot, this maintains an AGGREGATE over them. `state` is the
    * maintained table `(grp, n, sum_x)`; `changes` is a feed
    * `(grp, x, op)` with op ∈ {insert, delete}; the merge is
    * `n' = n + Σ±1, sum' = sum + Σ±x` per group — count/sum are
    * self-inverse under deletion (the classic IVM property min/max do
    * NOT have), so the result equals a full recompute over the changed
    * corpus, which is exactly what the oracle checks. Groups whose
    * count reaches zero vanish (a full recompute would not emit them);
    * a count driven NEGATIVE (deleting rows that were never inserted)
    * is kept and visible rather than clamped — feed integrity is the
    * caller's contract and a silent clamp would hide the violation.
    *
    * Scale: ONE delta-sized aggregate + one key equi-join against the
    * state table — work proportional to state + delta, never to the
    * raw corpus the state summarizes. That is the IVM win: the corpus
    * is read zero times.
    */
  def maintainAggregate(state: DataFrame, changes: DataFrame): DataFrame = {
    val sign = when(col("op") === "insert", 1L).otherwise(-1L)
    val d = changes
      .select(col("grp"), sign.as("dsign"), col("x").cast("long").as("x"))
      .groupBy(col("grp"))
      .agg(sum(col("dsign")).as("dn"), sum(col("dsign") * col("x")).as("dx"))
    state.join(d, Seq("grp"), "full_outer")
      .select(
        col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sum_x"), lit(0L)) + coalesce(col("dx"), lit(0L))).as("sum_x"))
      .filter(col("n") =!= 0L)
  }

  def applyChanges(
      prev: DataFrame,
      delta: DataFrame,
      keyCol: String = "doc_id",
      deltaBounded: Boolean = false): DataFrame = {
    val keys = delta.select(col(keyCol)).distinct()
    val inserts = delta
      .filter(col("status") =!= "removed")
      .drop("status")
      .select(prev.columns.map(col).toSeq: _*)
    prev
      .join(if (deltaBounded) broadcast(keys) else keys, Seq(keyCol), "left_anti")
      .unionByName(inserts)
  }

  /** Systematic weighted sampling: place `k` equally-spaced strata over
    * the cumulative weight axis and keep each document whose weight span
    * crosses a stratum boundary — every kept doc represents the same
    * share of total weight, heavy docs are picked proportionally
    * (`n_picks` > 1 when one doc spans several strata), and the whole
    * draw is a deterministic function of the data and the salt. This is
    * the weighted complement of [[uniformSamplePerGroup]]: that samples
    * documents uniformly, this samples WEIGHT uniformly — the right draw
    * when "10% of the tokens", not "10% of the docs", is the contract.
    * Docs are traversed in salted-md5 order so the draw is decorrelated
    * from ingest order without any RNG.
    *
    * Stratum membership is exact integer arithmetic — `floor(cum·k/T) −
    * floor((cum−w)·k/T)` on BIGINTs, no float thresholds, no
    * transcendentals — so every engine picks the identical rows.
    * Caller contract: `totalWeight × k` must stay below 2^63; at
    * 100 TB of text (≈10^14 weight units) and k ≤ 10^4 that holds with
    * an order of magnitude to spare.
    *
    * Scale: the prefix sum is the [[tokenBudgetSelect]] distributed
    * shape — range-partition the narrow (id, hash, weight) triple, one
    * per-partition offset table (≤ `numPartitions` rows) through the
    * only global window, broadcast it back — one range exchange of
    * narrow triples, no single-task cumsum anywhere.
    */
  def systematicWeightedSample(
      df: DataFrame,
      idCol: Column,
      weightCol: Column,
      k: Int,
      numPartitions: Int = 32,
      salt: String = "graft"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(numPartitions >= 1, s"numPartitions=$numPartitions must be >= 1")
    val key = md5(concat(lit(salt), lit(":"), idCol.cast("string")))
    val triple = df
      .select(idCol.as("id"), key.as("h"), weightCol.cast("long").as("w"))
      .repartitionByRange(numPartitions, col("h"), col("id"))
      .withColumn("_pid", spark_partition_id())
    val offsets = triple.groupBy(col("_pid")).agg(sum(col("w")).as("_t"))
      .withColumn(
        "_off",
        coalesce(
          sum(col("_t")).over(
            // Bounded-input invariant (r21 window audit): one row per
            // _pid bucket (≤ numPartitions rows), never the documents.
            Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("total", sum(col("_t")).over(Window.partitionBy()))
      .select(col("_pid"), col("_off"), col("total"))
    val w = Window.partitionBy(col("_pid")).orderBy(col("h"), col("id"))
    triple.join(broadcast(offsets), Seq("_pid"))
      .withColumn("cum_w", col("_off") + sum(col("w")).over(w))
      .withColumn(
        "n_picks",
        expr(s"(cum_w * $k) DIV total - ((cum_w - w) * $k) DIV total"))
      .filter(col("n_picks") > 0)
      .select(col("id"), col("w"), col("cum_w"), col("n_picks"))
  }

  /** k-anonymity / l-diversity audit over quasi-identifier combinations —
    * the re-identification risk gate a pipeline runs before user-derived
    * records (interaction logs, annotation metadata) enter a training
    * corpus. PII REDACTION (the q73 pass) removes direct identifiers;
    * this catches the indirect ones: a quasi-identifier combination seen
    * fewer than `k` times singles its members out (linkage attack), and a
    * group whose `sensitive` column is CONSTANT leaks the sensitive value
    * for everyone in it even at count ≥ k (homogeneity attack) — the
    * standard k-anonymity + l-diversity pair (Sweeney 2002; Machanavajjhala
    * et al. 2007).
    *
    * One row per quasi-identifier group: member count, distinct sensitive
    * values (`l_diversity`), and the `at_risk` verdict
    * `cnt < k OR l_diversity <= 1`. The caller suppresses or generalizes
    * flagged groups; returning ALL groups (not just flagged ones) keeps
    * the suppression-rate denominator in the result.
    *
    * Scale: one exact `groupBy` over the quasi-identifier columns with
    * map-side partial aggregation; `count(distinct sensitive)` expands to
    * Spark's two-phase distinct aggregate, still one logical exchange on
    * the group key. Group cardinality is the quasi-identifier domain —
    * bounded and small relative to rows by definition of the audit.
    */
  def kAnonymityAudit(
      records: DataFrame,
      quasi: Seq[Column],
      sensitive: Column,
      k: Long = 5L): DataFrame = {
    require(quasi.nonEmpty, "k-anonymity needs at least one quasi-identifier")
    records
      .groupBy(quasi: _*)
      .agg(
        count(lit(1)).as("cnt"),
        countDistinct(sensitive).as("l_diversity"))
      // <= 1, not == 1: countDistinct ignores NULLs, so an all-NULL
      // sensitive column yields l_diversity = 0 — still maximally
      // homogeneous (every member shares "unknown") and still at risk.
      .withColumn("at_risk", col("cnt") < k || col("l_diversity") <= 1L)
  }

  /** Pareto frontier (skyline) over a cost/value tradeoff — the corpus
    * points no other point beats on BOTH axes (lower `cost`, higher
    * `value`, strictly better on at least one): the non-dominated set a
    * budgeted curation pass picks from before any weighted-score
    * heuristic commits to ONE exchange rate between the axes. Exact
    * duplicates on both axes don't dominate each other and all survive.
    *
    * Two phases, the prune proven lossless by construction (the oracle
    * is the brute-force NOT-EXISTS dominance join — the hash match is
    * the proof, the q139/q183 discipline):
    *
    *  1. GRID PRUNE: each point lands in a `grid`×`grid` cell over the
    *     observed extents (the equi-width integer-div binning the
    *     histogram/calibration operators use). A cell with a nonempty
    *     cell strictly northwest of it (lower cost bin AND higher value
    *     bin) is wholly dominated — any point there has strictly lower
    *     cost and strictly higher value, because equi-width bins don't
    *     overlap. Cell stats are a grid²-bounded aggregate; the live-cell
    *     set (prefix-max over cost bins of the best value bin) broadcasts
    *     back over the scan, so the corpus is never shuffled to prune.
    *  2. EXACT SKYLINE of the survivors: per distinct surviving cost the
    *     max value, then one window over distinct costs keeps each where
    *     the prefix max over STRICTLY cheaper costs doesn't reach it —
    *     tie semantics exactly the dominance definition. The window runs
    *     over distinct surviving costs only: after the prune those hug
    *     the frontier band (≤ grid cells deep), not the corpus.
    *
    * Scale: one extents row + one grid²-bounded agg + the survivor
    * filter (all broadcast joins over one scan), then windows over
    * frontier-band cardinalities. No all-pairs anything.
    */
  def paretoFrontier(
      df: DataFrame,
      id: Column,
      cost: Column,
      value: Column,
      grid: Int = 64): DataFrame = {
    require(grid >= 2 && grid <= 1024, s"grid=$grid out of range [2, 1024]")
    val v = df
      .select(id.as("id"), cost.cast("long").as("c"), value.cast("long").as("v"))
      .filter(col("c").isNotNull && col("v").isNotNull)
    val ext = v.agg(
      min(col("c")).as("clo"), max(col("c")).as("chi"),
      min(col("v")).as("vlo"), max(col("v")).as("vhi"))
    val withCell = v.crossJoin(broadcast(ext))
      .withColumn("ci", expr(s"($grid * (c - clo)) div (chi - clo + 1)"))
      .withColumn("vj", expr(s"($grid * (v - vlo)) div (vhi - vlo + 1)"))
      .drop("clo", "chi", "vlo", "vhi")
    val cells = withCell.groupBy(col("ci"), col("vj")).agg(count(lit(1)).as("n_pts"))
    // Bounded-input invariant (r21 window audit): both skyline windows
    // below run over per-CELL maxima — ≤ grid² rows (grid is a small
    // constant), never the points.
    val wci = Window.orderBy(col("ci")).rowsBetween(Window.unboundedPreceding, -1)
    val live = cells
      .groupBy(col("ci")).agg(max(col("vj")).as("maxvj"))
      .withColumn("prevmax", max(col("maxvj")).over(wci))
      .join(cells, Seq("ci"))
      .filter(col("prevmax").isNull || col("prevmax") <= col("vj"))
      .select(col("ci"), col("vj"))
    val survivors = withCell.join(broadcast(live), Seq("ci", "vj"))
    val wc = Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, -1)
    val sky = survivors
      .groupBy(col("c")).agg(max(col("v")).as("maxv"))
      .withColumn("pm", max(col("maxv")).over(wc))
      .filter(col("pm").isNull || col("pm") < col("maxv"))
      .select(col("c"), col("maxv").as("v"))
    // Plain join, not broadcast: a worst-case frontier (all costs distinct,
    // value strictly falling) is corpus-sized, and both sides here are
    // already frontier-band-bounded by the prune.
    survivors.join(sky, Seq("c", "v")).select(col("id"), col("c"), col("v"))
  }
}
