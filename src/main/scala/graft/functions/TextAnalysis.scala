package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data-pipeline curation over a
  * `documents(doc_id, text, lang, source, n_chars)` table.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * expressions — no UDFs — so whole-stage codegen covers the hot path and
  * filters/projections still push down to the parquet scan. Shingling is
  * array-native (`transform` over `sequence`) rather than window-based:
  * narrow, zero-shuffle, and it scales linearly with corpus size.
  */
object TextAnalysis {

  /** Whitespace tokens of `text` as an array column: any run of
    * whitespace separates tokens, outer whitespace is trimmed (a
    * single-space split silently mis-tokenizes real corpora with tabs,
    * newlines, or double spaces). Computed by the codegen'd
    * [[graft.expressions.WhitespaceTokens]] byte scan — semantically
    * `split(trim(text), "\\s+")` under RE2's `\s` set (no vertical tab —
    * see the expression's scaladoc) without the per-document regex cost.
    * Oracles mirror it with DuckDB
    * `regexp_split_to_array(trim(text), '\s+')`; both engines yield
    * `[""]` for an empty or space-only document.
    */
  def wordsCol: Column = {
    val bridge = org.apache.spark.sql.graft.bridge
    bridge.column(graft.expressions.WhitespaceTokens(bridge.expression(col("text"))))
  }

  /** Small-input-heavy-compute guard: testdata-sized doc tables arrive as
    * ONE parquet partition, which would serialize all downstream per-token
    * work onto one core; spreading a few thousand rows costs ~nothing.
    * Conditional: when the scan already yields at least as many splits as
    * cores — the normal case at real scale — the per-doc work here is
    * narrow and needs no co-location, so shuffling the full document text
    * would be pure waste and the input passes through untouched.
    *
    * The partition count is memoized per logical plan: `.rdd` forces a
    * full physical-plan/RDD conversion (including scan file-listing
    * resolution), and operators like lshVerifiedPairs reach spread several
    * times for the same input frame — one planning pass instead of one
    * per call.
    *
    * Streaming frames can't be partition-counted (`.rdd` rejects them),
    * so they keep the unconditional repartition — harmless per micro-batch
    * and preserves the pre-guard streaming compatibility.
    */
  private[graft] def spread(docs: DataFrame): DataFrame = {
    if (docs.isStreaming) return docs.repartition(col("doc_id"))
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    // EXPLICIT width, not repartition(col): a column-only repartition is
    // REPARTITION_BY_COL, which AQE coalesces back to ~1 partition when
    // the shuffled text is small (advisoryPartitionSizeInBytes) — exactly
    // the 1-task serialization this guard exists to prevent (the q280
    // fixture-shape lesson, ISO_r20 §3). The explicit count is a hard
    // requirement AQE honors. Width = a QUARTER of the cores, measured
    // (OPTIMIZATION_r20): full width wins single-pass heavy chains by a
    // hair but multiplies task overhead for operators that re-execute
    // small subtrees per round (tokenizer training, iterative cluster
    // closure) — q196 4.74 s at cores vs 2.41 s at cores/4, q20 1.85 vs
    // 1.18, while q238/q139/q205 move < 10%. Still scale-adaptive (no
    // local constant), and at real scale the guard never fires at all.
    // Streaming keeps the column form above: micro-batch plans pin AQE
    // off and deliberately narrow spark.sql.shuffle.partitions, which
    // the column form inherits.
    if (numPartitionsOf(docs) < parallelism)
      docs.repartition(math.max(2, parallelism / 4), col("doc_id"))
    else docs
  }

  private val partsMemo =
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Integer]()

  private[graft] def numPartitionsOf(docs: DataFrame): Int = {
    val key = docs.queryExecution.logical
    partsMemo.synchronized {
      val cached = partsMemo.get(key)
      if (cached != null) cached.intValue
      else {
        val n = docs.rdd.getNumPartitions
        partsMemo.put(key, n)
        n
      }
    }
  }

  /** One row per (doc_id, pos, w) token. Narrow (a single Generate). */
  def tokenize(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), posexplode(wordsCol).as(Seq("pos", "w")))

  /** Array of word k-shingles ("w1 w2 … wk"), in document order.
    * Array-native: no shuffle, stays in whole-stage codegen.
    */
  // Guard inside shinglesOf: Spark's sequence(0, n) generates a DESCENDING
  // sequence when n < 0, so short documents need an explicit empty array.
  private def shinglesCol(k: Int): Column = shinglesOf(wordsCol, k)

  /** One row per distinct (doc_id, shingle). The words array is projected
    * once (CSE across the k slices per shingle), then shingled.
    */
  def shingles(docs: DataFrame, k: Int): DataFrame =
    spread(docs)
      .select(col("doc_id"), wordsCol.as("words"))
      .select(col("doc_id"), explode(array_distinct(shinglesOf(col("words"), k))).as("sh"))

  /** k-shingles of a pre-computed words array column. */
  private def shinglesOf(words: Column, k: Int): Column =
    when(
      size(words) >= k,
      transform(
        sequence(lit(0), size(words) - k),
        i => array_join(slice(words, i + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Per-document quality/shape statistics. `avg_word_len` is a single IEEE
    * division of two exact integers — deterministic across engines.
    */
  def textStats(docs: DataFrame): DataFrame = {
    val words = wordsCol
    docs.select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(words).cast("long").as("n_words"),
        // Explicit class = RE2's \s (no \x0B) so the char count agrees
        // with the oracle's regexp_replace(..., '\s', ...) on any input
        // (Java's \s would also strip vertical tabs).
        length(regexp_replace(trim(col("text")), "[ \\t\\n\\f\\r]", "")).cast("long").as("n_letters"),
        size(array_distinct(words)).cast("long").as("n_distinct_words"),
        array_max(transform(words, w => length(w))).cast("long").as("max_word_len"),
        (length(regexp_replace(trim(col("text")), "[ \\t\\n\\f\\r]", "")).cast("double") /
          size(words).cast("double")).as("avg_word_len"),
        (hits(ProfileEn).cast("double") / size(words).cast("double")).as("stopword_ratio"))
      // Quality gate in the Gopher/C4 style: length band + stopword share.
      .withColumn(
        "is_quality",
        col("n_words") >= 20 && col("n_words") <= 1000 && col("stopword_ratio") <= 0.3)
  }

  /** N-gram repetition scoring (the Gopher-rules "fraction of characters
    * in the most common n-gram" signal, word-level): share of a document's
    * n-grams taken by its single most frequent one, plus the distinct
    * ratio. Highly repetitive machine-generated text scores near 1.
    *
    * Gram counting is doc-local by definition, so it runs as ONE fused
    * expression pass per document ([[graft.expressions.GramStats]]:
    * per-gram 64-bit mixed word hashes into a bounded per-row map) —
    * zero shuffle rows, replacing the earlier explode + two-aggregation
    * formulation (counts identical up to ~grams²/2^64 intra-doc hash
    * collisions; the scoring needs only counts, never a winning gram's
    * text, so the oracle stays string-keyed). Documents with fewer than
    * `n` words have no n-grams and are absent from the output.
    */
  def repetition(docs: DataFrame, n: Int = 2, maxShare: Double = 0.2): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    spread(docs)
      .select(
        col("doc_id"),
        bridge.column(graft.expressions.GramStats(bridge.expression(wordsCol), n)).as("g"))
      .filter(col("g").isNotNull)
      .select(
        col("doc_id"),
        col("g.n_grams").as("n_grams"),
        col("g.n_distinct_grams").as("n_distinct_grams"),
        col("g.top_gram_cnt").as("top_gram_cnt"),
        (col("g.top_gram_cnt").cast("double") / col("g.n_grams").cast("double"))
          .as("top_gram_share"))
      .withColumn("is_repetitive", col("top_gram_share") > maxShare)
  }

  /** Top-k distinctive terms per document by tf × N / df — the tf-idf
    * family with the idf log dropped so the score is exact-integer
    * arithmetic plus ONE IEEE division (bit-identical across engines;
    * `ln` carries no cross-engine rounding guarantee). Ranking is
    * identical to tf-idf's within a document whenever idf is monotone
    * decreasing in df — which `N/df` and `ln(N/df)` both are — so the
    * top-k sets match the classic formulation.
    *
    * Scale: tf is exchange-free after the doc-spread (grouping key
    * includes doc_id), df is one term-keyed map-side-combined aggregate
    * over the (doc, term)-distinct tf table (vocabulary-sized output),
    * N broadcasts as one row, and the per-doc top-k window runs
    * WindowGroupLimit-bounded on the doc key.
    */
  def distinctiveTerms(docs: DataFrame, topK: Int = 5): DataFrame = {
    val tf = tokenize(docs)
      .groupBy(col("doc_id"), col("w").as("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"), col("score"))
  }

  /** Regex ("BPE-ish") token counting: alpha runs and digit runs. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))").cast("long").as("n_tokens"),
      expr("size(array_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)))")
        .cast("long").as("n_token_types"))

  /** Subword ("BPE-ish") token-budget estimation: the training-cost
    * question "how many model tokens is this corpus" answered without a
    * learned vocabulary — each whitespace word contributes
    * `⌈len / maxPiece⌉` pieces, the fixed-width upper bound a byte-level
    * BPE with maximum merged-piece length `maxPiece` can't exceed. Narrow
    * per-document array arithmetic (one `transform`, no shuffle); the
    * ceil-division is `⌊(len + maxPiece−1) / maxPiece⌋` on exact ints, so
    * the floor of the IEEE quotient is engine-exact (integer true
    * quotients divide exactly).
    */
  def subwordBudget(docs: DataFrame, maxPiece: Int = 4): DataFrame = {
    val pieces = transform(
      wordsCol,
      w => floor((length(w) + lit(maxPiece - 1)).cast("double") / lit(maxPiece.toDouble))
        .cast("long"))
    docs.select(
      col("doc_id"),
      size(wordsCol).cast("long").as("n_words"),
      aggregate(pieces, lit(0L), (a, x) => a + x).as("n_subwords"),
      array_max(pieces).as("max_word_pieces"))
  }

  /** Gopher-style multi-rule quality filter with per-rule verdicts AND a
    * machine-readable rejection trail: length band, mean-word-length band
    * (both derived from exact integer sums, one IEEE division), and
    * stopword presence. Unlike [[textStats]]' single `is_quality` bit,
    * every rule reports individually and `reject_reasons` concatenates
    * the failed rule names (`concat_ws` drops the NULLs of passing
    * rules) — the audit trail a curation pipeline keeps so filtered
    * corpora stay explainable. Narrow, zero-shuffle, codegen'd.
    */
  val FilterStopwords: Seq[String] = Seq("the", "a")

  def qualityFilter(
      docs: DataFrame,
      minWords: Int = 40,
      maxWords: Int = 10000,
      minAvgLen: Double = 3.0,
      maxAvgLen: Double = 8.0): DataFrame = {
    val words = wordsCol
    val nWords = size(words).cast("long")
    val sumLen = aggregate(
      transform(words, w => length(w).cast("long")), lit(0L), (a, x) => a + x)
    docs.select(
        col("doc_id"),
        nWords.as("n_words"),
        (sumLen.cast("double") / nWords.cast("double")).as("avg_word_len"),
        hits(FilterStopwords).as("stop_hits"))
      .withColumn("len_ok", col("n_words").between(minWords, maxWords))
      .withColumn(
        "shape_ok",
        col("avg_word_len") >= minAvgLen && col("avg_word_len") <= maxAvgLen)
      .withColumn("stop_ok", col("stop_hits") > 0)
      .withColumn("keep", col("len_ok") && col("shape_ok") && col("stop_ok"))
      .withColumn(
        "reject_reasons",
        concat_ws(
          ",",
          when(!col("len_ok"), lit("length")),
          when(!col("shape_ok"), lit("word_shape")),
          when(!col("stop_ok"), lit("no_stopwords"))))
  }

  /** Corpus bigram language model: `P(w2 | w1) = count(w1 w2) / count(w1 ·)`
    * over adjacent whitespace-token pairs — the table a contamination /
    * memorization probe or a cheap perplexity filter reads. Bigram
    * extraction is doc-local (`zip_with` of the two word-array slices —
    * narrow, no positional self-join); the only shuffles are the
    * vocabulary²-bounded count aggregate (map-side combined) and the
    * prefix-total window over `w1`. The conditional probability is one
    * IEEE division of exact counts — engine-bit-identical.
    */
  def bigramModel(docs: DataFrame): DataFrame = {
    val n = size(col("ws")) - 1
    val counts = spread(docs)
      .select(wordsCol.as("ws"))
      .select(explode(zip_with(
        slice(col("ws"), lit(1), greatest(n, lit(0))),
        slice(col("ws"), lit(2), greatest(n, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn(
        "total",
        sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .withColumn("p", col("cnt").cast("double") / col("total").cast("double"))
  }

  /** Full BPE tokenizer training: `numMerges` greedy merge rounds over
    * the corpus word-frequency table. The ONLY corpus-sized stage is the
    * wordcount aggregate (identical to [[bpePairCounts]]'s first step);
    * the iterative merge loop then runs driver-side over the COLLECTED
    * vocabulary — bounded state by construction (vocabularies cap out
    * around 10⁵-10⁶ types regardless of corpus bytes; same pattern as
    * the IVF Lloyd trainer, which collects k×dim aggregates). Each round
    * picks the most frequent adjacent symbol pair under the
    * (count DESC, pair) total order — deterministic, partition-free —
    * and rewrites the vocab's symbol sequences left-to-right
    * greedily (the standard BPE apply rule).
    *
    * `minCount` prunes the type table BEFORE the driver collect: at
    * open-web multilingual scale the table itself reaches 10⁸+ types —
    * the standard trainer cutoff (SentencePiece/HF trainers expose the
    * same knob). Pruning CAN change the learned merges (pair counts
    * aggregate ACROSS types, so many rare types can collectively carry
    * a pair that pruning removes) — semantically it equals training on
    * the corpus with sub-threshold word occurrences deleted, which is
    * exactly the trade the cutoff buys and the differential spec pins.
    * The driver-side bound is explicitly |types with count ≥ minCount|;
    * the default 1 keeps every type (bit-identical to the unpruned
    * trainer, which is what every gate query runs).
    *
    * Returns the learned merges as `(rank, c1, c2, cnt)` — `cnt` is the
    * pair's weighted frequency at SELECTION time (monotonically
    * non-increasing only per round, not across the table).
    */
  def bpeTrainMerges(
      docs: DataFrame,
      numMerges: Int = 20,
      minCount: Long = 1): Seq[(Int, String, String, Long)] = {
    val vocab: Array[(List[String], Long)] = spread(docs)
      .select(explode(wordsCol).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minCount)
      .collect()
      .map(r => (r.getString(0).map(_.toString).toList, r.getLong(1)))
    trainMergesOnVocab(vocab, numMerges)
  }

  /** The greedy merge-selection loop shared by the whitespace and
    * byte-level trainers: over the COLLECTED (symbols, weight) type
    * table, each round counts adjacent pairs, picks the
    * (count DESC, pair) argmax, and rewrites left-to-right greedily.
    */
  private def trainMergesOnVocab(
      vocab: Array[(List[String], Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    var words = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    while (rank < numMerges) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, wc) =>
        syms.zip(syms.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + wc
        }
      }
      if (pairCounts.isEmpty) return merges.toSeq
      val ((c1, c2), cnt) = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      merges += ((rank, c1, c2, cnt))
      words = words.map { case (syms, wc) => (mergeOnce(syms, c1, c2), wc) }
      rank += 1
    }
    merges.toSeq
  }

  /** The GPT-2 pre-tokenization pattern, minus the `\s+(?!\S)` trailing-
    * whitespace lookahead (RE2 — and therefore the DuckDB oracle — has
    * no lookahead; the divergence only redistributes runs of MULTIPLE
    * spaces, and is pinned as spec): contractions, optional-leading-
    * space letter runs, digit runs, punctuation runs, whitespace runs.
    * Leading spaces attaching to words is THE byte-level idea — a word
    * and its sentence-initial twin learn one vocabulary entry (`Ġword`),
    * and encode(decode(x)) round-trips exactly because no byte is ever
    * thrown away.
    */
  val BytePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** The TRUE GPT-2 pattern including the `\s+(?!\S)` trailing-
    * whitespace lookahead (Java regex supports it; RE2/DuckDB cannot, so
    * the GATE pattern above drops it). The two patterns tokenize
    * IDENTICALLY on any text without consecutive whitespace — the
    * equivalence domain a spec pins, which covers the whole gate corpus
    * — and differ only in how runs of 2+ spaces split.
    */
  val BytePretokenPatternGpt2: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+(?!\\S)|\\s+"

  /** One row per (doc_id, pos, w) pre-token, where `w` is ALREADY
    * byte-remapped ([[graft.expressions.ByteRemap]] — UTF-8 bytes to the
    * GPT-2 printable alphabet), so each CHARACTER of `w` is one byte
    * symbol and the whole char-level BPE machinery (trainer loop,
    * [[graft.expressions.BpeEncode]] replay) applies unchanged.
    * Narrow: one regexp extract + posexplode + a codegen'd remap.
    */
  private def bytePretokenize(docs: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    spread(docs)
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("text"), lit(BytePretokenPattern), lit(0)))
          .as(Seq("pos", "pt")))
      .select(col("doc_id"), col("pos"),
        bridge.column(graft.expressions.ByteRemap(
          bridge.expression(col("pt")))).as("w"))
  }

  /** Byte-level BPE training (the GPT-2/tiktoken construction):
    * regex pre-tokenization → byte-fallback alphabet (every pre-token's
    * UTF-8 bytes, remapped printable) → the same greedy merge loop as
    * [[bpeTrainMerges]]. No `[UNK]` exists by construction — any input
    * byte sequence is encodable. Scale shape identical to the
    * whitespace trainer: ONE corpus-sized wordcount aggregate, then the
    * driver loop over the collected type table, `minCount`-pruned ahead
    * of the collect so the driver-side bound is explicit
    * (see [[bpeTrainMerges]]; default 1 ≡ unpruned).
    */
  def byteBpeTrainMerges(
      docs: DataFrame,
      numMerges: Int = 20,
      minCount: Long = 1): Seq[(Int, String, String, Long)] = {
    val vocab: Array[(List[String], Long)] = bytePretokenize(docs)
      .filter(length(col("w")) >= 2)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minCount)
      .collect()
      .map(r => (r.getString(0).map(_.toString).toList, r.getLong(1)))
    trainMergesOnVocab(vocab, numMerges)
  }

  /** Encode → decode round trip for the byte-level tokenizer — the
    * losslessness property that is byte-fallback's whole point: pieces
    * concatenate back to each pre-token, pre-tokens concatenate back to
    * the document (the pre-token regex PARTITIONS the text), and
    * [[graft.expressions.ByteUnmap]] inverts the byte table exactly, so
    * `detokenize(encode(text)) = text` for every input. Output per doc:
    * `(doc_id, n_pretoks, rebuilt_digest)` where the digest is md5 of
    * the REBUILT text — the oracle hashes the original text directly,
    * so any lost or reordered byte anywhere in the train/encode/decode
    * chain hash-fails.
    */
  def byteBpeRoundTrip(
      docs: DataFrame, merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    val perDoc = byteBpeEncode(docs, merges)
      .withColumn("pstr", concat_ws("", col("pieces")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pretoks"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("pstr")))),
            x => x.getField("pstr")),
          "").as("remapped"))
    // Left join from the DOCS spine: a document producing zero
    // pre-tokens (empty text — the regex is total otherwise) must still
    // emit its row, rebuilding to the empty string, not silently vanish
    // from the losslessness gate.
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_pretoks"), lit(0L)).as("n_pretoks"),
        md5(bridge.column(graft.expressions.ByteUnmap(
          bridge.expression(coalesce(col("remapped"), lit("")))))).as("rebuilt_digest"))
  }

  /** Byte-level BPE encode: apply a [[byteBpeTrainMerges]] table to the
    * whole corpus. Identical shape to [[bpeEncodeWords]] — the merge
    * replay ([[graft.expressions.BpeEncode]]) runs once per pre-token
    * TYPE and broadcast-joins back to positions; the pieces are
    * byte-alphabet strings (`Ġthe`-style). Output:
    * `(doc_id, pos, w, pieces, n_pieces)`.
    */
  def byteBpeEncode(
      docs: DataFrame,
      merges: Seq[(Int, String, String, Long)],
      broadcastVocab: Boolean = true): DataFrame = {
    val ranked = merges.sortBy(_._1).map { case (_, a, b, _) => (a, b) }
    val bridge = org.apache.spark.sql.graft.bridge
    val toks = bytePretokenize(docs)
    val typePieces = toks.select(col("w")).distinct()
      .withColumn("pieces", bridge.column(
        graft.expressions.BpeEncode(bridge.expression(col("w")), ranked)))
    val vocabSide = if (broadcastVocab) broadcast(typePieces) else typePieces
    toks.join(vocabSide, Seq("w"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"), col("n_pieces"))
  }

  /** One left-to-right greedy, non-overlapping merge pass. */
  private def mergeOnce(syms: List[String], c1: String, c2: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var rest = syms
    while (rest.nonEmpty) {
      rest match {
        case a :: b :: tail if a == c1 && b == c2 =>
          out += (c1 + c2); rest = tail
        case a :: tail =>
          out += a; rest = tail
        case Nil =>
      }
    }
    out.toList
  }

  /** Apply a trained merge table to every corpus word: each word's
    * character sequence replays the merges in rank order (the standard
    * BPE encode). Output: `(doc_id, pos, w, pieces, n_pieces)`.
    *
    * The replay runs ONCE PER WORD TYPE, not per token occurrence: a
    * corpus has vastly fewer distinct words than tokens (Heaps' law —
    * the trainer itself banks on the same skew by looping over the
    * collected wordcount table), so the expensive merge loop projects a
    * `distinct(w)` frame bounded by vocabulary size and the pieces join
    * back to token positions. With `broadcastVocab` (default) the join
    * is a broadcast — the token stream never shuffles at all; set it
    * false for open-vocabulary web corpora whose type table outgrows
    * the broadcast budget (the join then shuffles words, still never
    * documents).
    *
    * The replay itself is [[graft.expressions.BpeEncode]] — a codegen'd
    * Catalyst expression (rank-ordered greedy merging is a loop no
    * built-in composes, and chaining `numMerges` per-rank `transform`
    * passes would traverse every word once per merge); the merge table
    * rides in the expression, shipped once per task via the codegen
    * reference array, and the same function registers in SQL as
    * `graft_bpe_encode`.
    */
  def bpeEncodeWords(
      docs: DataFrame,
      merges: Seq[(Int, String, String, Long)],
      broadcastVocab: Boolean = true): DataFrame = {
    val ranked = merges.sortBy(_._1).map { case (_, a, b, _) => (a, b) }
    val bridge = org.apache.spark.sql.graft.bridge
    val toks = tokenize(docs)
    val typePieces = toks.select(col("w")).distinct()
      .withColumn("pieces", bridge.column(
        graft.expressions.BpeEncode(bridge.expression(col("w")), ranked)))
    val vocabSide = if (broadcastVocab) broadcast(typePieces) else typePieces
    toks.join(vocabSide, Seq("w"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"), col("n_pieces"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training — the second
    * standard subword family next to BPE ([[bpeTrainMerges]]), via
    * deterministic integral Viterbi-EM (hard EM): seed a candidate
    * vocabulary from weighted substrings, then alternate
    * (1) Viterbi-segmenting every word TYPE under whole-bit surprisal
    * costs `bits(total) − bits(cnt)` and (2) re-estimating piece counts
    * from segmentation usage, pruning multi-character pieces that fell
    * out of use to the top `vocabKeep` by `(usage DESC, piece)`. Single
    * characters are NEVER pruned (coverage guarantee — every word stays
    * segmentable). All state is BIGINT counts and whole-bit costs: no
    * float likelihoods, so the training replay is engine-bit-identical
    * and a SQL oracle can unroll it (the q150/q151 gate does, round by
    * round, DP position by DP position — the q95 BPE precedent).
    *
    * Determinism: the Viterbi tie-break is the lexicographic key
    * `(cost, piece count, U+001F-joined path)`
    * ([[graft.expressions.UnigramEncode.segment]] — the same code the
    * distributed encoder replays); seed and prune ranks break count
    * ties on the piece string.
    *
    * Scale: identical shape to [[bpeTrainMerges]] — the ONLY
    * corpus-sized stage is the word-type count aggregate; the EM loop
    * runs driver-side over the collected type table, bounded by
    * vocabulary (Heaps' law), never corpus bytes.
    * `minCount` prunes the table ahead of the collect (explicit
    * driver-side bound; default 1 ≡ unpruned — see [[bpeTrainMerges]]).
    *
    * Returns the final vocabulary as `(piece, cnt)` sorted by piece.
    */
  def unigramTrainVocab(
      docs: DataFrame,
      maxPieceLen: Int = 4,
      seedSize: Int = 40,
      numRounds: Int = 2,
      vocabKeep: Int = 24,
      minCount: Long = 1): Seq[(String, Long)] = {
    val types: Array[(String, Long)] = tokenize(docs)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minCount)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val charW = scala.collection.mutable.Map.empty[String, Long]
    val subW = scala.collection.mutable.Map.empty[String, Long]
    types.foreach { case (w, wc) =>
      var i = 0
      while (i < w.length) {
        val c = w.substring(i, i + 1)
        charW(c) = charW.getOrElse(c, 0L) + wc
        var l = 2
        while (l <= maxPieceLen && i + l <= w.length) {
          val p = w.substring(i, i + l)
          subW(p) = subW.getOrElse(p, 0L) + wc
          l += 1
        }
        i += 1
      }
    }
    val seed = subW.toSeq.sortBy { case (p, c) => (-c, p) }.take(seedSize)
    var vocab: Map[String, Long] = charW.toMap ++ seed
    for (_ <- 1 to numRounds) {
      val total = vocab.valuesIterator.sum
      val costs = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
      vocab.foreach { case (p, c) =>
        costs.put(p, java.lang.Long.valueOf(bitsOf(total) - bitsOf(c)))
      }
      val maxLen = vocab.keysIterator.map(_.length).max
      val usage = scala.collection.mutable.Map.empty[String, Long]
      types.foreach { case (w, wc) =>
        graft.expressions.UnigramEncode.segment(w, costs, maxLen).foreach { p =>
          usage(p) = usage.getOrElse(p, 0L) + wc
        }
      }
      val chars = charW.keysIterator.map(c => c -> usage.getOrElse(c, 0L)).toMap
      val multi = usage.toSeq
        .filter { case (p, _) => p.length >= 2 }
        .sortBy { case (p, u) => (-u, p) }
        .take(vocabKeep)
      vocab = chars ++ multi
    }
    vocab.toSeq.sortBy(_._1)
  }

  /** Whole-bit magnitude, the house integer log2: `length(bin(x))` in
    * SQL — 64 − nlz(x) for x ≥ 1, and 1 for x = 0 (`bin(0)` is "0").
    */
  private def bitsOf(x: Long): Long =
    if (x == 0L) 1L else 64L - java.lang.Long.numberOfLeadingZeros(x)

  /** Final per-piece Viterbi costs for a trained unigram vocabulary —
    * what [[unigramEncodeWords]] replays: `bits(Σcnt) − bits(cnt)`.
    */
  private def unigramCosts(vocab: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = vocab.map(_._2).sum
    vocab.map { case (p, c) => (p, bitsOf(total) - bitsOf(c)) }
  }

  /** Apply a trained unigram vocabulary ([[unigramTrainVocab]]) to every
    * corpus word: Viterbi segmentation under the final piece costs.
    * Output `(doc_id, pos, w, pieces, n_pieces)` — the exact
    * [[bpeEncodeWords]] surface, same scale shape: the DP runs ONCE PER
    * WORD TYPE over a vocabulary-bounded distinct frame via the
    * codegen'd [[graft.expressions.UnigramEncode]], and the pieces
    * broadcast-join back to token positions (the token stream never
    * shuffles; set `broadcastVocab = false` for open-vocabulary corpora).
    */
  def unigramEncodeWords(
      docs: DataFrame,
      vocab: Seq[(String, Long)],
      broadcastVocab: Boolean = true): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    val toks = tokenize(docs)
    val typePieces = toks.select(col("w")).distinct()
      .withColumn("pieces", bridge.column(
        graft.expressions.UnigramEncode(
          bridge.expression(col("w")), unigramCosts(vocab))))
    val vocabSide = if (broadcastVocab) broadcast(typePieces) else typePieces
    toks.join(vocabSide, Seq("w"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"), col("n_pieces"))
  }

  /** BLEU sufficient statistics per (candidate, reference) text pair —
    * the machine-translation eval brought to the curation stack (e.g.
    * scoring paraphrase/near-dup pairs, or a cleaning pass against its
    * input): for n = 1..`maxN`, the CLIPPED n-gram match count
    * `Σ_g min(cnt_cand(g), cnt_ref(g))` (Papineni et al.'s modified
    * precision numerator), BOTH sides' n-gram totals, the exact-ppm
    * modified precision AND the clipped ROUGE-N recall (same numerator
    * over the reference total — Lin's recall twin), plus both side
    * lengths for the brevity-penalty decision. Everything BIGINT —
    * BLEU's geometric mean/exp is left to
    * consumers because a libm exp chain is exactly the cross-engine
    * float drift this engine bans; the emitted statistics determine it.
    *
    * Scale shape: n-grams leave the document as 60-bit digests
    * immediately (text never shuffles); per-side counts are ONE
    * map-combined aggregate on (pair, n, dig); the clip join reuses
    * that partitioning (equi-join on the same key), and the final
    * per-(pair, n) rollup ships `maxN` rows per pair. Rows are emitted
    * for EVERY (pair, n) — a candidate shorter than n words reports
    * totals of 0 with NULL precision, same as the oracle.
    */
  def bleuStats(pairs: DataFrame, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN=$maxN out of range [1, 8]")
    val bridge = org.apache.spark.sql.graft.bridge
    def wordsOf(c: Column): Column =
      bridge.column(graft.expressions.WhitespaceTokens(bridge.expression(c)))
    def shinglesOfDyn(words: Column, k: Column): Column =
      when(
        size(words) >= k,
        transform(
          sequence(lit(0), size(words) - k),
          i => array_join(slice(words, i + 1, k), " ")))
        .otherwise(array().cast("array<string>"))
    val base = pairs.select(
      col("pair_id"),
      wordsOf(col("cand")).as("cw"),
      wordsOf(col("ref")).as("rw"))
    val lens = base.select(
      col("pair_id"),
      size(col("cw")).cast("long").as("cand_len"),
      size(col("rw")).cast("long").as("ref_len"))
    def gramCounts(ws: String, cnt: String): DataFrame = base
      .select(col("pair_id"), col(ws).as("ws"),
        explode(sequence(lit(1), lit(maxN))).as("n0"))
      .select(col("pair_id"), col("n0").cast("long").as("n"),
        explode(shinglesOfDyn(col("ws"), col("n0"))).as("g"))
      .select(col("pair_id"), col("n"),
        graft.functions.Hashing.md5Long60(col("g")).as("dig"))
      .groupBy(col("pair_id"), col("n"), col("dig"))
      .agg(count(lit(1)).as(cnt))
    // FULL outer: a reference n-gram absent from the candidate still
    // counts into the ROUGE denominator (ref totals), and vice versa.
    val matched = gramCounts("cw", "cc")
      .join(gramCounts("rw", "rc"), Seq("pair_id", "n", "dig"), "full")
      .groupBy(col("pair_id"), col("n"))
      .agg(
        sum(coalesce(col("cc"), lit(0L))).as("t"),
        sum(coalesce(col("rc"), lit(0L))).as("rt"),
        sum(least(coalesce(col("cc"), lit(0L)), coalesce(col("rc"), lit(0L)))).as("m"))
    lens
      .select(col("pair_id"), col("cand_len"), col("ref_len"),
        explode(sequence(lit(1), lit(maxN))).as("n0"))
      .withColumn("n", col("n0").cast("long"))
      .join(matched, Seq("pair_id", "n"), "left")
      .select(
        col("pair_id"), col("n"), col("cand_len"), col("ref_len"),
        coalesce(col("t"), lit(0L)).as("n_total"),
        coalesce(col("rt"), lit(0L)).as("n_ref_total"),
        coalesce(col("m"), lit(0L)).as("n_match"),
        when(col("t") > 0L, expr("(1000000 * m) div t")).as("prec_ppm"),
        when(col("rt") > 0L, expr("(1000000 * m) div rt")).as("rouge_recall_ppm"))
  }

  /** WordPiece tokenizer training — the THIRD standard subword family
    * next to BPE ([[bpeTrainMerges]]) and unigram-LM
    * ([[unigramTrainVocab]]), the BERT-family trainer: the same greedy
    * merge loop as BPE but selecting the pair that maximizes the
    * LIKELIHOOD ratio `cnt(pair) / (cnt(a)·cnt(b))` over current symbol
    * counts, not the raw pair count — merging what co-occurs more than
    * its parts predict. Word types split as `first-char, ##char, ##char,
    * …` (the `##` continuation prefix makes initial and medial symbols
    * distinct, as WordPiece requires), and a merge of `(a, ##b)` yields
    * `a ++ b` with the continuation prefix of the LEFT side kept.
    *
    * The ratio is kept integral by the house floor-quantization: the
    * selection key is `score = (cnt · 10¹²) div (ca · cb)` in exact
    * arbitrary-precision arithmetic (BigInt here, HUGEINT in the
    * oracle), ties broken on `(c1, c2)` — fully deterministic and
    * engine-bit-identical, the same discipline as the unigram family's
    * whole-bit costs. ALL word types contribute symbol counts (a 1-char
    * word has no pairs but its symbol still weights denominators).
    *
    * Scale: identical shape to [[bpeTrainMerges]] — the ONLY
    * corpus-sized stage is the word-type count aggregate; the merge loop
    * runs driver-side over the collected type table, bounded by
    * vocabulary (Heaps' law), never corpus bytes.
    * `minCount` prunes the table ahead of the collect (explicit
    * driver-side bound; default 1 ≡ unpruned — see [[bpeTrainMerges]]).
    *
    * Returns `(rank, c1, c2, merged, cnt, ca, cb, score)` per merge.
    */
  def wordpieceTrainMerges(
      docs: DataFrame,
      numMerges: Int = 20,
      minCount: Long = 1): Seq[(Int, String, String, String, Long, Long, Long, Long)] = {
    val types: Array[(List[String], Long)] = tokenize(docs)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minCount)
      .collect()
      .map { r =>
        val w = r.getString(0)
        val syms = w.zipWithIndex.map { case (c, i) =>
          if (i == 0) c.toString else "##" + c
        }.toList
        (syms, r.getLong(1))
      }
    var words = types
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long, Long, Long, Long)]
    val quant = BigInt(1000000000000L)
    var rank = 0
    while (rank < numMerges) {
      val symCounts = scala.collection.mutable.Map.empty[String, Long]
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, wc) =>
        syms.foreach(s => symCounts(s) = symCounts.getOrElse(s, 0L) + wc)
        syms.zip(syms.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + wc
        }
      }
      if (pairCounts.isEmpty) return merges.toSeq
      val scored = pairCounts.toSeq.map { case ((a, b), c) =>
        val score =
          (BigInt(c) * quant / (BigInt(symCounts(a)) * BigInt(symCounts(b)))).toLong
        ((a, b), c, score)
      }
      val ((c1, c2), cnt, score) = scored.minBy { case ((a, b), _, s) => (-s, a, b) }
      val merged = c1 + c2.stripPrefix("##")
      merges += ((rank, c1, c2, merged, cnt, symCounts(c1), symCounts(c2), score))
      words = words.map { case (syms, wc) => (mergePairOnce(syms, c1, c2, merged), wc) }
      rank += 1
    }
    merges.toSeq
  }

  /** One left-to-right greedy, non-overlapping merge pass with an
    * explicit merged symbol ([[mergeOnce]] generalized for WordPiece's
    * prefix-stripping concatenation).
    */
  private def mergePairOnce(
      syms: List[String], c1: String, c2: String, merged: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var rest = syms
    while (rest.nonEmpty) {
      rest match {
        case a :: b :: tail if a == c1 && b == c2 =>
          out += merged; rest = tail
        case a :: tail =>
          out += a; rest = tail
        case Nil =>
      }
    }
    out.toList
  }

  /** The encode vocabulary a WordPiece training run induces: the corpus
    * alphabet (every first-position char plus every `##`-prefixed medial
    * char over word TYPES) plus one token per merge — HF-style, a merge's
    * token stays in the vocabulary even if a later merge consumes it.
    */
  def wordpieceVocab(
      docs: DataFrame,
      merges: Seq[(Int, String, String, String, Long, Long, Long, Long)]): Seq[String] = {
    val alphabet = tokenize(docs).select(col("w")).distinct()
      .collect()
      .flatMap { r =>
        val w = r.getString(0)
        w.zipWithIndex.map { case (c, i) => if (i == 0) c.toString else "##" + c }
      }
      .distinct
    (alphabet ++ merges.map(_._4)).distinct.sorted
  }

  /** Apply a trained WordPiece vocabulary to every corpus word: greedy
    * longest-match-first with `##` continuations, `[UNK]` for any word
    * the vocabulary cannot cover. Output `(doc_id, pos, w, pieces,
    * n_pieces)` — the exact [[bpeEncodeWords]] surface, same scale
    * shape: the matcher runs ONCE PER WORD TYPE over a
    * vocabulary-bounded distinct frame via the codegen'd
    * [[graft.expressions.WordpieceEncode]], and the pieces
    * broadcast-join back to token positions (the token stream never
    * shuffles; set `broadcastVocab = false` for open-vocabulary corpora).
    */
  def wordpieceEncodeWords(
      docs: DataFrame,
      vocab: Seq[String],
      broadcastVocab: Boolean = true): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    val toks = tokenize(docs)
    val typePieces = toks.select(col("w")).distinct()
      .withColumn("pieces", bridge.column(
        graft.expressions.WordpieceEncode(bridge.expression(col("w")), vocab)))
    val vocabSide = if (broadcastVocab) broadcast(typePieces) else typePieces
    toks.join(vocabSide, Seq("w"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"), col("n_pieces"))
  }

  /** Per-document language-model surprise signals — the deterministic
    * core of a perplexity filter: each document's adjacent-token bigrams
    * (with multiplicity) are scored against the corpus model from
    * [[bigramModel]], yielding how many of the doc's transitions are
    * corpus-rare (`cnt <= rareMax`) and the least likely transition it
    * contains. Documents dominated by rare transitions are the ones a
    * perplexity filter would cut; this formulation keeps every emitted
    * value engine-bit-identical (exact counts, ONE division per row,
    * min over identically-computed doubles) where a log-sum perplexity
    * would be a platform-dependent float fold.
    *
    * Scale design: the model table is bounded by the OBSERVED bigram
    * count, not vocabulary². At demo/specialist vocabularies it
    * broadcasts (the default — doc bigrams join map-side and never
    * shuffle); at web-corpus vocabularies (10⁸+ observed bigrams) pass
    * `broadcastModel = false` and the join shuffles on the bigram key
    * instead — still one corpus-sized shuffle, never a driver-sized
    * broadcast. The per-doc aggregate ships 3 numbers per document.
    * Documents shorter than two tokens have no transitions and are
    * (documented) absent.
    */
  def bigramSurprise(
      docs: DataFrame,
      rareMax: Long = 2,
      broadcastModel: Boolean = true): DataFrame = {
    val n = size(col("ws")) - 1
    val docBigrams = spread(docs)
      .select(col("doc_id"), wordsCol.as("ws"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), greatest(n, lit(0))),
        slice(col("ws"), lit(2), greatest(n, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val model = bigramModel(docs)
    docBigrams
      .join(if (broadcastModel) broadcast(model) else model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        min(col("p")).as("min_p"))
      .withColumn("rare_rate", col("n_rare").cast("double") / col("n_bigrams").cast("double"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"), col("rare_rate"), col("min_p"))
  }

  /** Per-source token-distribution drift vs the whole corpus: for each
    * (source, token), the Pearson chi² contribution
    * `(obs − expected)² / expected` with `expected` the corpus-share
    * allocation `corpus_cnt · src_total / corpus_total`; per source the
    * `topK` largest contributions are ranked (contribution desc, token) —
    * the "did this source's language shift" monitor a curation pipeline
    * runs per ingest batch. Contributions are emitted per ROW, never
    * summed: each is a short chain of single IEEE ops on exact integers
    * (engine-bit-identical), while the summed statistic would be an
    * order-dependent float fold. Only OBSERVED (source, token) pairs are
    * scored — an absent token's contribution equals its expectation and
    * carries no ranking signal a monitor acts on.
    *
    * Scale design: ONE corpus-sized pass — the (source, token) count is
    * persisted (it is sources×vocab-bounded) and every marginal
    * (per-token, per-source, grand total) derives from the cached table,
    * so the corpus is never re-scanned per marginal; the corpus/total
    * tables broadcast back, and the rank window partitions by source
    * over vocab-bounded input.
    */
  def sourceDrift(docs: DataFrame, topK: Int = 10): DataFrame =
    sourceDriftPlan(docs, topK)._1

  /** [[sourceDrift]] as a caller-owned-lifecycle bracket: runs the
    * action `f` over the drift frame, then unpersists the
    * (source, token) count table this call persisted — the
    * [[graft.operators.Dedup.withNearDupAgainst]] convention for
    * one-shot callers, so long-lived sessions never accumulate
    * session-lifetime caches.
    */
  def withSourceDrift[T](docs: DataFrame, topK: Int = 10)(f: DataFrame => T): T = {
    val (result, cached) = sourceDriftPlan(docs, topK)
    try f(result) finally cached.unpersist()
  }

  private def sourceDriftPlan(docs: DataFrame, topK: Int): (DataFrame, DataFrame) = {
    val st = spread(docs)
      .select(col("source"), explode(wordsCol).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusTok = st.groupBy(col("token")).agg(sum(col("obs")).as("corpus_cnt"))
    val srcTotal = st.groupBy(col("source")).agg(sum(col("obs")).as("src_total"))
    val corpusTotal = corpusTok.agg(sum(col("corpus_cnt")).as("corpus_total"))
    val obsD = col("obs").cast("double")
    val drift = st
      .join(broadcast(corpusTok), Seq("token"))
      .join(broadcast(srcTotal), Seq("source"))
      .crossJoin(broadcast(corpusTotal))
      .withColumn(
        // Cast each factor to double BEFORE multiplying: at web-corpus
        // scale (token counts ≳ 1e10) the BIGINT product would silently
        // wrap in Spark (DuckDB raises) — wrong chi² ranks, no error.
        "expected",
        col("corpus_cnt").cast("double") * col("src_total").cast("double") /
          col("corpus_total").cast("double"))
      .withColumn(
        "chi2_term",
        (obsD - col("expected")) * (obsD - col("expected")) / col("expected"))
      .withColumn(
        "rnk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))
            .orderBy(col("chi2_term").desc, col("token"))).cast("int"))
      .filter(col("rnk") <= topK)
      .select(col("source"), col("token"), col("obs"), col("expected"), col("chi2_term"), col("rnk"))
    (drift, st)
  }

  /** PII scrubbing: replace email addresses and long digit runs (phone/
    * account numbers) with typed placeholders, reporting per-document hit
    * counts for the redaction audit. Purely narrow — a per-row projection
    * that pushes column pruning to the scan and never shuffles; the
    * patterns are deliberately conservative (high precision) because a
    * false redaction destroys training text while a miss only leaks into
    * the next filter.
    *
    * Both patterns stay inside the regex subset Spark (Java) and the
    * DuckDB oracle (RE2) interpret identically: character classes,
    * bounded repetition, no backrefs or lookaround. DuckDB's
    * `regexp_replace` needs the explicit `'g'` flag to match Spark's
    * replace-all default.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val LongNumberPattern = "[0-9]{7,}"

  def redactPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), EmailPattern, "[EMAIL]"),
        LongNumberPattern, "[NUMBER]").as("clean_text"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(LongNumberPattern), lit(0)))
        .cast("long").as("n_numbers"))

  /** Luhn checksum validation (ISO/IEC 7812) over digit-string
    * candidates — the precision upgrade for [[redactPii]]'s digit-run
    * pass: a 13–19-digit run that PASSES Luhn is near-certainly a real
    * payment-card / IMEI-class identifier and must be redacted, while a
    * failing run is usually an innocuous serial number worth keeping.
    * Emits per candidate the digit count, the checksum residue
    * (`luhn_mod`, 0 ⟺ valid), and the validity flag.
    *
    * Pure narrow projection — higher-order `transform`/`aggregate` over
    * the digit positions (from the right, every second digit doubles,
    * >9 folds by −9), entirely inside whole-stage codegen; no UDF, no
    * shuffle. `cand` must be a nonempty all-digit string — the caller's
    * regex guarantees it.
    */
  def luhnCheck(df: DataFrame, id: Column, cand: Column): DataFrame =
    df.select(id.as("id"), cand.as("cand"))
      .withColumn(
        "luhn_sum",
        aggregate(
          transform(
            sequence(lit(1), length(col("cand"))),
            i => {
              val d = col("cand").substr(i, lit(1)).cast("int")
              when(
                pmod(length(col("cand")) - i, lit(2)) === 1,
                when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
              ).otherwise(d)
            }),
          lit(0),
          (acc, x) => acc + x).cast("long"))
      .select(
        col("id"), col("cand"),
        length(col("cand")).cast("long").as("n_digits"),
        pmod(col("luhn_sum"), lit(10L)).as("luhn_mod"),
        (pmod(col("luhn_sum"), lit(10L)) === 0L).as("luhn_valid"))

  /** Tokenizer-vocabulary construction: the `maxSize` most frequent
    * corpus tokens with at least `minCount` occurrences, assigned
    * contiguous ids in (frequency desc, token) order — the frequency
    * table a word-level tokenizer trains from.
    *
    * The only corpus-sized stage is the map-side-combined token count
    * (wordcount shape — counter state per distinct token, not per
    * occurrence). Candidate selection is `orderBy`+`limit` (planned as
    * TakeOrderedAndProject: per-partition top-maxSize, merged on the
    * driver — no global sort), and only then does the single-partition
    * `row_number` run, over a frame already bounded at `maxSize` rows,
    * so the non-parallel step is vocab-sized no matter the corpus.
    */
  def vocabulary(docs: DataFrame, maxSize: Int = 1000, minCount: Long = 2): DataFrame = {
    val order = Seq(col("n").desc, col("token"))
    spread(docs)
      .select(explode(wordsCol).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(order: _*)
      .limit(maxSize)
      .withColumn(
        "token_id",
        // Bounded-input invariant (r21 window audit): runs AFTER
        // .limit(maxSize) — ≤ maxSize vocabulary rows, never the corpus.
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
      .select(col("token_id"), col("token"), col("n"))
  }

  /** Adjacent-symbol pair frequencies over the word-frequency table — the
    * counting step of one BPE tokenizer-training iteration (the top pair
    * is the next merge). Two-level aggregation is the BPE-at-scale shape:
    * the corpus collapses to its VOCABULARY first (word → count, the only
    * corpus-sized shuffle), then pairs explode from distinct words only,
    * weighted by word count, and the pair aggregate's key space is
    * ≤ |alphabet|² — tiny, map-side combined — no matter how big the
    * corpus. Symbols here are single characters (iteration 1); iterating
    * merges would thread a symbol-segmentation column through the same
    * plan.
    */
  def bpePairCounts(docs: DataFrame): DataFrame = {
    val wordCounts = spread(docs)
      .select(explode(wordsCol).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
    wordCounts
      .select(
        col("wc"),
        explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => struct(
            col("w").substr(i, lit(1)).as("c1"),
            col("w").substr(i + 1, lit(1)).as("c2")))).as("p"))
      .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
      .agg(sum(col("wc")).as("cnt"))
  }

  /** Stopword-profile language/register identification: count hits against
    * three fixed profiles, predict the best-scoring one (ties broken by
    * profile order). The n-gram-profile method in miniature, with profiles
    * chosen for this corpus's vocabulary.
    */
  val ProfileEn: Seq[String] = Seq("the", "a", "fast", "slow", "big", "small")
  val ProfileDb: Seq[String] = Seq("join", "scan", "merge", "hash", "sort", "agg")
  val ProfileSql: Seq[String] = Seq("query", "table", "column", "row", "key", "value")

  def hits(profile: Seq[String]): Column =
    size(filter(wordsCol, w => w.isInCollection(profile))).cast("long")

  def languageId(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"), col("lang"),
        hits(ProfileEn).as("hits_en"),
        hits(ProfileDb).as("hits_db"),
        hits(ProfileSql).as("hits_sql"))
      .withColumn(
        "predicted",
        when(col("hits_en") >= col("hits_db") && col("hits_en") >= col("hits_sql"), "en")
          .when(col("hits_db") >= col("hits_sql"), "db")
          .otherwise("sql"))

  /** Document fingerprint: lexicographic min of the md5s of the k-shingles —
    * a deterministic 1-hash MinHash, the winnowing primitive.
    */
  def fingerprint(docs: DataFrame, k: Int = 3): DataFrame =
    spread(docs)
      .select(
        col("doc_id"),
        // One fused pass: each k-shingle is digested in place off the
        // words array (no shingle-string array, no distinct — min is
        // duplicate-invariant) and only the winning digest's hex is
        // formatted, once per doc.
        lower(hex({
          val bridge = org.apache.spark.sql.graft.bridge
          bridge.column(graft.expressions.Md5ShingleMin(bridge.expression(wordsCol), k))
        })).as("fingerprint"))
      // Shingle-less documents (< k words) have no fingerprint — drop them
      // rather than emitting a NULL row (matches the per-shingle oracle).
      .filter(col("fingerprint").isNotNull)

  /** 64-bit SimHash as a 16-char lowercase hex string, tf-weighted over
    * whitespace tokens with md5 as the per-token hash — computed by ONE
    * narrow fused expression pass per document
    * ([[graft.expressions.SimHash64]]: per-doc term frequencies,
    * weighted per-bit majorities over each token's leading 64 digest
    * bits, nibble reassembly). Replaces the earlier two-shuffle
    * wordcount + 16-way nibble-explode formulation bit-identically —
    * zero shuffles, zero per-nibble rows.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    spread(docs)
      .select(
        col("doc_id"),
        bridge.column(graft.expressions.SimHash64(bridge.expression(wordsCol))).as("simhash"))
      // null-text docs produce no row (matches the exploded formulation
      // and the per-token oracle, which emit nothing to aggregate).
      .filter(col("simhash").isNotNull)
  }

  /** Integer-bit unigram surprisal — the perplexity-proxy quality score a
    * curation pipeline runs before training: each token instance scores
    * `bits(N) − bits(cnt(w))` where `bits(x) = length(bin(x))` is the
    * exact integer `floor(log2 x) + 1` and `N` the corpus token total, a
    * whole-bit quantization of `−log2 p(w)`. Rare-token-heavy documents
    * (gibberish, OCR noise, boilerplate-free spam) score high; documents
    * of common words score low. The whole-bit form is deliberate: a real
    * `−log2` sums per-token FLOATS in engine-dependent fold order and the
    * last ulp diverges, while `bits` is exact integer arithmetic end to
    * end — the only float op is the final `sum_bits / n_tokens`, one IEEE
    * division of exact integers, bit-identical everywhere. Docs with no
    * tokens produce no row (nothing to score — same convention as
    * [[simhash]]).
    *
    * Scale: one corpus pass builds the vocabulary counts (Heaps-bounded),
    * one scoring pass joins them back — broadcast by default, or an
    * ordinary shuffle equi-join (`broadcastModel = false`) when an open
    * vocabulary outgrows the broadcast budget, mirroring
    * [[bigramSurprise]]'s knob. The per-doc aggregation is map-side
    * combined; no all-pairs, no driver state.
    */
  def unigramSurprisal(docs: DataFrame, broadcastModel: Boolean = true): DataFrame = {
    val toks = spread(docs).select(col("doc_id"), explode(wordsCol).as("w"))
    val model = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("n_total"))
    toks
      .join(if (broadcastModel) broadcast(model) else model, Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn(
        "bits",
        (length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      .withColumn(
        "mean_bits",
        col("sum_bits").cast("double") / col("n_tokens").cast("double"))
  }

  /** PMI collocation mining — the multi-word-expression pass a tokenizer
    * or phrase-vocabulary build runs over the corpus: adjacent word
    * pairs scored by whole-bit pointwise mutual information
    * `bits(c_xy) + bits(N) − bits(c_x) − bits(c_y)` (the integer-log2
    * quantization of `log2 (p_xy / p_x p_y)` — [[unigramSurprisal]]'s
    * `bits` convention, exact BIGINT end to end, no float folds). `N` is
    * the unigram token total; pairs below `minCount` are pruned before
    * scoring (PMI's low-count instability is the standard reason), and
    * the global top-`topK` is returned under the total order
    * (pmi desc, w1, w2).
    *
    * Scale: one wordcount aggregate and one map-side-combined bigram
    * count (both vocab-bounded after combine), unigram counts broadcast
    * back onto the bigram table, and the top-k is a `TakeOrdered` —
    * no global sort materialization.
    */
  def collocations(docs: DataFrame, minCount: Long = 5L, topK: Int = 50): DataFrame = {
    val uni = spread(docs)
      .select(explode(wordsCol).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
    val nTotal = uni.agg(sum(col("c")).as("n_tokens"))
    val n = size(col("ws")) - 1
    val bi = spread(docs)
      .select(wordsCol.as("ws"))
      .select(explode(zip_with(
        slice(col("ws"), lit(1), greatest(n, lit(0))),
        slice(col("ws"), lit(2), greatest(n, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val bits = (c: Column) => length(bin(c)).cast("long")
    bi
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      .withColumn(
        "pmi_bits",
        bits(col("c_xy")) + bits(col("n_tokens")) - bits(col("c_x")) - bits(col("c_y")))
      .orderBy(col("pmi_bits").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"), col("pmi_bits"))
  }

  /** DSIR-style importance weights for targeted data selection (Xie et
    * al.: sample raw documents whose unigram statistics look like a
    * target domain). Two add-one-smoothed unigram models are fit in ONE
    * corpus pass — `target` over documents whose `source` equals
    * `targetSource`, `raw` over the rest — and each document scores the
    * whole-bit log-likelihood ratio
    * `Σ_tokens [bits(c_t+1) − bits(T_t+V)] − [bits(c_r+1) − bits(T_r+V)]`
    * with `bits(x) = length(bin(x))` — [[unigramSurprisal]]'s exact
    * integer-log2 quantization, so weights are BIGINT end to end and
    * engine-bit-identical (a float `log` would fold in partition order).
    * High-weight documents look like the target domain; feed the weights
    * to [[graft.operators.Curation.systematicWeightedSample]] to draw
    * the resampled corpus.
    *
    * Scale: one token pass builds the joint-vocabulary count table
    * (Heaps-bounded, both models as two columns — a single aggregate,
    * not one per model), scalar totals broadcast, and the scoring join
    * is broadcast by default or a shuffle equi-join
    * (`broadcastModel = false`) for open vocabularies. Per-doc sums are
    * map-side combined.
    */
  def importanceWeights(
      docs: DataFrame,
      targetSource: String,
      broadcastModel: Boolean = true): DataFrame = {
    val toks = spread(docs).select(
      col("doc_id"),
      (col("source") === targetSource).as("is_t"),
      explode(wordsCol).as("w"))
    val model = toks
      .groupBy(col("w"))
      .agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("c_r"))
    val totals = model.agg(
      sum(col("c_t")).as("t_t"),
      sum(col("c_r")).as("t_r"),
      count(lit(1)).as("v"))
    val bits = (c: Column) => length(bin(c)).cast("long")
    toks
      .join(if (broadcastModel) broadcast(model) else model, Seq("w"))
      .crossJoin(broadcast(totals))
      .withColumn(
        "tok_bits",
        bits(col("c_t") + 1L) - bits(col("t_t") + col("v")) -
          (bits(col("c_r") + 1L) - bits(col("t_r") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tok_bits")).as("weight_bits"))
      .withColumn(
        "mean_bits",
        col("weight_bits").cast("double") / col("n_tokens").cast("double"))
  }

  /** Stupid Backoff language-model scoring (Brants et al. 2007 — the
    * web-scale LM smoothing that needs NO normalization pass): each
    * document's adjacent-token bigrams score `log2 P(w2|w1)` when the
    * bigram was observed in the corpus model and back off to
    * `log2(α · P(w2))` when it wasn't — the standard perplexity-proxy
    * quality signal, upgraded from [[bigramSurprise]]'s rare-transition
    * COUNTS to an actual additive LM score with the published backoff
    * mechanism. Emits per document the pair count, how many pairs
    * backed off, the exact integer total score, and a mean (one IEEE
    * division of exact ints).
    *
    * Integer quantization at 1/3-bit resolution (the q152
    * normalize-then-cube convention, overflow-proof at any corpus
    * size): a probability ratio `a/b` scores
    * `bits((⌊a·2²⁰/b⌋)³) − 61` tribits (zero for P = 1, negative
    * below), and the backoff factor α = 0.4 quantizes to −4 tribits
    * (2^(−4/3) ≈ 0.397 — documented). Engine-bit-identical end to end.
    *
    * Scale: the model is the observed-bigram table (map-side combined,
    * bounded by observed bigrams, not vocab²) plus the unigram table;
    * both BROADCAST by default onto the doc-bigram stream (no shuffle
    * of the corpus for the lookups; `broadcastModel = false` shuffles
    * on the bigram key for web-scale vocabularies). The per-doc sum is
    * one map-side-combined aggregate.
    */
  /** One row per adjacent in-document token pair `(doc_id, w1, w2)` —
    * the shared probe/model stream of [[stupidBackoffScore]] and
    * [[kneserNeyScore]]. Narrow (zip_with over the token array, one
    * Generate), no shuffle.
    */
  private[graft] def adjacentBigrams(df: DataFrame): DataFrame = {
    val n = size(col("ws")) - 1
    spread(df)
      .select(col("doc_id"), wordsCol.as("ws"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), greatest(n, lit(0))),
        slice(col("ws"), lit(2), greatest(n, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  def stupidBackoffScore(
      docs: DataFrame,
      modelDocs: Option[DataFrame] = None,
      broadcastModel: Boolean = true): DataFrame = {
    def bigramsOf(df: DataFrame) = adjacentBigrams(df)
    val docBigrams = bigramsOf(docs)
    // Held-out scoring is the honest eval (and what makes backoff
    // actually fire): train the model on `modelDocs` when given, else
    // on the scored corpus itself.
    val model = modelDocs.getOrElse(docs)
    val bigrams = bigramsOf(model)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val prefixes = bigrams
      .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val unigrams = spread(model)
      .select(explode(wordsCol).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("cu"))
    val totals = unigrams.agg(sum(col("cu")).as("t"))
    def side(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    val bits = (c: Column) => length(bin(c)).cast("long")
    def cubeBits(r: Column): Column = bits(r * r * r) - lit(61L)
    docBigrams
      .join(side(bigrams), Seq("w1", "w2"), "left_outer")
      .join(side(prefixes), Seq("w1"), "left_outer")
      // Left outer + add-one floor: a probe token the model never saw
      // (true OOV) scores as a count-1 unigram instead of dropping the
      // pair (the open-vocabulary convention).
      .join(side(unigrams), Seq("w2"), "left_outer")
      .withColumn("cu", coalesce(col("cu"), lit(1L)))
      .crossJoin(broadcast(totals))
      .withColumn("r_big", expr("(c2 * 1048576) div c1"))
      .withColumn("r_uni", expr("(cu * 1048576) div t"))
      .withColumn(
        "contrib",
        when(col("c2").isNotNull, cubeBits(col("r_big")))
          .otherwise(cubeBits(col("r_uni")) - 4L))
      .withColumn("backed_off", col("c2").isNull)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("backed_off"), 1L).otherwise(0L)).as("n_backoff"),
        sum(col("contrib")).as("score_tribits"))
      .withColumn(
        "mean_tribits",
        col("score_tribits").cast("double") / col("n_pairs").cast("double"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form — the accuracy-standard smoothing
    * next to [[stupidBackoffScore]]'s throughput-standard one): where
    * Stupid Backoff consults the unigram FREQUENCY only when a bigram is
    * missing, KN discounts every observed bigram by `D` and always
    * interpolates with the CONTINUATION probability — how many distinct
    * contexts a word follows — so "Francisco" (frequent but only ever
    * after "San") stops looking like a plausible novel continuation.
    * With `D = 3/4` the whole model is ONE exact rational per pair:
    * {{{
    *   P(w2|w1) = (c12 − D)⁺/c1 + D·(N1+(w1·)/c1)·(N1+(·w2)/nb)
    *            = [ (4·c12 − 3)⁺·nb + 3·N1+(w1·)·N1+(·w2) ] / (4·c1·nb)
    * }}}
    * where `c1 = Σ_w c(w1,w)`, `N1+(w1·)` = distinct continuations of
    * `w1`, `N1+(·w2)` = distinct left-contexts of `w2`, and `nb` =
    * total distinct bigram types. The rational quantizes through the
    * q152 normalize-then-cube convention (`r = ⌊a·2²⁰/b⌋`,
    * `tribits = bits(r³) − 61` — 1/3-bit resolution, BIGINT-safe since
    * `P ≤ 1 ⇒ r ≤ 2²⁰`); numerator/denominator products are carried in
    * DECIMAL(38,0) (HUGEINT in the oracle), so `nb · c1` cannot wrap at
    * any corpus size. OOV floors, both surfaced as counts: an unseen
    * PREFIX (`w1` not in the model) falls back to the pure continuation
    * probability `N1+(·w2)/nb`, and a word never seen as a continuation
    * floors at `N1+(·w2) = 1` (the count-1 convention
    * [[stupidBackoffScore]] uses for unigrams). Probabilities below
    * 2⁻²⁰ floor at −60 tribits. Engine-bit-identical end to end.
    *
    * Scale: the model is three tables derived from ONE observed-bigram
    * aggregate (bigram counts; per-prefix totals + distinct-continuation
    * counts; per-word distinct-context counts) plus a scalar — all
    * bounded by observed bigram TYPES, never vocab²; broadcast by
    * default onto the probe stream (`broadcastModel = false` shuffles
    * on the join keys for web-scale vocabularies). Per-doc sums are one
    * map-side-combined aggregate. Train on `modelDocs` when given
    * (held-out scoring — the honest eval), else score in-sample.
    */
  def kneserNeyScore(
      docs: DataFrame,
      modelDocs: Option[DataFrame] = None,
      broadcastModel: Boolean = true): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val docBigrams = adjacentBigrams(docs)
    val bigrams = adjacentBigrams(modelDocs.getOrElse(docs))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val prefixes = bigrams
      .groupBy(col("w1")).agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val contexts = bigrams
      .groupBy(col("w2")).agg(count(lit(1)).as("ncw"))
    val totals = bigrams.agg(count(lit(1)).as("nb"))
    def side(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    val bits = (c: Column) => length(bin(c)).cast("long")
    docBigrams
      .join(side(bigrams), Seq("w1", "w2"), "left_outer")
      .join(side(prefixes), Seq("w1"), "left_outer")
      .join(side(contexts), Seq("w2"), "left_outer")
      .crossJoin(broadcast(totals))
      .withColumn("c12", coalesce(col("c2"), lit(0L)))
      .withColumn("ncf", coalesce(col("ncw"), lit(1L)))
      .withColumn(
        "kn_a",
        when(
          col("c1").isNotNull,
          greatest(lit(4L) * col("c12") - 3L, lit(0L)).cast(dec) * col("nb").cast(dec) +
            lit(3L).cast(dec) * col("n1f").cast(dec) * col("ncf").cast(dec))
          .otherwise(col("ncf").cast(dec)))
      .withColumn(
        "kn_b",
        when(
          col("c1").isNotNull,
          lit(4L).cast(dec) * col("c1").cast(dec) * col("nb").cast(dec))
          .otherwise(col("nb").cast(dec)))
      .withColumn("r", expr("(kn_a * 1048576) div kn_b"))
      .withColumn("contrib", bits(col("r") * col("r") * col("r")) - lit(61L))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_unseen_bigram"),
        sum(when(col("c1").isNull, 1L).otherwise(0L)).as("n_unseen_prefix"),
        sum(col("contrib")).as("score_tribits"))
      .withColumn(
        "mean_tribits",
        col("score_tribits").cast("double") / col("n_pairs").cast("double"))
  }

  /** Train a LEARNED linear quality scorer — the fastText/logreg-style
    * gate (CCNet, LLaMA data pipelines) that upgrades
    * [[qualityFilter]]'s hand rules: per-token log-odds weights between
    * labeled good and bad documents, exposed as a WEIGHTS TABLE
    * `(w, weight_bits)` that [[scoreQuality]] applies as a pure dot
    * product. `labels` is any `(doc_id, y: boolean)` frame — the
    * standard bootstrap is weak supervision from the heuristic gate
    * itself (distillation: rules label, the model generalizes), which
    * is exactly what q152 does.
    *
    * Weights are THIRD-of-a-bit smoothed log-odds — the
    * [[importanceWeights]] DSIR algebra at 3× the resolution, folded
    * into the table so inference needs no totals. Whole-bit log2 floors
    * class-conditional ratios that differ by < 2× to the same value
    * (on near-uniform vocabularies EVERY weight flattens to 0); the
    * normalize-then-cube trick recovers fractional bits with pure
    * BIGINT arithmetic and NO overflow exposure at any corpus size:
    * {{{
    *   r± = ⌊(c± + 1) · 2²⁰ / (t± + v)⌋      // smoothed rate, ≤ 2²⁰
    *   weight = bits(r₊³) − bits(r₋³)         // ⌊3·log2⌋ ⇒ 1/3-bit steps
    * }}}
    * `r ≤ 2²⁰` ⇒ `r³ ≤ 2⁶⁰` always fits; `(c+1)·2²⁰` caps the
    * trainable class token count at 2⁴³ (≈8·10¹², far past any single
    * training refresh — and production trains on a sample anyway).
    *
    * Scale: labels join the DOC frame (doc-sized, pre-explode), then
    * one map-side-combined vocabulary-bounded count aggregate; the
    * weight table is vocabulary-sized. Train once per refresh, persist
    * the table, reuse across scoring runs.
    */
  def trainQualityWeights(docs: DataFrame, labels: DataFrame): DataFrame = {
    val labeled = spread(docs)
      .join(labels.select(col("doc_id"), col("y")), Seq("doc_id"))
      .select(col("y"), explode(wordsCol).as("w"))
    val counts = labeled
      .groupBy(col("w"))
      .agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("c_neg"))
    val totals = counts.agg(
      sum(col("c_pos")).as("t_pos"),
      sum(col("c_neg")).as("t_neg"),
      count(lit(1)).as("v"))
    val bits = (c: Column) => length(bin(c)).cast("long")
    counts.crossJoin(broadcast(totals))
      .withColumn("rp", expr("((c_pos + 1) * 1048576) div (t_pos + v)"))
      .withColumn("rn", expr("((c_neg + 1) * 1048576) div (t_neg + v)"))
      .select(
        col("w"),
        (bits(col("rp") * col("rp") * col("rp")) -
          bits(col("rn") * col("rn") * col("rn"))).as("weight_tribits"))
  }

  /** χ² (chi-square) feature selection over token PRESENCE vs a binary
    * document label — the standard selection pass before training a
    * linear quality/topic classifier ([[trainQualityWeights]] consumes
    * every token; this ranks which tokens carry label signal at all,
    * and the `enriched` flag says in which direction). Per token with
    * document frequency ≥ `minDf`, the 2×2 contingency table
    * `(a, b, c, d)` = (labeled-pos docs containing it, labeled-neg docs
    * containing it, pos docs without, neg docs without) yields
    * {{{
    *   chi2_micro = ⌊10⁶ · n · (ad − bc)² / ((a+b)(c+d)(a+c)(b+d))⌋
    * }}}
    * carried in DECIMAL(38,0) (HUGEINT in the oracle) — exact floor
    * division, engine-bit-identical. Headroom: `10⁶·n·(ad−bc)²` stays
    * inside 38 digits for n up to ~4·10⁶ labeled documents — feature
    * selection runs on a labeled SAMPLE by construction; past that,
    * drop the 10⁶ scale a decade per decade of n (the selection
    * consumes ranks, which saturate far earlier). A degenerate margin
    * (token in every doc, or a single-class label set) zeroes a
    * denominator factor and scores 0 — defined, not divide-by-zero, in
    * both engines.
    *
    * Scale: one distinct-token explode (presence, not counts — the
    * per-doc `array_distinct` is narrow), one broadcast label join on
    * `doc_id`... no: the label join is doc-keyed and SHUFFLES with the
    * token stream only if labels exceed broadcast size — labels are a
    * doc-count table, so the join is plan-chosen; the token aggregate
    * is map-side combined over the vocabulary key space; totals are a
    * one-row broadcast; and the global top-`topK` is TakeOrdered (no
    * full sort materializes). Output ordered (chi2_micro desc, t) —
    * a total order.
    */
  def chiSquareTerms(
      docs: DataFrame,
      labels: DataFrame,
      minDf: Long = 2L,
      topK: Int = 50): DataFrame = {
    require(minDf >= 1L, s"minDf=$minDf must be >= 1")
    require(topK >= 1, s"topK=$topK must be >= 1")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val lab = labels.select(col("doc_id"), col("y").cast("boolean").as("y"))
    val totals = lab.agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("y"), 0L).otherwise(1L)).as("n_neg"))
    val present = spread(docs)
      .select(col("doc_id"), explode(array_distinct(wordsCol)).as("t"))
      .join(lab, Seq("doc_id"))
    val counts = present.groupBy(col("t"))
      .agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("df_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("df_neg"))
      .filter(col("df_pos") + col("df_neg") >= minDf)
    val a = col("df_pos").cast(dec)
    val b = col("df_neg").cast(dec)
    val c = (col("n_pos") - col("df_pos")).cast(dec)
    val d = (col("n_neg") - col("df_neg")).cast(dec)
    val n = (col("n_pos") + col("n_neg")).cast(dec)
    counts.crossJoin(broadcast(totals))
      .withColumn("_num", lit(1000000L).cast(dec) * n * (a * d - b * c) * (a * d - b * c))
      .withColumn("_den", (a + b) * (c + d) * (a + c) * (b + d))
      .withColumn(
        "chi2_micro",
        when(col("_den") === lit(0L).cast(dec), lit(0L))
          .otherwise(expr("_num div _den")))
      .withColumn("enriched", a * col("n_neg").cast(dec) > b * col("n_pos").cast(dec))
      .select(col("t"), col("df_pos"), col("df_neg"),
        col("chi2_micro").cast("long").as("chi2_micro"), col("enriched"))
      .orderBy(col("chi2_micro").desc, col("t"))
      .limit(topK)
  }

  /** Vocabulary-growth (Heaps-law) curve: documents in doc_id order are
    * cut into `buckets` equal-count groups, and each bucket reports the
    * cumulative tokens seen and the cumulative distinct word TYPES seen
    * through it — the "is the corpus still teaching the tokenizer new
    * words?" health curve (a flattening types_cum says more data adds
    * volume, not vocabulary; a straight line says dedup is failing to
    * collapse near-copies of the long tail). Exact integers end to end:
    * a type's bucket is the bucket of its FIRST document (min bucket —
    * monotone in doc order), so cumulative distinct counts need no
    * distinct-over-prefix re-scans.
    *
    * Scale: one token scan (map-side-combined per-doc counts + the
    * type→min-bucket aggregate, both vocab/doc-bounded), windows only
    * over the per-DOC frame (row_number for ranks) and the buckets-sized
    * curve. The doc-rank window is doc-count-, never token-, sized; a
    * corpus where even that overflows one task swaps in the q102
    * literal-boundary prefix-count machinery.
    *
    * Cache contract: the per-document token counts (one row per
    * document) stay persisted on return, because the returned plan
    * reads them three times. Like [[graft.operators.Graphs.pageRank]],
    * the returned frame owns that one remaining cache and the caller
    * releases it (the q199 gate does, through `landedSwept`).
    */
  def vocabularyGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"buckets=$buckets out of range [2, 1000]")
    val tok = spread(docs).select(col("doc_id"), explode(wordsCol).as("w"))
    // Persisted for the bracket: read 3× below (totals, rank-bucket
    // boundaries, the ranked frame) — one row per document.
    val perDoc = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = perDoc.agg(count(lit(1)).as("n_docs"))
    // doc_rank via the distributed prefix-count idiom (quantileNormalize /
    // giniCoefficient): a bare row_number() over ALL documents would move
    // one row PER DOCUMENT through a single-partition window — the one
    // unbounded global-window site the r20 audit found. Boundary quality
    // only balances partitions; the rank (hence every bucket and count
    // downstream) is exact regardless, so BOTH paths below return
    // identical rows. Guarded like spread: a fixture-sized scan (fewer
    // splits than cores) takes the single cheap window — the
    // prefix-count path's extra boundary pass measured +0.5 s on the
    // 1-file fixture (r21 mid-sweep) for a window over a few thousand
    // rows; a multi-file corpus takes the distributed path.
    val w = org.apache.spark.sql.expressions.Window
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    val db = (if (numPartitionsOf(docs) < parallelism) {
      perDoc.withColumn("doc_rank", row_number().over(w.orderBy(col("doc_id"))))
    } else {
      val qs = (1 until 32).map(i => i.toDouble / 32)
      // approx_percentile over no rows is null: an empty corpus gets no bounds.
      val bounds: Seq[Long] = Option(perDoc
        .agg(expr(s"approx_percentile(doc_id, array(${qs.mkString(", ")}), 10000)"))
        .collect()(0).getSeq[Long](0)).getOrElse(Nil)
      val pid =
        if (bounds.isEmpty) lit(0)
        else size(filter(typedLit(bounds), b => col("doc_id") >= b))
      val t = perDoc.withColumn("_pid", pid)
      // Offsets window: ONE row per bucket id (≤ 32 rows) — bounded by
      // construction, unlike the per-document rank it replaces.
      val wOff = w.orderBy(col("_pid"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offsets = t.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
        .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
        .select(col("_pid"), col("_off"))
      t.join(broadcast(offsets), Seq("_pid"))
        .withColumn(
          "doc_rank",
          col("_off") + row_number().over(w.partitionBy(col("_pid")).orderBy(col("doc_id"))))
    })
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"((doc_rank - 1) * $buckets) div n_docs"))
      .select(col("doc_id"), col("n_tok"), col("bucket"))
    val bt = db.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs_in"), sum(col("n_tok")).as("n_tokens"))
    val nt = tok.join(db.select(col("doc_id"), col("bucket")), Seq("doc_id"))
      .groupBy(col("w")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    // Bounded-input invariant (r21 window audit): one row per decile
    // bucket (≤ `buckets` ≤ 1000 rows), never the documents.
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bt.join(nt, Seq("bucket"), "left_outer")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(wb))
      .withColumn("types_cum", sum(col("new_types")).over(wb))
      .select(
        col("bucket"), col("n_docs_in"), col("tokens_cum"),
        col("new_types"), col("types_cum"))
  }

  /** Corpus-level compression scorecard for ONE tokenizer family's
    * encode output (the [[bpeEncodeWords]]/[[unigramEncodeWords]] shape:
    * one row per word occurrence with its `pieces`): total words, word
    * chars, and pieces; distinct pieces actually USED (vocabulary
    * utilization — a trained vocab earning its size shows here); and
    * chars-per-piece in exact ppm, the compression rate users compare
    * tokenizer families ON. One row per family, unionByName-able.
    *
    * Scale: one narrow aggregate over the encode stream plus one
    * distinct-aggregate over exploded pieces (vocab-bounded after the
    * map-side partial). The encode input is evaluated once per leg —
    * callers comparing several families over the same corpus should
    * persist the shared training tables, not this eval.
    */
  def tokenizerScorecard(encoded: DataFrame, family: String): DataFrame = {
    val totals = encoded.agg(
      count(lit(1)).as("n_words"),
      sum(length(col("w"))).cast("long").as("n_chars"),
      sum(col("n_pieces")).cast("long").as("n_pieces"))
    val distinctPieces = encoded
      .select(explode(col("pieces")).as("p"))
      .agg(countDistinct(col("p")).as("distinct_pieces"))
    totals.crossJoin(distinctPieces)
      .withColumn("family", lit(family))
      .withColumn(
        "cpp_ppm",
        when(col("n_pieces") > 0L, expr("(1000000 * n_chars) div n_pieces")))
      .select(
        col("family"), col("n_words"), col("n_chars"), col("n_pieces"),
        col("distinct_pieces"), col("cpp_ppm"))
  }

  /** Apply a [[trainQualityWeights]]-shaped model: each document's score
    * is the dot product of its token counts with the weight table
    * (tokens outside the table contribute 0 — the open-vocabulary
    * convention every linear text classifier uses). Emits exact BIGINT
    * `score_tribits` (1/3-bit log-odds units), a `mean_tribits`
    * per-token mean (ONE IEEE division of exact integers), and the
    * `pred` gate at the natural 0 threshold.
    *
    * Scale: the model is vocabulary-bounded and BROADCASTS by default —
    * the token stream never shuffles for the lookup, only the per-doc
    * sum aggregates (map-side combined); `broadcastModel = false`
    * shuffles on the token key instead for open-web vocabularies.
    */
  def scoreQuality(
      docs: DataFrame,
      weights: DataFrame,
      broadcastModel: Boolean = true): DataFrame = {
    val toks = spread(docs).select(col("doc_id"), explode(wordsCol).as("w"))
    toks
      .join(
        if (broadcastModel) broadcast(weights) else weights,
        Seq("w"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight_tribits"), lit(0L))).as("score_tribits"))
      .withColumn(
        "mean_tribits",
        col("score_tribits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("pred", col("score_tribits") >= 0L)
  }

  /** BM25 more-like-this retrieval over word-bigram terms — the lexical
    * leg of a retrieval/mining pipeline (hard-negative mining, "find the
    * documents most like this eval item" contamination triage, sparse
    * recall next to the dense ANN stack). Query documents are the
    * deterministic `doc_id % queryMod == 0` slice (the probe/eval set —
    * small BY CONSTRUCTION, like q22/q29's query subsets); each query's
    * DISTINCT bigrams score every other document and the per-query
    * top-`topK` is returned under the total order (score desc, doc_id).
    *
    * Terms are adjacent word PAIRS, not unigrams: on whitespace-token
    * corpora the unigram vocabulary saturates (every word lands in most
    * documents, so whole-bit idf floors to 0 — measured 31-word vocab on
    * the testdata corpus) while bigrams keep a discriminative df range.
    *
    * Exact integer BM25 quantization (engine-bit-identical, no float
    * folds): with k1 = 1.2, b = 0.75 and `a10 = ⌊10·L/N⌋` (avgdl × 10,
    * BIGINT — quantizing avgdl FIRST keeps every product bounded by
    * per-document magnitudes, not corpus totals),
    * {{{
    *   idf_bits  = bits(N) − bits(df)                 // whole-bit log2(N/df)
    *   tf_sat    = ⌊22·tf·a10·scale / (10·tf·a10 + 3·a10 + 90·dl)⌋
    *               // = tf(k1+1) / (tf + k1(1−b+b·dl/avgdl)) at `scale`
    *   score     = Σ_terms idf_bits · tf_sat
    * }}}
    * (`div` truncates toward zero, DuckDB `//` floors; every operand is
    * nonnegative, where the two agree). BIGINT headroom: the tf_sat
    * numerator is `22·tf·a10·scale` ≤ 22·dl_max·10·avgdl·scale — lower
    * `scale` a decade per decade of document length past ~10⁵ tokens.
    *
    * Cache lifecycle: the postings index THIS CALL builds stays persisted
    * after return (the result plan reads it four times: document lengths,
    * document frequencies, query terms, and the candidate scan) and is
    * owned by the caller's evaluation of the result; one-shot callers
    * should use [[withBm25MoreLikeThis]]. The 100 TB shape: postings,
    * `dl`, and `df` are the standing inverted index a production search
    * tier maintains incrementally — only the broadcast query-term join
    * and the candidate aggregation run per query batch.
    *
    * Scale: one map-side-combined `(doc, term)` count builds postings;
    * `df`/`dl` are one aggregate each; query terms BROADCAST onto both
    * (the df lookup and the posting scan — the corpus never reshuffles on
    * the term key for the probe); candidates aggregate on
    * `(query_id, doc_id)` and the top-K is WindowGroupLimit-bounded.
    */
  def bm25MoreLikeThis(
      docs: DataFrame,
      queryMod: Long = 25L,
      topK: Int = 10,
      scale: Long = 1000000L): DataFrame =
    bm25MoreLikeThisPlan(docs, queryMod, topK, scale)._1

  /** [[bm25MoreLikeThis]] as a caller-owned-lifecycle bracket: runs the
    * action `f` over the ranked frame, then unpersists the postings index
    * this call persisted.
    */
  def withBm25MoreLikeThis[T](
      docs: DataFrame,
      queryMod: Long = 25L,
      topK: Int = 10,
      scale: Long = 1000000L)(f: DataFrame => T): T = {
    val (result, cached) = bm25MoreLikeThisPlan(docs, queryMod, topK, scale)
    try f(result) finally cached.foreach(_.unpersist())
  }

  private def bm25MoreLikeThisPlan(
      docs: DataFrame,
      queryMod: Long,
      topK: Int,
      scale: Long): (DataFrame, Seq[DataFrame]) = {
    val n = size(col("ws")) - 1
    val postings = spread(docs)
      .select(col("doc_id"), wordsCol.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), greatest(n, lit(0))),
        slice(col("ws"), lit(2), greatest(n, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfc = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(
      count(lit(1)).as("n_docs"),
      expr("(10 * sum(dl)) div count(1)").as("a10"))
    // Query-doc terms broadcast ONTO the df table (the corpus-sized side
    // never reshuffles on the term key), then the annotated query terms —
    // still probe-sized — broadcast onto the posting scan.
    val qpost = postings
      .filter(pmod(col("doc_id"), lit(queryMod)) === 0)
      .select(col("doc_id").as("query_id"), col("t"))
    val qt = dfc.join(broadcast(qpost), Seq("t"))
      .crossJoin(broadcast(tot))
      .withColumn(
        "idf_bits",
        (length(bin(col("n_docs"))) - length(bin(col("df")))).cast("long"))
      .select(col("query_id"), col("t"), col("idf_bits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val ranked = postings
      .join(broadcast(qt), Seq("t"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      // Headroom guard before the product: 22·tf·a10·scale must fit in
      // BIGINT. The check uses ONLY divisions (cannot itself overflow)
      // and raises a named error instead of relying on ANSI's generic
      // overflow exception — tf ≈ 4·10^17/(a10·scale) is a degenerate
      // document (~10^10 tokens at default scale), so the branch is
      // never taken on real corpora and costs one compare per posting.
      .withColumn("contrib", expr(
        s"CASE WHEN tf > ((9223372036854775807 div ${scale}L) div a10) div 22 " +
        "THEN CAST(raise_error('bm25MoreLikeThis: 22*tf*a10*scale exceeds BIGINT " +
        "headroom; lower `scale` for this corpus') AS BIGINT) " +
        s"ELSE idf_bits * ((22 * tf * a10 * $scale) div (10 * tf * a10 + 3 * a10 + 90 * dl)) END"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("matched"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("score"), col("matched"))
    (ranked, Seq(postings))
  }

  /** Per-document character-entropy quality scores — the cheap
    * binary-junk / encrypted-blob / single-character-spam detector a
    * curation funnel runs before any tokenizer sees the text (natural
    * language sits in a narrow entropy band; base64 blobs score high,
    * padding spam scores near zero). Whole-bit surprisal under the house
    * integer-log2 convention ([[unigramSurprisal]]'s `bits`): each
    * occurrence of character `c` contributes `bits(n) − bits(cnt_c)`
    * where `n` is the document's character count — exact BIGINT end to
    * end, plus a `⌊1000·Σbits/n⌋` millibit-per-char mean so thresholds
    * stay engine-exact too. Shares q24/q114/q137's ASCII-corpus
    * assumption (Spark splits UTF-16 code units, the oracle's `text[i:i]`
    * splits codepoints — identical only below U+10000; the generation
    * guarantee is ASCII). Empty documents vanish from both engines
    * (no characters → no rows).
    *
    * Scale: the per-character explode collapses in the PARTIAL aggregate
    * (a document lives in one partition, so at most one `(doc, char)` row
    * per alphabet symbol per document ever shuffles — ~100 rows/doc, not
    * text); the window and final aggregate share the one `doc_id`
    * exchange.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val counts = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n", sum(col("cnt")).over(w))
      .withColumn(
        "bits",
        col("cnt") * (length(bin(col("n"))) - length(bin(col("cnt")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n")).as("n_chars_seen"),
        count(lit(1)).as("distinct_chars"),
        sum(col("bits")).as("sum_bits"))
      .withColumn(
        "millibits_per_char",
        expr("(1000 * sum_bits) div n_chars_seen"))
  }

  /** Top-k most frequent word n-grams across the corpus, deterministic
    * tie-break (count desc, phrase asc). One narrow scan (the shingle
    * Generate stays array-native — no text shuffle), a map-side-combined
    * count whose key space is observed-n-gram-bounded, and a TakeOrdered
    * top-k — never a global sort materialization.
    */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    require(k >= 1, s"k=$k must be >= 1")
    spread(docs)
      .select(explode(shinglesCol(n)).as("phrase"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase"))
      .limit(k)
  }

  /** Exact multi-phrase positional search — the inverted-index phrase
    * query: every (phrase, document) hit with overlap-counting match
    * count and first match position. The align-on-`pos − i` trick: each
    * token row joins the (broadcast, tiny) exploded phrase-word table on
    * the word, proposing the match start `pos − i`; a start at which ALL
    * `plen` phrase positions found their word (`count(*) = plen` — each
    * i appears at most once per (doc, start) since its position is
    * pinned to `start + i`, so repeated phrase words count correctly) is
    * a match. One broadcast join + two map-side-combined aggregates;
    * postings-bounded (only tokens matching SOME phrase word survive
    * the join); document text never shuffles.
    *
    * `phrases`: one string column `phrase` (whitespace-separated words,
    * the [[wordsCol]] convention). Output: (phrase, doc_id, n_matches,
    * first_pos), matched documents only.
    */
  def phraseSearch(docs: DataFrame, phrases: DataFrame): DataFrame = {
    val pwords = phrases
      .select(col("phrase"), expr("split(trim(phrase), '\\\\s+')").as("ws"))
      .select(
        col("phrase"), size(col("ws")).cast("long").as("plen"),
        posexplode(col("ws")).as(Seq("i", "pw")))
    tokenize(docs)
      .join(broadcast(pwords), col("w") === col("pw"))
      .withColumn("start", (col("pos") - col("i")).cast("long"))
      .filter(col("start") >= 0L)
      .groupBy(col("phrase"), col("plen"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("hit"))
      .filter(col("hit") === col("plen"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
  }
}
