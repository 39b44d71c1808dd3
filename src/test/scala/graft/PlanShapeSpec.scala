package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}

import graft.operators.{Dedup, Similarity, TrainingPipeline}
import graft.sources.EventFixtures

/** Physical-plan regression tests: the scale design IS the plan shape, so
  * pin it — a change that silently adds a shuffle or drops a pushdown
  * should fail CI, not surface as a 100 TB incident. String-matching the
  * executed plan is deliberate: it works with AQE on (the initial plan is
  * printed) and survives operator renames in our own code.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  // Execution-faithful shuffle counting lives in the library's PlanAudit
  // (user pipelines assert their plans with the same API this spec uses).
  private def shuffles(df: DataFrame): Int =
    PlanAudit.dataShuffles(df.queryExecution.executedPlan)

  test("customer history precompute: 3 bounded shuffles, map-side group limit, pushdown") {
    val actions = TrainingPipeline.normalizeActions(
      EventFixtures.clicks(spark, dir),
      EventFixtures.addToCarts(spark, dir),
      EventFixtures.orders(spark, dir))
    val dts = EventFixtures.impressions(spark, dir).select("dt").distinct()
    val df = TrainingPipeline.customerHistoryBeforeDt(actions, dts, 8)
    val p = plan(df)
    // (customer, day) window+agg share one exchange; the lead() window
    // re-partitions compact chunks by customer; dts' distinct adds one.
    // The cutoff join must be a broadcast, never a shuffle of chunks.
    assert(shuffles(df) <= 3, s"history precompute grew a shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"), "raw actions no longer bounded map-side")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "cutoff join stopped broadcasting")
    assert(p.contains("PushedFilters: [IsNotNull"), "scan pushdown lost")
  }

  test("flagship: one fixed-width exchange, build-right join, no window") {
    // Impressions are materialized first: the fixture derives them from
    // events through its own aggregate exchange, which is not the pipeline's.
    val df = TrainingPipeline.produceTrainingExamples(
      EventFixtures.impressions(spark, dir).localCheckpoint(),
      EventFixtures.clicks(spark, dir),
      EventFixtures.addToCarts(spark, dir),
      EventFixtures.orders(spark, dir),
      maxHistory = 8)
    val p = plan(df)
    // The only data exchange is the compact exploded-impression side, at
    // the session's shuffle width capped at the core count, a user-fixed
    // count AQE must not coalesce; actions broadcast, and each row's history
    // is folded where the left-outer join streams it (the join must build
    // the right side). This session is wider than its cores, so the cap shows.
    assert(shuffles(df) === 1, s"flagship pipeline grew a shuffle:\n$p")
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cores = spark.sparkContext.defaultParallelism
    assert(sessionWidth > cores)
    val width = cores
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = physical.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.map(e => (e.numPartitions, e.shuffleOrigin)) === Seq((width, REPARTITION_BY_NUM)),
      s"impression exchange lost its fixed width:\n$p")
    assert(exchanges.head.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      .map(_.asInstanceOf[Attribute].name) === Seq("customer_id"), p)
    assert(!p.contains("Window"), s"window reappeared:\n$p")
    assert(!p.contains("ObjectHashAggregate"), s"aggregate reappeared:\n$p")
    assert(p.contains("LeftOuter, BuildRight"), s"left-outer join no longer builds right:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull"), "scan pushdown lost")
  }

  test("jaccard pairs expand narrowly from grouped doc lists, not a self-join") {
    // End-to-end charge including the cached shingle build: the spread
    // repartition, the doc-frequency agg, the grouped-list agg, the
    // per-doc counts, and the pair aggregate — the count joins must stay
    // broadcasts.
    val df = Dedup.jaccardPairs(Tables(dir), k = 3)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin Inner"), s"pair generation regressed to a self-join:\n$p")
    assert(shuffles(df) <= 6, s"jaccard pair path grew a shuffle:\n$p")
  }

  test("IVF search: corpus assigned narrowly, only ranked candidates shuffle") {
    val df = Similarity.ivfSearch(spark.read.parquet(s"$dir/embeddings.parquet"))
    val p = plan(df)
    // Cell assignment is a per-row argmax over a broadcast centroid array —
    // the CORPUS is never exchanged. The two permitted shuffles are both
    // bounded: ranking the (numQueries × numCentroids)-row probe table and
    // ranking the nProbe-bounded candidate set per query.
    assert(shuffles(df) <= 2, s"IVF corpus path grew a shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), s"centroids/probes stopped broadcasting:\n$p")
  }

  test("brute-force knn broadcasts the query side and never shuffles the corpus") {
    val df = Similarity.knnBruteForce(spark.read.parquet(s"$dir/embeddings.parquet"))
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side stopped broadcasting:\n$p")
    // Only the |queries|×k-bounded window output is ever exchanged.
    assert(shuffles(df) <= 1, s"corpus-side shuffle appeared:\n$p")
  }

  test("contamination scan broadcasts the eval set and never shuffles corpus text") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(dir)
    val df = Dedup.benchmarkContamination(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), s"eval-set side stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shingle join regressed to a corpus shuffle:\n$p")
    // Permitted: the two spread repartitions (testdata single-partition
    // guard) + the matched-pair count. The corpus shingle table itself
    // must never hash-exchange for the join.
    assert(shuffles(df) <= 3, s"contamination path grew a shuffle:\n$p")
  }

  test("vocabulary ranks via TakeOrdered; only the wordcount is corpus-sized") {
    val df = graft.functions.TextAnalysis.vocabulary(Tables(dir))
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate selection regressed to a global sort:\n$p")
    // spread + wordcount; the rank window runs on the maxSize-bounded frame.
    assert(shuffles(df) <= 3, s"vocabulary path grew a shuffle:\n$p")
  }

  test("standardize broadcasts the moment table; corpus never shuffles") {
    val df = Similarity.standardize(spark.read.parquet(s"$dir/embeddings.parquet"))
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), s"moments stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"z-score join regressed to a corpus shuffle:\n$p")
    // One shuffle: the 64-group moments aggregate.
    assert(shuffles(df) <= 1, s"standardize path grew a shuffle:\n$p")
  }

  test("approx quantiles: partial GK sketch map-side, cutoffs broadcast, no fact shuffle") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val df = graft.functions.Stats.approxQuantileRankCheck(
      orders, org.apache.spark.sql.functions.col("o_orderpriority"),
      org.apache.spark.sql.functions.col("o_totalprice"))
    val p = plan(df)
    assert(p.contains("partial_approx_percentile"),
      s"GK sketch no longer partial-aggregates map-side:\n$p")
    assert(p.contains("BroadcastExchange"), s"cutoffs stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rank check regressed to a fact shuffle:\n$p")
    // Sketch merge + rank-count aggregate (+ final group-size exchange).
    assert(shuffles(df) <= 3, s"approx-quantile path grew a shuffle:\n$p")
  }

  test("heavy hitters: partial MG summaries map-side, sketch broadcast to the exact join") {
    import org.apache.spark.sql.functions.{col, explode}
    val toks = Tables(dir)
      .select(col("source"), explode(graft.functions.TextAnalysis.wordsCol).as("tok"))
    val df = graft.functions.Sketches.heavyHittersChecked(toks, "source", "tok", k = 24)
    val p = plan(df)
    assert(p.contains("partial_graft_mg"),
      s"MG aggregate no longer partial-aggregates (k-bounded buffers) map-side:\n$p")
    assert(p.contains("BroadcastExchange"), s"sketch side stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sketch join regressed to a shuffle:\n$p")
    // Exact token counts + the group-sized MG aggregate.
    assert(shuffles(df) <= 2, s"heavy-hitter path grew a shuffle:\n$p")
  }

  test("passage dedup shuffles digests for the df count; text moves only in the final join") {
    val df = Dedup.passageDedup(Tables(dir))
    val p = plan(df)
    // spread + digest df-aggregate + per-doc drop-list aggregate + the
    // doc_id join back (text's one move). The digest->boiler join must
    // stay a broadcast — the boilerplate set is df-filtered and small.
    assert(shuffles(df) <= 5, s"passage dedup grew a shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), s"boilerplate set stopped broadcasting:\n$p")
  }

  test("rolling passage dedup keeps the aligned variant's shuffle shape at stride 1") {
    // Dense windows multiply digest ROWS by windowLen, not shuffles:
    // the plan must stay spread + df-aggregate + drop-list aggregate +
    // the one text-bearing doc_id join, with the boilerplate digest set
    // broadcast exactly like the aligned pass.
    val df = Dedup.rollingPassageDedup(Tables(dir))
    val p = plan(df)
    assert(shuffles(df) <= 5, s"rolling passage dedup grew a shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), s"boilerplate set stopped broadcasting:\n$p")
  }

  test("substring decontamination: digest-keyed joins, no cross product, no text shuffle") {
    // Probe and reference windows join on the 60-bit digest; runs chain
    // in an (doc, ref_doc, alignment) window; per-doc best + coverage
    // aggregates; final doc_id joins. All shuffle keys are digests, ids,
    // and positions — the plan must never grow a cartesian product, and
    // the hot-digest cap's anti-join must not broadcast the full index.
    val docs = Tables(dir)
    val df = Dedup.substringDecontaminate(
      docs.filter("doc_id >= 250"), docs.filter("doc_id < 250"))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"decontamination grew a cross product:\n$p")
    assert(shuffles(df) <= 12, s"substring decontamination grew a shuffle:\n$p")
  }

  test("PQ encode never shuffles the corpus; ADC search broadcasts tables and ranks only") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val enc = Similarity.pqEncode(emb)
    val pe = plan(enc)
    // Encoding is a pure per-row expression over broadcast codebooks +
    // the posexplode: zero data shuffles.
    assert(shuffles(enc) === 0, s"pq encode grew a shuffle:\n$pe")
    assert(pe.contains("BroadcastExchange") || pe.contains("BroadcastNestedLoopJoin"),
      s"codebooks stopped broadcasting:\n$pe")
    val search = Similarity.pqSearch(emb)
    val ps = plan(search)
    // The only shuffle is the per-query rank window over the scored
    // candidates; codebooks and query tables broadcast.
    assert(shuffles(search) <= 1, s"pq search grew a shuffle:\n$ps")
    assert(ps.contains("BroadcastExchange") || ps.contains("BroadcastNestedLoopJoin"),
      s"query tables stopped broadcasting:\n$ps")
  }

  test("exactSubstrDedup: digest-keyed occurrence count, no cross product, bounded shuffles") {
    // The ExactSubstr pass must stay: fused per-doc digest scan → ONE
    // digest-keyed (map-combined) occurrence aggregate → digest-keyed
    // mark-back join → doc-keyed spans/strip. No window text in any
    // exchange, nothing quadratic.
    val df = Dedup.exactSubstrDedup(Tables(dir))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"ExactSubstr grew a cross product:\n$p")
    assert(shuffles(df) <= 10, s"ExactSubstr grew a shuffle:\n$p")
  }

  test("byte-level BPE encode: type table broadcasts; the pre-token stream never shuffles") {
    val docs = Tables(dir)
    val merges = graft.functions.TextAnalysis.byteBpeTrainMerges(docs, numMerges = 4)
    val df = graft.functions.TextAnalysis.byteBpeEncode(docs, merges)
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), s"type-pieces side stopped broadcasting:\n$p")
    // Inherent exchanges: ONLY the vocab-bounded distinct(w) aggregate —
    // the token stream joins the broadcast without repartitioning. The
    // other two exchanges here are `spread`'s few-partition fixture
    // repartitions (sf0.001 has fewer input splits than parallelism),
    // which vanish at scale.
    assert(shuffles(df) <= 3, s"byte-BPE encode grew a shuffle:\n$p")
  }

  test("3-D layout audits: no sampled range exchange, ranks from explicit boundaries") {
    val li = graft.sources.Tables.lineitem(spark, dir)
    val dims = Seq(
      org.apache.spark.sql.functions.col("l_partkey"),
      org.apache.spark.sql.functions.col("l_suppkey"),
      org.apache.spark.sql.functions.col("l_orderkey"))
    Seq(
      graft.sources.Sinks.zOrderLayoutStatsN(li, dims, numBuckets = 8),
      graft.sources.Sinks.hilbertLayoutStatsN(li, dims, numBuckets = 8)
    ).foreach { out =>
      val rows = out.collect()
      val n = rows.map(_.getAs[Long]("n")).sum
      assert(n === li.count())
      rows.foreach { r =>
        val c = r.getAs[Long]("n")
        assert(c === n / 8 || c === n / 8 + 1, s"bucket sizes not equal-count: $c vs $n/8")
      }
      val fin = out.queryExecution.executedPlan.toString
      assert(!fin.contains("rangepartitioning"),
        s"3-D layout audit must not depend on a sampled range exchange:\n${fin.take(1500)}")
    }
  }

  test("substring strip and self-repeats stay digest-keyed with no cross product") {
    val docs = Tables(dir)
    val strip = Dedup.substringDecontaminateStrip(
      docs.filter("doc_id >= 250"), docs.filter("doc_id < 250"))
    val ps = plan(strip)
    assert(!ps.contains("CartesianProduct"), s"strip grew a cross product:\n$ps")
    assert(shuffles(strip) <= 10, s"substring strip grew a shuffle:\n$ps")
    val rep = Dedup.selfRepeatedSubstrings(docs)
    val pr = plan(rep)
    // The self-pair join is (doc_id, dig)-keyed — bounded by the in-doc
    // occurrence cap, never a text join.
    assert(!pr.contains("CartesianProduct"), s"self-repeats grew a cross product:\n$pr")
    assert(shuffles(rep) <= 12, s"self-repeats grew a shuffle:\n$pr")
  }

  test("bigram surprise broadcasts the model; doc bigrams never shuffle before the doc agg") {
    val df = graft.functions.TextAnalysis.bigramSurprise(Tables(dir))
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), s"bigram model stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"model join regressed to a bigram shuffle:\n$p")
    // spread + the vocab²-bounded model count + its w1-total window + the
    // per-doc aggregate.
    assert(shuffles(df) <= 5, s"bigram surprise grew a shuffle:\n$p")
  }

  test("count-min: two wordcount-shaped aggregates, sketch broadcast to the probe join") {
    import org.apache.spark.sql.functions.{col, explode}
    val toks = Tables(dir)
      .select(col("source"), explode(graft.functions.TextAnalysis.wordsCol).as("tok"))
    val df = graft.functions.Sketches.countMin(toks, "source", "tok")
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), s"sketch stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe join regressed to a shuffle:\n$p")
    // Sketch cells + exact counts; the post-join min reuses the exact
    // aggregate's (grp, item) partitioning — no third corpus shuffle.
    assert(shuffles(df) <= 2, s"count-min path grew a shuffle:\n$p")
  }

  test("semantic dedup confines pair work to LSH buckets; no cross product") {
    val df = Similarity.semanticDedup(
      spark.read.parquet(s"$dir/embeddings.parquet"), minCosine = 0.2)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"bucket join regressed to a cross product:\n$p")
    // Bucket equi-join (two sides) + the per-vector verdict window + the
    // id-universe left join.
    assert(shuffles(df) <= 6, s"semantic dedup grew a shuffle:\n$p")
  }

  test("five-table star join: every dimension broadcast, ONE fact shuffle") {
    val df = SparkEntry.queries("q91_region_brand_revenue")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"dimension joins stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a dimension join regressed to a fact shuffle:\n$p")
    // The count_distinct expands to a two-phase aggregate over ONE
    // repartition of the fact side; the orderBy adds the range exchange.
    assert(shuffles(df) <= 3, s"star join grew a shuffle:\n$p")
  }

  test("source drift broadcasts the corpus tables; one rank window over vocab-bounded input") {
    val df = graft.functions.TextAnalysis.sourceDrift(Tables(dir))
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), s"corpus tables stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"drift join regressed to a corpus shuffle:\n$p")
    // spread + the (source, token) count + the two marginal aggregates +
    // the global total + the per-source rank window.
    assert(shuffles(df) <= 6, s"source drift grew a shuffle:\n$p")
  }

  test("hybrid near-dup: bucket-confined candidates, no cross product") {
    val df = Dedup.hybridNearDupPairs(
      Tables(dir), spark.read.parquet(s"$dir/embeddings.parquet"))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"candidate stage regressed to a cross product:\n$p")
    // Bucket equi-join (two exchanges) + the two digest-set joins + spread.
    assert(shuffles(df) <= 7, s"hybrid near-dup grew a shuffle:\n$p")
  }

  test("curation flagship composes without a cross product; shuffles stay bounded") {
    val df = graft.operators.Curation.curateCorpus(Tables(dir))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"curation composition grew a cross product:\n$p")
    // quality semi-join + passage-dedup's five + the canonical-digest
    // aggregate + the verdict joins; 12 is the audited composition total.
    assert(shuffles(df) <= 12, s"curation flagship grew a shuffle:\n$p")
  }

  test("bloom broadcast probe: AQE materializes ONE word-table build, reuses it twice") {
    // Three probe joins broadcast plan-identical word tables; the
    // runtime stage cache must ship one build (the other two become
    // ReusedExchange) — the property that made the operator-side
    // persist (and its session-scoped cache leak) unnecessary.
    val docs = Tables(dir)
    val out = graft.operators.Curation.bloomDedupAgainst(
      docs.filter("doc_id >= 250"), docs.filter("doc_id < 250"),
      broadcastFilter = true)
    out.collect()
    val fin = out.queryExecution.executedPlan.toString
    val reused = "ReusedExchange".r.findAllIn(fin).length
    assert(reused >= 2, s"word-table broadcast builds not reused (reused=$reused):\n${fin.take(4000)}")
  }

  test("bloom probe default is the shuffle path: word table never broadcast") {
    // The measured selection boundary (SCALE_r10: shuffle probe 1.8×
    // faster at 10×, and unbounded by the driver/broadcast budget) is
    // encoded as the DEFAULT; broadcast is the explicit opt-in for
    // latency-dominated small jobs. Pin the default's plan shape so a
    // signature change can't silently revert it.
    val docs = Tables(dir)
    val out = graft.operators.Curation.bloomDedupAgainst(
      docs.filter("doc_id >= 250"), docs.filter("doc_id < 250"))
    val p = plan(out)
    assert("BroadcastHashJoin \\[word".r.findAllIn(p).isEmpty,
      s"default bloom probe broadcasts the word table:\n$p")
    assert("ShuffledHashJoin \\[word".r.findAllIn(p).nonEmpty,
      s"default bloom probe lost the shuffled word join:\n$p")
  }

  test("bloom shuffle probe: ONE shuffled word join, filter never broadcast") {
    // broadcastFilter=false is the 100 TB path: the filter's size must
    // not be bounded by the broadcast/driver budget, so the word table
    // meets the exploded probes in a single shuffle equi-join — never a
    // BroadcastExchange, regardless of the planner's size estimate.
    val docs = Tables(dir)
    val out = graft.operators.Curation.bloomDedupAgainst(
      docs.filter("doc_id >= 250"), docs.filter("doc_id < 250"),
      broadcastFilter = false)
    val p = plan(out)
    // One shuffled word join per Union branch (definitely-new and
    // survivors re-plan the shared probe subtree; AQE's stage cache
    // materializes its exchanges once at runtime, verified below) —
    // and never a third ship per probe position like the broadcast
    // path's three.
    assert("ShuffledHashJoin \\[word".r.findAllIn(p).length === 2,
      s"word probe is not one shuffled join per branch:\n$p")
    assert("BroadcastHashJoin \\[word".r.findAllIn(p).isEmpty,
      s"the word table got broadcast on the shuffle path:\n$p")
    out.collect()
    val fin = out.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(fin).nonEmpty,
      s"duplicated probe subtrees did not reuse exchanges at runtime:\n${fin.take(4000)}")
  }

  test("materializeRepeats never shuffles the corpus; factor table broadcasts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables(dir).select("doc_id", "source")
    val factors = Seq(("src0", 2500000L), ("src1", 700000L)).toDF("grp", "factor_ppm")
    val out = graft.operators.Curation.materializeRepeats(
      docs, "source", col("doc_id"), factors)
    val p = plan(out)
    assert(shuffles(out) === 0, s"repeat materialization grew a corpus shuffle:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"factor table stopped broadcasting:\n$p")
  }

  test("lengthBucketBatches: both windows share one (bucket, shard) exchange") {
    import org.apache.spark.sql.functions._
    val docs = Tables(dir).select(col("doc_id"), col("n_chars"))
    val out = graft.operators.Curation.lengthBucketBatches(
      docs, col("doc_id"), col("n_chars"),
      boundaries = Seq(100L, 300L, 500L), batchSize = 8, numShards = 4)
    val p = plan(out)
    // The batch-max window's (bucket, shard, batch_id) clustering is
    // satisfied by the rank window's hash partitioning on (bucket,
    // shard) — a second exchange here would mean the batcher shuffles
    // the corpus twice.
    assert(shuffles(out) === 1, s"length batcher no longer single-shuffle:\n$p")
  }

  test("ewma smoothing adds zero exchanges on top of gapFill's own plan") {
    val events = graft.sources.Tables.events(spark, dir)
    val base = graft.operators.Timeseries.gapFill(events)
    val ewma = graft.operators.Timeseries.ewmaSmooth(events, windowDays = 7)
    val p = plan(ewma)
    // The RANGE lookback window must ride gapFill's existing per-type
    // partitioning — a self-join formulation would show up here as extra
    // exchanges AND a second scan of the events subtree.
    assert(shuffles(ewma) === shuffles(base),
      s"ewma grew exchanges beyond gapFill's:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"ewma scans the event table more than once:\n$p")
  }

  test("funnel pushes each step's type filter to the scan; survivor frames never re-shuffle") {
    val events = graft.sources.Tables.events(spark, dir)
    val df = graft.operators.Timeseries.funnel(
      events, Seq("signup", "view", "click", "purchase"))
    val p = plan(df)
    // The steps filter reaches the parquet scan as one IN predicate.
    assert(p.contains("In(event_type"), s"step filter not pushed down:\n$p")
    // ONE scan and two exchanges (user_id fold + dimension-sized stage
    // agg) — a per-stage join formulation would recompute each survivor
    // chain and show up here as O(K²) scans.
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"funnel scans the event table more than once:\n$p")
    assert(shuffles(df) <= 2, s"funnel grew a shuffle:\n$p")
  }

  test("snapshot diff: no exchange carries document text, only digests") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables(dir)
    val df = graft.operators.Curation.snapshotDiff(docs, docs)
    df.write.format("noop").mode("overwrite").save()
    val leaked = df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec if s.output.exists(_.name == "text") => s
    }
    assert(leaked.isEmpty,
      s"snapshot diff shuffles raw text instead of digests:\n${plan(df)}")
  }

  test("systematic sample: the corpus crosses one range exchange") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Curation.systematicWeightedSample(
      Tables(dir), col("doc_id"), col("n_chars"), k = 10)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(p.contains("ReusedExchange") || rangeExchanges <= 1,
      s"offsets subtree no longer reuses the corpus range exchange " +
        s"($rangeExchanges range exchanges, no ReusedExchange):\n$p")
  }

  test("hard negatives + hamming search broadcast queries; corpus shuffles only for rank windows") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val hn = Similarity.hardNegatives(emb)
    val ph = plan(hn)
    assert(shuffles(hn) <= 1, s"hard negatives grew a shuffle:\n$ph")
    assert(ph.contains("BroadcastExchange"), s"query side stopped broadcasting:\n$ph")
    val hs = Similarity.hammingSearch(emb)
    val ps = plan(hs)
    // Shortlist + re-rank windows are both query-keyed; the packing and
    // Hamming distance are inline expressions over the broadcast join.
    assert(shuffles(hs) <= 2, s"hamming search grew a shuffle:\n$ps")
    assert(ps.contains("BroadcastExchange"), s"query side stopped broadcasting:\n$ps")
  }

  test("random projection is fully narrow; gram matrix pays ONE aggregate exchange") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val rp = Similarity.randomProject(emb)
    assert(shuffles(rp) === 0, s"random projection grew a shuffle:\n${plan(rp)}")
    val gm = Similarity.gramMatrix(emb)
    val pg = plan(gm)
    // The d² expansion collapses in the partial aggregate; only the
    // d(d+1)/2-key exchange remains.
    assert(shuffles(gm) <= 1, s"gram matrix grew a shuffle:\n$pg")
    assert(!pg.contains("CartesianProduct"), s"gram matrix grew a cross product:\n$pg")
  }

  test("residual IVF-PQ keeps the q126 shape: narrow scan, broadcast arrays, bounded shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val rs = Similarity.ivfPqResidualSearch(emb)
    val pr = plan(rs)
    // Probe window (queries × centroids, tiny) + the per-query candidate
    // rank are the only exchanges; centroids/codebooks/tables broadcast.
    assert(shuffles(rs) <= 3, s"residual IVF-PQ grew a shuffle:\n$pr")
    assert(pr.contains("BroadcastExchange"), s"broadcast arrays lost:\n$pr")
    assert(!pr.contains("CartesianProduct"), s"residual IVF-PQ grew a cross product:\n$pr")
  }

  test("graph-ANN edge build + outlier candidates: bucket equi-joins, no cross product (r15 verdict items 1-2)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // The benched builds: LSH co-bucket candidates only.
    val eLsh = Similarity.knnEdgesLsh(emb)
    val pl = plan(eLsh)
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"),
      s"shortlist edge build regressed to all-pairs:\n$pl")
    val cands = Similarity.lshCandidatePairs(emb)
    val pc = plan(cands)
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"),
      s"outlier candidate build regressed to all-pairs:\n$pc")
    // Contrast proving the matcher bites: the exact differential arm IS
    // the all-pairs join (a non-equi self-join plans as BNLJ or a
    // cartesian product).
    val pe = plan(Similarity.knnEdgesExact(emb))
    assert(pe.contains("CartesianProduct") || pe.contains("BroadcastNestedLoopJoin"),
      s"exact-arm contrast no longer matches — update this pin:\n$pe")
  }

  test("audio segments: two bounded aggregates, no extra exchange") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val seg = Multimodal.audioSegments(
      Multimodal.audioFrameStats(
        Multimodal.decodeWavSamples(spark, Multimodal.toWav16(docs)), frameLen = 8))
    val ps = plan(seg)
    // (doc, frame) hash aggregate + the per-doc verdict aggregate — the
    // exchanges carry frame rows and doc rows, never samples.
    assert(shuffles(seg) <= 2, s"audio segments grew a shuffle:\n$ps")
    assert(!ps.contains("CartesianProduct"), s"audio segments grew a cross product:\n$ps")
  }

  test("video cuts/dup-clusters/alignment: doc-keyed windows, digest-only shuffles, no cross product") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val frames = Multimodal.decodeAviFrames(spark, Multimodal.toAvi(docs))
    // Scene cuts: exactly the one lag-window exchange by doc_id; the SAD
    // lambdas stay narrow where the pair's rows land.
    val cuts = Multimodal.videoSceneCuts(frames)
    val pc = plan(cuts)
    assert(shuffles(cuts) <= 1, s"scene cuts grew a shuffle:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"scene cuts grew a cross product:\n$pc")
    // Fingerprints: exchanges may carry 16-byte digests and fingerprints,
    // never the raw frame binary or the decoded samples array.
    val fp = Multimodal.videoFingerprints(Multimodal.sampleVideoFrames(frames))
    fp.write.format("noop").mode("overwrite").save()
    val leaked = fp.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec
        if s.output.exists(a => a.name == "frame" || a.name == "samples") => s
    }
    assert(leaked.isEmpty, s"video fingerprints shuffle raw frames:\n${plan(fp)}")
    // Cross-modal alignment: one as-of union window — never an
    // inequality join (the plan a naive containment join would take).
    val aligned = Multimodal.alignCutsToTokens(cuts, docs)
    val pa = plan(aligned)
    assert(!pa.contains("CartesianProduct") && !pa.contains("BroadcastNestedLoopJoin"),
      s"cut-token alignment regressed to an inequality join:\n$pa")
  }

  test("media transforms and inventory: zero-shuffle codec chains") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // resize and resample are per-payload codec chains end to end — any
    // exchange means payloads started travelling.
    val resized = Multimodal.decodePgmFeatures(
      spark, Multimodal.resize(spark, Multimodal.toPgm(docs), Multimodal.Codec.Pgm, Multimodal.Box(4))).toDF()
    assert(shuffles(resized) === 0, s"image resize grew a shuffle:\n${plan(resized)}")
    val resampled = Multimodal.decodeWavFeatures(
      spark, Multimodal.resize(spark, Multimodal.toWav16(docs), Multimodal.Codec.Wav, Multimodal.Box(4))).toDF()
    assert(shuffles(resampled) === 0, s"audio resample grew a shuffle:\n${plan(resampled)}")
    // The quarantined router: eight filtered passes, no shuffle, and no
    // exchange ever carries a payload.
    val invDf = Multimodal.mediaInventory(
      spark, Multimodal.toPgm(docs).select("doc_id", "payload"))
    assert(shuffles(invDf) === 0, s"media inventory grew a shuffle:\n${plan(invDf)}")
    // r18: the video member of the transform triple, and the quarantined
    // transform pass — both stay per-payload codec chains.
    val vResized = Multimodal.decodeAviSummary(
      spark, Multimodal.resize(spark, Multimodal.toAvi(docs), Multimodal.Codec.Avi, Multimodal.Box(4))).toDF()
    assert(shuffles(vResized) === 0, s"video resize grew a shuffle:\n${plan(vResized)}")
    val tInv = Multimodal.mediaTransformInventory(
      spark, Multimodal.toPgm(docs).select("doc_id", "payload"))
    assert(shuffles(tInv) === 0, s"transform inventory grew a shuffle:\n${plan(tInv)}")
  }

  test("payload builders synthesize through codec encoders: no interpreted lambda in the plan") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // Array lambdas (transform/filter over hex pairs) evaluate through
    // CodegenFallback inside the generated projection; payload synthesis
    // must stay text bytes → codec encoder.
    val builders = Seq[(String, DataFrame => DataFrame)](
      "toBmp" -> Multimodal.toBmp, "toWav16" -> Multimodal.toWav16,
      "toWavMuLaw" -> Multimodal.toWavMuLaw, "toAvi" -> (Multimodal.toAvi(_)),
      "toPng" -> Multimodal.toPng, "toJpeg" -> Multimodal.toJpeg,
      "toJpegColor" -> Multimodal.toJpegColor, "toAnimatedPgm" -> Multimodal.toAnimatedPgm)
    for ((name, build) <- builders) {
      val optimized = build(docs).queryExecution.optimizedPlan
      val lambdas = optimized.flatMap(_.expressions.flatMap(_.collect {
        case h: HigherOrderFunction => h
      }))
      assert(lambdas.isEmpty, s"$name plans an interpreted lambda:\n$optimized")
    }
  }

  test("contaminated-examples compose: contamination side broadcasts, no cross product") {
    val df = SparkEntry.queries("q246_contaminated_examples")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastExchange"),
      s"the eval-set-bounded contaminated doc set stopped broadcasting:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the compose plan grew a cross product:\n$p")
  }

  test("tombstoned index reads: anti-joins stay hash/broadcast, never nested-loop") {
    import graft.streaming.{EpochState, StreamingOps}
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val gdir = java.nio.file.Files.createTempDirectory("graft_plan_gann").toString
    StreamingOps.graphAnnEdgeSink(spark, gdir, degree = 8)(emb, 0L)
    val ddir = java.nio.file.Files.createTempDirectory("graft_plan_tombs").toString
    StreamingOps.sink(EpochState.Tombstones(), ddir)(Seq(17L, 23L).toDF("vec_id"), 0L)
    val (vecs, edges) = StreamingOps.mergedGraphAnnState(spark, gdir, 6, Some(ddir))
    for ((name, df) <- Seq("vecs" -> vecs, "edges" -> edges)) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"tombstoned $name read grew a non-equi join:\n$p")
    }
  }

  test("rrf fusion joins depth-bounded lists only; no cross product") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val rf = Similarity.rrfFuse(emb)
    val pf = plan(rf)
    assert(!pf.contains("CartesianProduct"), s"rrf fusion grew a cross product:\n$pf")
    // Two ranker windows + the depth-bounded fusion join + final window.
    assert(shuffles(rf) <= 8, s"rrf fusion grew a shuffle:\n$pf")
    assert(pf.contains("BroadcastExchange"), s"query side stopped broadcasting:\n$pf")
  }

  test("prefix filter + source overlap: no exchange carries document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for ((name, df) <- Seq(
        "prefixFilterPairs" -> Dedup.prefixFilterPairs(Tables(dir)),
        "sourceOverlapMatrix" -> Dedup.sourceOverlapMatrix(Tables(dir)))) {
      df.write.format("noop").mode("overwrite").save()
      val leaked = df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec if s.output.exists(_.name == "text") => s
      }
      assert(leaked.isEmpty, s"$name shuffles raw text instead of digests:\n${plan(df)}")
      assert(!plan(df).contains("CartesianProduct"), s"$name grew a cross product:\n${plan(df)}")
    }
  }

  test("importance weights + collocations broadcast the model; corpus-keyed aggs stay bounded") {
    val iw = graft.functions.TextAnalysis.importanceWeights(Tables(dir), "src0")
    val pi = plan(iw)
    assert(pi.contains("BroadcastExchange"), s"model stopped broadcasting:\n$pi")
    // Two spread repartitions (model + scoring subtrees), the vocab agg,
    // the totals agg, and the per-doc agg — all key-bounded; the corpus
    // text itself never shuffles.
    assert(shuffles(iw) <= 5, s"importance weights grew a shuffle:\n$pi")
    val cl = graft.functions.TextAnalysis.collocations(Tables(dir))
    val pc = plan(cl)
    assert(pc.contains("TakeOrderedAndProject"), s"top-k no longer TakeOrdered:\n$pc")
    assert(pc.contains("BroadcastExchange"), s"unigram model stopped broadcasting:\n$pc")
    // The unigram model is evaluated per consumer (c_x, c_y, totals), so
    // THIS small-input plan counts the spread repartition + vocab agg
    // three times plus the bigram subtree — 8 total. At real scale the
    // spread repartitions are pass-throughs (input partitions ≥
    // parallelism) and every aggregate is vocab-bounded after map-side
    // combine; nothing here shuffles corpus text.
    assert(shuffles(cl) <= 8, s"collocations grew a shuffle:\n$pc")
  }

  test("groupAuc windows reuse the per-score aggregate's group partitioning") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, dir)
    val au = graft.functions.Stats.groupAuc(
      ev, date_format(col("ts"), "yyyy-MM-dd"), col("value"), col("event_type") === "purchase")
    val pa = plan(au)
    // (grp, s) aggregate → grp-keyed windows → final grp-superset
    // aggregate: the windows and final agg must not add exchanges beyond
    // the re-key from (grp, s) to grp.
    assert(shuffles(au) <= 3, s"groupAuc grew a shuffle:\n$pa")
  }

  private def Tables(d: String): DataFrame =
    graft.sources.Tables.documents(spark, d)

  test("zOrderLayoutStats: distributed ranks are a permutation (equal buckets), no range exchange") {
    // The bucket assignment is correct ONLY if the distributed ranks
    // form a permutation of 1..n — the property the retired
    // spark_partition_id()-after-repartitionByRange idiom silently broke
    // when the offsets subtree re-sampled its own exchange (observed at
    // sf0.01: bucket 0 held 2098 rows where 1875 was exact). Explicit
    // literal boundaries make _pid a pure row function; pin both the
    // exact equal-count buckets and the absence of any sampled range
    // exchange in the plan.
    val li = graft.sources.Tables.lineitem(spark, dir)
    val out = graft.sources.Sinks.zOrderLayoutStats(
      li, org.apache.spark.sql.functions.col("l_partkey"),
      org.apache.spark.sql.functions.col("l_suppkey"), numBuckets = 8)
    val rows = out.collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n === li.count())
    // rnk a permutation of 1..n ⇒ bucket sizes are exactly ⌈/⌋ n/8.
    rows.foreach { r =>
      val c = r.getAs[Long]("n")
      assert(c === n / 8 || c === n / 8 + 1,
        s"bucket ${r.getAs[Int]("bucket")} count $c != ${n / 8}±1 — ranks are not a permutation")
    }
    val fin = out.queryExecution.executedPlan.toString
    assert(!fin.contains("rangepartitioning"),
      s"zOrderLayoutStats must not depend on a sampled range exchange:\n${fin.take(2000)}")
  }

  test("centroidOutliers: centroid sums broadcast; embeddings shuffle only for the label agg") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val out = Similarity.centroidOutliers(emb)
    val p = plan(out)
    // The per-label sum vector is dimension × |labels| — broadcast it to
    // the full embedding side; a sort-merge there would shuffle every
    // vector a second time for a lookup table of a few hundred rows.
    assert(p.contains("BroadcastExchange"), s"centroid sums stopped broadcasting:\n$p")
    // Three label-keyed shuffles, all narrow: the (label, pos) explode
    // aggregate (|V|·d long rows, map-side combined), the per-label
    // list collect, and the rank window. The vectors themselves cross
    // the wire at most once.
    assert(shuffles(out) <= 3, s"centroidOutliers grew a shuffle:\n$p")
  }

  test("canonicalDuplicates: one digest-keyed exchange; text never shuffles") {
    val out = Dedup.canonicalDuplicates(Tables(dir))
    val p = plan(out)
    // Two exchanges by construction: count_distinct(raw_hash) plans as
    // the classic two-phase distinct aggregate — partial on (canon_hash,
    // raw_hash), re-aggregate on canon_hash. Both carry 16-byte digests.
    assert(shuffles(out) <= 2, s"canonical dedup grew a shuffle:\n$p")
    // The shuffle must carry the 16-byte canon hash, not document text:
    // the exchange's output schema is the partial-agg row.
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(p).isDefined,
      s"document text reached a shuffle key:\n$p")
  }

  test("bm25: query terms broadcast onto df and postings; no term-keyed corpus reshuffle") {
    val out = graft.functions.TextAnalysis.bm25MoreLikeThis(Tables(dir))
    val p = plan(out)
    assert(!p.contains("CartesianProduct"), s"bm25 grew a cross product:\n$p")
    // Probe-sized sides (query terms, annotated query terms, the scalar
    // totals) must broadcast — the corpus-sized postings/df/dl frames
    // never reshuffle to meet them.
    assert(p.contains("BroadcastExchange"), s"query side stopped broadcasting:\n$p")
    // Inventory: postings build (doc,term), dl (doc), dfc (term), the
    // scalar totals, the candidate join's two doc_id sides, and the
    // (query, doc) aggregate feeding the rank window. 7 is the ceiling;
    // the window itself reuses the aggregate's partitioning.
    assert(shuffles(out) <= 7, s"bm25 grew a shuffle:\n$p")
  }

  test("charEntropy + scd2: windows and aggregates share one key exchange") {
    val ent = graft.functions.TextAnalysis.charEntropy(Tables(dir))
    val pe = plan(ent)
    // The (doc, char) partial aggregate, the per-doc window, and the
    // final per-doc aggregate all run on ONE doc-keyed exchange (the
    // spread repartition at test scale): character rows collapse
    // map-side and never shuffle raw.
    assert(shuffles(ent) <= 2, s"charEntropy grew a shuffle:\n$pe")
    val scd = graft.operators.Timeseries.scd2Intervals(
      graft.sources.Tables.events(spark, dir))
    val ps = plan(scd)
    // lag-filter, row_number, and lead share the (user_id, ts, event_id)
    // window spec — one exchange total.
    assert(shuffles(scd) <= 1, s"scd2 windows stopped sharing their exchange:\n$ps")
  }

  test("rare-shingle edges + triangles: digest-keyed, df-capped, never all-pairs") {
    val edges = Dedup.rareShingleEdges(Tables(dir))
    val pe = plan(edges)
    assert(!pe.contains("CartesianProduct"), s"edge derivation grew a cross product:\n$pe")
    // Digest work only: spread, the (doc, digest) distinct, the df count,
    // the df-band filter join, and the capped digest self-join + final
    // distinct — text never shuffles.
    assert(shuffles(edges) <= 6, s"rare-shingle edges grew a shuffle:\n$pe")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(pe).isDefined,
      s"document text reached a shuffle key:\n$pe")
    val tri = graft.operators.Graphs.triangleCounts(edges)
    val pt = plan(tri)
    // Eager like pageRank: the returned |V|-row frame reads the one
    // materialized cache; the wedge/closure joins already ran inside.
    assert(pt.contains("InMemoryTableScan"), s"triangle result stopped materializing:\n$pt")
    assert(!pt.contains("CartesianProduct"), s"triangles grew a cross product:\n$pt")
  }
}
