package graft

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the spark engine " +
      "scans sorts joins and aggregates large columnar tables every day"

  private def docs = Seq(
    (0L, base, "en", "s0", base.length.toLong),
    (1L, base, "en", "s0", base.length.toLong), // exact duplicate of 0
    (2L, base.replace("lazy", "sleepy"), "en", "s1", base.length.toLong), // near-dup of 0
    (3L, "completely different words about databases and airplanes and " +
      "oceans with nothing shared beyond articles", "en", "s2", 100L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("substringDecontaminate chains aligned window runs into exact variable-length spans") {
    def toks(prefix: String, n: Int): Seq[String] = (0 until n).map(i => s"$prefix$i")
    def mk(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s", words.mkString(" ").length.toLong)
    val refWords = toks("r", 60)
    // Probe 100: 5 noise tokens, then an EXACT copy of ref tokens 10..29
    // (20 tokens), then noise — longest span 20 starting at probe pos 5,
    // ref pos 10. Probe 101: two disjoint 8-token copies (ref 0..7 and
    // ref 40..47) separated by noise — max span stays 8 (different
    // alignments must not chain). Probe 102: no 8-gram overlap.
    val p100 = toks("a", 5) ++ refWords.slice(10, 30) ++ toks("b", 5)
    val p101 = refWords.slice(0, 8) ++ toks("c", 9) ++ refWords.slice(40, 48)
    val p102 = toks("z", 30)
    val reference = Seq(mk(0L, refWords)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val probes = Seq(mk(100L, p100), mk(101L, p101), mk(102L, p102))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.substringDecontaminate(probes, reference)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r100 = out(100L)
    assert(r100.getAs[Long]("max_match_len") === 20L)
    assert(r100.getAs[Long]("best_ref_doc") === 0L)
    assert(r100.getAs[Int]("best_start") === 5)
    assert(r100.getAs[Int]("best_ref_start") === 10)
    // 20-token span at width 8 ⇒ 13 matched window starts
    assert(r100.getAs[Long]("n_matched_windows") === 13L)
    assert(r100.getAs[Boolean]("contaminated"))
    val r101 = out(101L)
    assert(r101.getAs[Long]("max_match_len") === 8L)
    assert(r101.getAs[Int]("best_start") === 0, "tie-break: length desc then start asc")
    assert(r101.getAs[Long]("n_matched_windows") === 2L)
    val r102 = out(102L)
    assert(r102.getAs[Long]("max_match_len") === 0L)
    assert(!r102.getAs[Boolean]("contaminated"))
    assert(r102.isNullAt(r102.fieldIndex("best_ref_doc")))

    // The hot-digest cap: an 8-gram present in TWO reference docs with
    // maxDigFreq=1 is chrome, excluded from the index — no match.
    val ref2 = Seq(mk(0L, refWords), mk(1L, refWords.slice(10, 30)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val capped = Dedup.substringDecontaminate(
      Seq(mk(100L, p100)).toDF("doc_id", "text", "lang", "source", "n_chars"),
      ref2, maxDigFreq = 1)
      .collect().head
    assert(capped.getAs[Long]("max_match_len") === 0L,
      "every window of the span occurs twice in the reference, all capped out")

    // The strip companion removes exactly the covered span and keeps
    // the noise flanks in order; a pre-built persisted-style index gives
    // the identical answer (the incremental path).
    val stripped = Dedup.substringDecontaminateStrip(probes, reference)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val s100 = stripped(100L)
    assert(s100.getAs[Long]("n_tokens") === 30L && s100.getAs[Long]("n_dropped") === 20L)
    assert(s100.getAs[String]("clean_text") === (toks("a", 5) ++ toks("b", 5)).mkString(" "))
    assert(stripped(102L).getAs[Long]("n_dropped") === 0L)
    assert(stripped(102L).getAs[String]("clean_text") === p102.mkString(" "))
    val idx = Dedup.substringIndex(reference)
    val viaIdx = Dedup.substringDecontaminateStrip(
      probes, reference.limit(0), referenceIndex = Some(idx))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).toSet
    assert(viaIdx === stripped.map { case (id, r) => (id, r.getAs[String]("clean_text")) }.toSet)
  }

  test("selfRepeatedSubstrings finds the longest internal repeat with exact chaining") {
    def toks(p: String, n: Int): Seq[String] = (0 until n).map(i => s"$p$i")
    // d1: a 10-token block repeated at starts 6 and 20 (gap 14).
    // d2: period-5 text — overlapping repeat, LRS = 15 at gap 5.
    // d3: no repeated 8-gram.
    val rpt = toks("rep", 10)
    val d1 = toks("n", 6) ++ rpt ++ toks("m", 4) ++ rpt ++ toks("t", 3)
    val d2 = (0 until 4).flatMap(_ => toks("c", 5))
    val d3 = toks("z", 20)
    val docs = Seq((1L, d1), (2L, d2), (3L, d3))
      .map { case (id, ws) =>
        val t = ws.mkString(" "); (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.selfRepeatedSubstrings(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("max_repeat_len") === 10L)
    assert(r1.getAs[Int]("best_start") === 6 && r1.getAs[Int]("best_gap") === 14)
    assert(r1.getAs[Boolean]("has_repeat"))
    val r2 = out(2L)
    assert(r2.getAs[Long]("max_repeat_len") === 15L,
      "overlapping periodic repeat must chain to period + run - 1")
    assert(r2.getAs[Int]("best_start") === 0 && r2.getAs[Int]("best_gap") === 5)
    val r3 = out(3L)
    assert(r3.getAs[Long]("max_repeat_len") === 0L && !r3.getAs[Boolean]("has_repeat"))
    assert(r3.isNullAt(r3.fieldIndex("best_start")))
  }

  test("PQ: codewords self-encode with zero residual; ADC ranks an exact twin first; trainer is deterministic") {
    import graft.operators.Similarity
    // 20 vectors, 16 dims (m=4 subspaces of 4). Vector 18 duplicates
    // vector 2's values exactly; vector 19 is far from everything.
    def vec(seed: Int): Seq[Float] =
      (0 until 16).map(i => ((seed * 31 + i * 7) % 97 - 48).toFloat / 7f)
    val rows = (0 until 18).map(i => (i.toLong, vec(i))) :+
      (18L, vec(2)) :+ (19L, (0 until 16).map(_ => 9f))
    val emb = rows.toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(emb, m = 4, codes = 16).collect()
    // Codebook vectors (vec_id < 16) must pick themselves at d2 = 0.
    for (r <- enc if r.getAs[Long]("vec_id") < 16) {
      assert(r.getAs[Int]("code") === r.getAs[Long]("vec_id").toInt)
      assert(r.getAs[Long]("d2") === 0L)
    }
    // Vector 18 == vector 2: identical codes, zero residual everywhere.
    val e18 = enc.filter(_.getAs[Long]("vec_id") == 18L).sortBy(_.getAs[Int]("sub"))
    assert(e18.forall(r => r.getAs[Int]("code") === 2 && r.getAs[Long]("d2") === 0L))
    // ADC: querying vector 2 must rank its exact twin 18 first with
    // adc_d2 = 0 (codes coincide, table entries are its own residuals).
    val found = Similarity.pqSearch(emb, numQueries = 3, k = 5, m = 4, codes = 16)
      .collect().filter(_.getAs[Long]("query_id") == 2L).sortBy(_.getAs[Int]("rnk"))
    assert(found.head.getAs[Long]("neighbor_id") === 18L)
    assert(found.head.getAs[Long]("adc_d2") === 0L)
    // The per-subspace Lloyd trainer is deterministic run-to-run and
    // produces full codebooks.
    val b1 = Similarity.trainPqCodebooks(emb, m = 4, codes = 8, iters = 2, sampleSize = 20)
    val b2 = Similarity.trainPqCodebooks(emb, m = 4, codes = 8, iters = 2, sampleSize = 20)
    assert(b1 === b2)
    assert(b1.size === 4 * 8 && b1.forall(_._2.length === 4))
    // And the learned codebooks drive the same encode plan via the frame.
    val learned = Similarity.pqCodebookFrame(spark, b1)
    assert(learned.selectExpr("size(cbs)").collect().head.getInt(0) === 32)
  }

  test("SQ8: matches an in-test exact model; extremes reconstruct exactly; twin ranks first") {
    import graft.operators.Similarity
    // 12 vectors, 6 dims; vector 11 duplicates vector 1 exactly.
    def vec(seed: Int): Seq[Float] =
      (0 until 6).map(i => ((seed * 17 + i * 13) % 23 - 11).toFloat / 5f)
    val rows = (0 until 11).map(i => (i.toLong, vec(i))) :+ (11L, vec(1))
    val emb = rows.toDF("vec_id", "embedding")
    // Exact in-test model of the operator's integer spec.
    val qe = rows.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * 1e6).toLong) }
    val dims = 0 until 6
    val lo = dims.map(d => qe.map(_._2(d)).min)
    val hi = dims.map(d => qe.map(_._2(d)).max)
    def xhat(v: Seq[Long]): Seq[Long] = dims.map { d =>
      val code =
        if (hi(d) == lo(d)) 0L else math.min(255L, (v(d) - lo(d)) * 255L / (hi(d) - lo(d)))
      lo(d) + code * (hi(d) - lo(d)) / 255L
    }
    val expected = (for {
      (qid, qv) <- qe if qid < 3
      (nid, nv) <- qe if nid != qid
    } yield {
      val d2 = dims.map(d => { val x = qv(d) - xhat(nv)(d); x * x }).sum
      (qid, nid, d2)
    }).groupBy(_._1).flatMap { case (qid, cs) =>
      cs.sortBy(c => (c._3, c._2)).take(4).zipWithIndex.map {
        case ((_, nid, d2), i) => (qid, nid, i + 1, d2)
      }
    }.toSet
    val got = Similarity.sqSearch(emb, numQueries = 3, k = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rnk"), r.getAs[Long]("adc_d2"))).toSet
    assert(got === expected)
    // A per-dim extreme vector reconstructs exactly (code 0 -> lo,
    // code 255 -> hi), so the duplicate of vector 1 must rank first for
    // query 1 — with the distance of vector 1's own reconstruction.
    val q1 = got.filter(t => t._1 == 1L && t._3 == 1).head
    assert(q1._2 === 11L)
  }

  test("centroidMarginSampling: boundary vectors rank first, mislabels flag is_error") {
    import graft.operators.Similarity
    // Label 0 clusters near (1,0), label 1 near (0,1). id4 sits at 45°
    // (the class boundary — smallest margin, ambiguity rank 1); id5 is
    // labeled 1 but points at (1,0) — predicted 0, is_error.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.0f, 1.0f), 1), (3L, Seq(0.1f, 0.9f), 1),
      (4L, Seq(0.7071f, 0.7071f), 0),
      (5L, Seq(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidMarginSampling(emb, k = 6).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.size === 6)
    assert(out(4L).getAs[Int]("rnk") === 1, "the 45-degree vector must be most ambiguous")
    assert(out(5L).getAs[Int]("pred_label") === 0)
    assert(out(5L).getAs[Boolean]("is_error"))
    assert(!out(0L).getAs[Boolean]("is_error"))
    assert(out(0L).getAs[Int]("pred_label") === 0)
    assert(out(2L).getAs[Int]("pred_label") === 1)
    // Margins are positive (best > second by construction of the rank).
    assert(out.values.forall(_.getAs[Double]("margin") >= 0.0))
    // rnk order equals ascending margin order.
    val byRnk = out.values.toSeq.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("margin"))
    assert(byRnk === byRnk.sorted)
  }

  test("kCenterSelect: hand-traced greedy farthest-point order on a line") {
    import graft.operators.Similarity
    // 1-D points at 0, 1, 10, 11, 30. Seed = lowest id (pos 0).
    // Farthest: id4 (d2 900e12). Then id3 (121e12), then id1 ties id2
    // at 1e12 -> lowest id wins. Radii non-increasing by construction.
    val emb = Seq(
      (0L, Seq(0f)), (1L, Seq(1f)), (2L, Seq(10f)), (3L, Seq(11f)), (4L, Seq(30f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(emb, k = 4).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"),
        Option(r.get(r.fieldIndex("radius_d2"))).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    val T = 1000000000000L // (1e6)^2 per unit distance
    assert(got.map(t => (t._1, t._2)).toSeq === Seq((1, 0L), (2, 4L), (3, 3L), (4, 1L)))
    assert(got.map(_._3).toSeq === Seq(None, Some(900L * T), Some(121L * T), Some(1L * T)))
    val radii = got.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      "coverage radius must be non-increasing along the greedy order")
    // Deterministic run-to-run (literal-compiled centers, no RNG).
    val again = Similarity.kCenterSelect(emb, k = 4).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"))).sortBy(_._1).toSeq
    assert(again === got.map(t => (t._1, t._2)).toSeq)
  }

  test("exact dedup groups identical content under the min doc_id") {
    val groups = Dedup.exactDuplicates(docs).collect()
    assert(groups.length === 3)
    val dup = groups.find(_.getAs[Long]("n_docs") == 2L).get
    assert(dup.getAs[Long]("canonical_id") === 0L)
  }

  test("LSH candidates include near-dups and exclude unrelated docs") {
    val pairs = Dedup.lshCandidatePairs(docs, k = 3, numHashes = 8, numBands = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    assert(pairs.contains((0L, 1L))) // exact dup always collides
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near-dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated
  }

  test("jaccard pairs verify candidates with exact set overlap") {
    val pairs = Dedup.jaccardPairs(docs, k = 3, minJaccard = 0.2)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs((0L, 1L)) === 1.0) // identical shingle sets
    assert(pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("meanPool averages element-wise per group with floor semantics") {
    val e = Seq(
      (0L, Seq(1.0f, -1.0f)),
      (0L, Seq(2.0f, -2.0f)),
      (1L, Seq(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.meanPool(e, org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(r => r.getAs[Long]("group_id") -> r.getAs[String]("pooled")).toMap
    // group 0: (1e6+2e6)/2 = 1500000; (-1e6 + -2e6)/2 = -1500000
    assert(out(0L) === "1500000,-1500000")
    assert(out(1L) === "5000000,5000000")
  }

  test("KMV sketch estimates distinct counts within its error bound") {
    import graft.functions.Sketches
    val df = (0 until 20000).map(i => ("g", i.toLong % 5000)).toDF("g", "v")
    val r = Sketches.kmvDistinct(df, "g", "v", k = 256).collect().head
    val est = r.getAs[Double]("est_distinct")
    // ±1/sqrt(256) ≈ 6.25% theoretical; allow 3σ.
    assert(math.abs(est - 5000.0) / 5000.0 < 0.19, s"estimate $est too far from 5000")
    // Small group: exact path.
    val small = Seq(("s", 1L), ("s", 2L), ("s", 2L)).toDF("g", "v")
    val rs = Sketches.kmvDistinct(small, "g", "v", k = 64).collect().head
    assert(rs.getAs[Double]("est_distinct") === 2.0)
    assert(rs.getAs[Long]("k_actual") === 2L)
  }

  test("bloom filter at parameterized capacity holds the predicted false-positive rate") {
    import graft.functions.Sketches
    // 10^4 keys into ~2^14 bits (264 62-bit words = 16368), k = 3 probes:
    // predicted FPR = (1 - e^(-3n/m))^3 ≈ 0.593. Probe 10^4 distinct
    // NON-members; binomial σ ≈ 0.005, so ±0.04 is an 8σ gate that still
    // fails hard if capacity or probing is broken (saturated ⇒ rate 1.0).
    val bits = 264 * 62
    val corpus = spark.range(10000).selectExpr("'g' AS g", "CAST(id AS STRING) AS v")
    val probes = spark.range(10000).selectExpr("CAST(id + 1000000 AS STRING) AS probe")
    val r = Sketches.bloomMembership(corpus, "g", "v", probes, bits = bits)
      .collect().head
    assert(r.getAs[Long]("n_keys") === 10000L)
    val predicted = math.pow(1.0 - math.exp(-3.0 * 10000 / bits), 3)
    val observed = r.getAs[Long]("n_probe_hits").toDouble / 10000
    assert(math.abs(observed - predicted) < 0.04,
      f"observed FPR $observed%.4f vs predicted $predicted%.4f at m=$bits")
    // Fill factor sanity: bits_set/m ≈ 1 - e^(-3n/m) within the same gate.
    val fill = r.getAs[Int]("bits_set").toDouble / bits
    assert(math.abs(fill - (1.0 - math.exp(-3.0 * 10000 / bits))) < 0.04)
    // The old fixed capacity saturates at this cardinality — every
    // non-member probe false-positives, which is WHY bits is a parameter.
    val sat = Sketches.bloomMembership(corpus, "g", "v", probes, bits = 124)
      .collect().head
    assert(sat.getAs[Long]("n_probe_hits") === 10000L)
    assert(sat.getAs[Int]("bits_set") === 124)
    // No false negatives ever: members always hit.
    val members = Sketches.bloomMembership(
      corpus, "g", "v", corpus.limit(500).selectExpr("v AS probe"), bits = bits)
      .collect().head
    assert(members.getAs[Long]("n_probe_hits") === 500L)
  }

  test("Misra-Gries summary holds its guarantees under any partitioning") {
    import graft.functions.Sketches
    // One group, n = 8500 items: "hot" ×3000, "warm" ×500, and 5000
    // distinct singleton tail items that force constant counter churn.
    // k = 9 ⇒ guarantee threshold n/(k+1) = 850: "hot" is guaranteed
    // present with error ≤ 850; "warm" and the tail carry no guarantee.
    val items = Seq.fill(3000)("hot") ++ Seq.fill(500)("warm") ++
      (0 until 5000).map(i => s"tail$i")
    val truth = items.groupBy(identity).map { case (v, g) => v -> g.size.toLong }
    for (parts <- Seq(1, 7, 32)) {
      val df = items.toDF("tok").repartition(parts).selectExpr("'g' AS grp", "tok")
      val r = Sketches.heavyHitters(df, "grp", "tok", k = 9).collect().head
      assert(r.getAs[Long]("n") === 8500L)
      val mg = r.getAs[Map[String, Long]]("mg")
      assert(mg.size <= 9, s"parts=$parts: ${mg.size} survivors exceed k")
      // Guaranteed presence + error bound for the true heavy hitter.
      assert(mg.contains("hot"), s"parts=$parts: guaranteed item evicted")
      assert(mg("hot") >= 3000L - 850L && mg("hot") <= 3000L,
        s"parts=$parts: hot estimate ${mg("hot")} outside [2150, 3000]")
      // Undercount-only, for EVERY survivor.
      mg.foreach { case (item, est) =>
        assert(est <= truth(item), s"parts=$parts: $item overcounted $est > ${truth(item)}")
      }
      // The checked surface: the exact-count-defined row set, all green.
      val checked = Sketches.heavyHittersChecked(df, "grp", "tok", k = 9).collect()
      assert(checked.map(_.getAs[String]("item")).toSet === Set("hot"))
      assert(checked.forall(r => r.getAs[Boolean]("present") && r.getAs[Boolean]("bound_ok")))
    }
  }

  test("md5 digest-slice expressions match the SQL hex idioms bitwise") {
    import org.apache.spark.sql.functions.{col, expr, hex, lower, md5}
    import graft.functions.Hashing
    val rows = Seq("", "a", "abc def", "the quick brown fox", "ünïcödé ☃", "x" * 500)
      .toDF("s")
      .select(
        Hashing.md5Long60(col("s")).as("a"),
        Hashing.md5Long52(col("s")).as("b"),
        Hashing.md5Pair(col("s")).as("p"),
        lower(hex(Hashing.md5Binary(col("s")))).as("hx"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("ea"),
        expr("CAST(conv(substring(md5(s), 17, 13), 16, 10) AS BIGINT)").as("eb"),
        md5(col("s")).as("ehx"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("a") === r.getAs[Long]("ea"))
      assert(r.getAs[Long]("b") === r.getAs[Long]("eb"))
      val p = r.getAs[org.apache.spark.sql.Row]("p")
      assert(p.getAs[Long]("h60") === r.getAs[Long]("ea"))
      assert(p.getAs[Long]("h52") === r.getAs[Long]("eb"))
      assert(r.getAs[String]("hx") === r.getAs[String]("ehx"))
    }
  }

  test("dedupClusters collapses transitive pairs into min-labeled components") {
    // Component {1,2,3,4} given only as a chain (diameter 3 — forces
    // multiple propagation rounds), component {10,11}, and {20,21} via a
    // redundant triangle-free pair set.
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (21L, 20L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_canonical")))
      .toMap
    assert(out.size === 8)
    Seq(1L, 2L, 3L, 4L).foreach(d => assert(out(d) === (1L, 4L, d == 1L)))
    Seq(10L, 11L).foreach(d => assert(out(d) === (10L, 2L, d == 10L)))
    Seq(20L, 21L).foreach(d => assert(out(d) === (20L, 2L, d == 20L)))
    // Empty input degrades cleanly.
    assert(Dedup.dedupClusters(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() === 0L)
  }

  test("dedupClusters pointer doubling converges in O(log d) rounds on a chain") {
    // A 256-link chain is the worst case for plain hash-min propagation:
    // the min label crawls one hop per round (≈128 rounds from the
    // halved-start initialization). Pointer doubling must close it well
    // inside the default maxIters=20 budget — and in ≈log₂(d) rounds.
    // The threshold sits below the chain's 512 symmetrized edges, so the
    // loop runs instead of the below-gate driver union-find.
    val n = 256
    val chain = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val (out, iters) = Dedup.dedupClustersWithIters(chain, maxIters = 20, hotKeyThreshold = 256L)
    val rows = out.collect()
    assert(rows.length === n + 1)
    assert(rows.forall(_.getAs[Long]("canonical_id") == 0L),
      "every chain vertex must collapse to the component minimum")
    assert(rows.forall(_.getAs[Long]("cluster_size") == (n + 1).toLong))
    assert(iters > 0 && iters <= 12, s"doubling should converge a $n-chain in ~log₂ rounds, took $iters")
  }

  test("incremental near-dup dedup drops snapshot rewordings of the kept corpus") {
    val kept = docs.filter("doc_id <= 1")
    val snapshot = Seq(
      (10L, base.replace("lazy", "sleepy"), "en", "s1", base.length.toLong), // near-dup of kept 0
      (11L, base, "en", "s0", base.length.toLong),                           // exact dup of kept 0
      (12L, "completely different words about databases and airplanes and " +
        "oceans with nothing shared beyond articles", "en", "s2", 100L),     // novel
      (13L, "tiny", "en", "s3", 4L))                                         // too short to shingle
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val survivors = Dedup.nearDupAgainst(kept, snapshot)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(survivors === Set(12L, 13L),
      s"expected the reworded and exact dups dropped, got survivors $survivors")
    // The production shape: the kept corpus represented ONLY by its
    // persisted signature+digest index must give the identical answer.
    val index = Dedup.signatureDigestIndex(kept)
    val viaIndex = Dedup.nearDupAgainst(
      kept.limit(0), snapshot, keptSignatures = Some(index))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaIndex === survivors)
    // The signature-agreement mode (smaller index, quantized estimate)
    // agrees on these far-from-threshold cases.
    val viaSig = Dedup.nearDupAgainst(kept, snapshot, exactVerify = false)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaSig === survivors)
  }

  test("withNearDupAgainst releases its own index caches; provided signatures stay caller-owned") {
    // Dedicated rows (distinct plans): the cache manager shares entries
    // across IDENTICAL plans, so reusing another test's kept/snapshot
    // frames would make this bracket unpersist that test's cache and
    // turn the count assertions order-dependent.
    // 46 words: one replacement kills 3 of 44 shingles → jaccard 41/47 ≈
    // 0.87 ≥ 0.75, comfortably a near-dup.
    val bracketBase = (0 until 46).map(i => s"brkt$i").mkString(" ")
    val kept = Seq((500L, bracketBase, "en", "s9", bracketBase.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val snapshot = Seq(
      (510L, bracketBase.replace("brkt20 ", "changed "), "en", "s9", bracketBase.length.toLong),
      (511L, "entirely unrelated council minutes concerning harbor dredging schedules and " +
        "quarterly budget reconciliation for the northern district", "en", "s9", 120L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def cachedTables = spark.sparkContext.getPersistentRDDs.size
    val before = cachedTables
    val got = Dedup.withNearDupAgainst(kept, snapshot) { df =>
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    }
    assert(got === Set(511L), "near-dup of kept must drop, novel must survive")
    assert(cachedTables === before,
      "the bracket must unpersist both indexes it built")
    // A caller-provided index must NOT be persisted or released by the call.
    val index = Dedup.signatureDigestIndex(kept).persist()
    index.count()
    val mid = cachedTables
    val viaIndex = Dedup.withNearDupAgainst(
      kept.limit(0), snapshot, keptSignatures = Some(index)) { df =>
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    }
    assert(viaIndex === got)
    assert(cachedTables === mid, "caller-owned signatures must survive the bracket")
    assert(index.storageLevel.useMemory, "the provided index's persist is untouched")
    index.unpersist()
  }

  test("exact verify classifies borderline pairs that 1/8-granular signature agreement cannot") {
    // 62 unique words → 60 distinct 3-shingles. Replacing 3 spread-out
    // words rewrites exactly 9 shingles: true jaccard = 51/69 ≈ 0.739,
    // JUST below the 0.75 admission threshold — every variant must
    // survive. The 8-hash signature estimate is quantized to eighths, so
    // near the threshold it classifies ~half of these on what is
    // effectively a deterministic coin flip (6/8 = 0.75 ≥ threshold ⇒
    // wrongly dropped). Fully deterministic: fixed corpus, fixed hash
    // family.
    val words = (0 until 62).map(i => s"w$i")
    def doc(repl: Set[Int]): String =
      words.zipWithIndex.map { case (w, i) => if (repl(i)) s"x$i" else w }.mkString(" ")
    // 16 distinct position triples, each member in a disjoint range and
    // ≥12 apart, so the three replacements always touch 9 distinct shingles.
    val variantSets = (0 until 16).map { v =>
      Set(3 + v % 5, 20 + (v * 2) % 9, 40 + (v * 3) % 11)
    }
    val kept = Seq((0L, doc(Set.empty), "en", "s0", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val snapshot = variantSets.zipWithIndex.map { case (s, i) =>
      ((100 + i).toLong, doc(s), "en", "s1", 100L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    val keptIdx = Dedup.signatureDigestIndex(kept).collect().head
    val kSigs = keptIdx.getAs[scala.collection.Seq[Long]]("sigs")
    val kShl = keptIdx.getAs[scala.collection.Seq[Long]]("shl").toSet
    val stats = Dedup.signatureDigestIndex(snapshot).collect().map { r =>
      val sigs = r.getAs[scala.collection.Seq[Long]]("sigs")
      val shl = r.getAs[scala.collection.Seq[Long]]("shl").toSet
      val agree = sigs.zip(kSigs).count { case (a, b) => a == b }
      val j = (shl & kShl).size.toDouble / (shl | kShl).size.toDouble
      (r.getAs[Long]("doc_id"), agree, j)
    }
    stats.foreach { case (id, _, j) =>
      assert(j > 0.73 && j < 0.75, s"variant $id: expected borderline jaccard, got $j")
    }
    // ≥6/8 agreement also guarantees band collision (2 mismatches kill at
    // most 2 of the 4 two-row bands), so these reach verification in both
    // modes — and the estimate mode misjudges them.
    val misclassified = stats.filter(_._2 >= 6).map(_._1).toSet
    assert(misclassified.nonEmpty,
      "the fixed hash family should put at least one borderline pair at >= 6/8 agreement")

    val allIds = stats.map(_._1).toSet
    val exactSurvivors = Dedup.nearDupAgainst(kept, snapshot)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(exactSurvivors === allIds,
      "exact digest-set verify must keep every variant (true jaccard < 0.75)")
    val sigSurvivors = Dedup.nearDupAgainst(kept, snapshot, exactVerify = false)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert((allIds -- sigSurvivors) === misclassified,
      "signature-agreement verify drops exactly the quantization-misclassified variants")
  }

  test("splitLeakage flags near-dup pairs straddling split boundaries only") {
    import graft.operators.Curation
    // Pick ids with known (deterministic) hash-split assignments.
    val sp = Curation.hashSplit((0L until 50L).toDF("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val train = sp.collect { case (id, "train") => id }.toSeq.sorted
    val other = sp.collect { case (id, s) if s != "train" => id }.toSeq.sorted
    val (a, c) = (train.head, train(1)) // same split
    val b = other.head                  // different split
    val docs = Seq(
      (a, base, "en", "s", base.length.toLong),
      (b, base.replace("lazy", "sleepy"), "en", "s", base.length.toLong),
      (c, base.replace("quick", "rapid"), "en", "s", base.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.splitLeakage(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    def pair(x: Long, y: Long) = (math.min(x, y), math.max(x, y))
    // a~b and b~c straddle splits; a~c is within-train and must NOT flag.
    assert(out === Set(pair(a, b), pair(b, c)),
      s"expected exactly the cross-split near-dup pairs, got $out (a=$a b=$b c=$c)")
  }

  test("clusterAwareSplit keeps whole near-dup clusters in one split; singletons match hashSplit") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions.col
    // Reuse the leakage fixture: ids a,c in train, b elsewhere under plain
    // hashSplit, all three one near-dup cluster — plus a novel singleton.
    val sp = Curation.hashSplit((0L until 50L).toDF("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val train = sp.collect { case (id, "train") => id }.toSeq.sorted
    val other = sp.collect { case (id, s) if s != "train" => id }.toSeq.sorted
    val (a, c, b, solo) = (train.head, train(1), other.head, other(1))
    val docs = Seq(
      (a, base, "en", "s", base.length.toLong),
      (b, base.replace("lazy", "sleepy"), "en", "s", base.length.toLong),
      (c, base.replace("quick", "rapid"), "en", "s", base.length.toLong),
      (solo, "completely different words about databases and airplanes and " +
        "oceans with nothing shared beyond articles", "en", "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.clusterAwareSplit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[String]("split"))).toMap
    val canonical = Seq(a, b, c).min
    Seq(a, b, c).foreach { id =>
      assert(out(id) === (canonical, out(canonical)._2),
        s"cluster member $id not co-assigned with canonical $canonical")
    }
    assert(out(solo) === (solo, sp(solo)), "singleton must split exactly like hashSplit")
    // The q82 audit semantics over THIS assignment find nothing: every
    // verified near-dup pair shares a split by construction.
    val splits = Curation.clusterAwareSplit(docs).select("doc_id", "split")
    val leaks = Dedup.lshVerifiedPairs(docs, minJaccard = 0.5)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
    assert(leaks.isEmpty, "cluster-aware split must produce zero cross-split near-dup pairs")
  }

  test("benchmarkContamination flags corpus docs by distinct-shingle overlap with the eval set") {
    val corpus = Seq(
      (10L, "a b c d e", "en", "s0", 9L),   // shares "a b c","b c d" with bench 0 → 2
      (11L, "a b c zzz", "en", "s0", 9L),   // shares only "a b c" → 1, below cut
      (12L, "q r s t u", "en", "s0", 9L))   // shares nothing
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = Seq(
      (0L, "a b c d x", "en", "s0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.benchmarkContamination(corpus, bench, k = 3, minOverlap = 2)
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("doc_id") === 10L)
    assert(out(0).getAs[Long]("bench_id") === 0L)
    assert(out(0).getAs[Long]("n_common") === 2L)
    // Dropping the threshold surfaces the single-shingle pair too.
    val loose = Dedup.benchmarkContamination(corpus, bench, k = 3, minOverlap = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(loose === Set(10L, 11L))
  }

  test("shingleCoverage grades per-doc reference overlap; short docs emit no row") {
    val ref = Seq(
      (0L, "a b c d e", "en", "s0", 9L)) // shingles: "a b c","b c d","c d e"
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = Seq(
      (10L, "a b c d e", "en", "s0", 9L),  // all 3 shingles in ref → 1.0
      (11L, "a b c zzz", "en", "s0", 9L),  // 1 of 2 → 0.5
      (12L, "q r s t u", "en", "s0", 9L),  // 0 of 3 → 0.0
      (13L, "xy z", "en", "s0", 4L))       // < 3 words → no shingles → no row
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.shingleCoverage(corpus, ref)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hit"), r.getAs[Double]("coverage")))
      .toMap
    assert(out.keySet === Set(10L, 11L, 12L))
    assert(out(10L) === ((3L, 3L, 1.0)))
    assert(out(11L) === ((2L, 1L, 0.5)))
    assert(out(12L) === ((3L, 0L, 0.0)))
  }

  test("standardize z-scores each dimension; constant dimensions go to 0") {
    // dim 0: values {1, 3} → mean 2e6 (quantized), stddev 1e6 → z = ∓1.
    // dim 1: constant → stddev 0 → z = 0 (not NaN).
    val emb = Seq(
      (0L, Seq(1.0f, 5.0f)),
      (1L, Seq(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.standardize(emb).orderBy("vec_id", "dim").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("dim")) -> r.getAs[Double]("z")).toMap
    assert(z((0L, 0)) === -1.0)
    assert(z((1L, 0)) === 1.0)
    assert(z((0L, 1)) === 0.0)
    assert(z((1L, 1)) === 0.0)
  }

  test("jaccard doc-frequency cap bounds hot-shingle pair blowup") {
    // 120 docs share one boilerplate shingle but nothing else: uncapped,
    // every pair co-shingles (120·119/2 = 7140 pairs at jaccard exactly
    // 1/5); with the cap at 100 the hot shingle is dropped from both the
    // intersection and the counts, and no pair survives.
    val boiler = (0L until 120L).map { i =>
      (i, s"common boiler plate u${i}a u${i}b", "en", "s", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val uncapped = Dedup.jaccardPairs(boiler, k = 3, minJaccard = 0.2, maxDocFreq = 1000)
    assert(uncapped.count() === 7140L)
    val capped = Dedup.jaccardPairs(boiler, k = 3, minJaccard = 0.2, maxDocFreq = 100)
    assert(capped.count() === 0L)
  }

  test("simhash: identical docs agree, near-dups differ in few nibbles") {
    val hashes = graft.functions.TextAnalysis.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(hashes(0L).length === 16)
    assert(hashes(0L) === hashes(1L))
    val diffNibbles = hashes(0L).zip(hashes(2L)).count { case (a, b) => a != b }
    assert(diffNibbles <= 6, s"near-dup simhash too far: ${hashes(0L)} vs ${hashes(2L)}")
    assert(hashes(0L) !== hashes(3L))
  }

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0), // closest to 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1), // orthogonal to 0
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f), 2)) // opposite of 0
    .toDF("vec_id", "embedding", "label")

  test("brute-force knn ranks by cosine with self excluded") {
    val out = Similarity.knnBruteForce(vecs, numQueries = 1, k = 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
    val cosines = out.map(_.getAs[Double]("cosine"))
    assert(math.abs(cosines(0) - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6)
    assert(math.abs(cosines(1)) < 1e-6)
    assert(math.abs(cosines(2) + 1.0) < 1e-6)
  }

  test("cosine pairs finds the single close pair above threshold") {
    val pairs = Similarity.cosinePairs(vecs, minCosine = 0.9).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("vec_a") === 0L)
    assert(pairs.head.getAs[Long]("vec_b") === 1L)
  }

  test("sign-LSH buckets put identical vectors together; ANN finds exact dup") {
    val withDup = vecs.union(
      Seq((4L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val buckets = Similarity.signBuckets(withDup, numPlanes = 8, dim = 4)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(buckets(0L) === buckets(4L)) // identical vectors, identical bucket
    val ann = Similarity.annLsh(withDup, numQueries = 1, k = 2, numPlanes = 8, dim = 4)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(ann.contains(4L)) // the exact duplicate is always recalled
  }

  test("embedNearDupAgainst flags snapshot vectors near the kept corpus, best-match ties to lowest kept id") {
    // Kept ids 0 and 4 are IDENTICAL vectors: a snapshot duplicate must
    // match both at cosine 1.0 and the tie-break must pick kept_id 0.
    val kept = vecs.union(
      Seq((4L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val snapshot = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),  // exact dup of kept 0/4
      (101L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),  // near-dup of kept 0/1
      (102L, Seq(0.0f, 0.0f, 0.0f, 1.0f), 9))  // orthogonal to everything kept
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embedNearDupAgainst(
      kept, snapshot, minCosine = 0.9, numPlanes = 8, dim = 4)
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(100L, 101L)) // 102 is clean
    val dup = out(0)
    assert(dup.getAs[Long]("match_id") === 0L) // cosine tie vs kept 4 → lowest id
    assert(math.abs(dup.getAs[Double]("cosine") - 1.0) < 1e-9)
    val near = out(1)
    // (0.9, 0.1)·(1, 0) / (|a||b|) ≈ 0.9939 against kept 1 (identical → 1.0)
    assert(near.getAs[Long]("match_id") === 1L)
    assert(near.getAs[Double]("cosine") > 0.999)
  }

  test("graph ANN: beam search over the kNN graph recalls most of exact top-k; visited set stays bounded") {
    // Same clustered fixture the LSH recall spec uses: neighbors are
    // graph-local, so a few hops from the entry point should reach the
    // query's cluster. Recall floor is deliberately modest — beam search
    // from ONE fixed entry is the recall-vs-work dial, and the gate pins
    // exact replay, not recall.
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i % 10
      val v = (0 until dim).map { d =>
        val base = if ((c * dim + d) % 7 < 3) 1.0f else -1.0f
        val noise = 0.08f * (((i * 31 + d * 17) % 11) - 5) / 5.0f
        base + noise
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Similarity.knnBruteForce(rows))
    // Default (benched) arm: LSH-shortlist-built edges.
    val walked = Similarity.graphAnnSearch(rows, degree = 8, beam = 6, hops = 4)
    val got = pairsOf(walked)
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, f"graph-ANN recall $recall%.2f < 0.5")
    // Differential arm: the n² exact edge build holds the same floor —
    // the shortlist build may lose candidate recall but must not change
    // the search machinery's behavior class.
    val exactBuilt = pairsOf(Similarity.graphAnnSearch(
      rows, degree = 8, beam = 6, hops = 4, edgeBuild = "exact"))
    val recallExactBuild = (exact intersect exactBuilt).size.toDouble / exact.size
    assert(recallExactBuild >= 0.5,
      f"graph-ANN recall (exact build) $recallExactBuild%.2f < 0.5")
    // More hops/beam never hurt recall on a fixed graph.
    val deeper = pairsOf(Similarity.graphAnnSearch(rows, degree = 8, beam = 10, hops = 6))
    val recallDeep = (exact intersect deeper).size.toDouble / exact.size
    assert(recallDeep >= recall, f"deeper walk lost recall: $recallDeep%.2f < $recall%.2f")
    // Bounded work: with k unbounded, the answer IS the visited set
    // (minus self) — assert the structural cap 1 + hops·beam·(degree +
    // id-bits) per query holds and the walk did NOT touch the whole
    // corpus (gate defaults: degree 6, beam 4, hops 3, 200 ids → 8 bits;
    // cap = 169 < 200, so the assertion is not vacuous).
    val visitedPerQuery = Similarity.graphAnnSearch(rows, k = Int.MaxValue)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    val cap = 1 + 3 * 4 * (6 + 8)
    visitedPerQuery.foreach { c =>
      assert(c <= cap, s"visited set $c exceeds the structural cap $cap")
      assert(c < 200, s"beam search degenerated into a full corpus scan: $c")
    }
  }

  test("multi-probe ANN recalls >=0.9 of exact top-k on clustered vectors") {
    // 10 clusters × 20 vectors (base pattern + small deterministic noise):
    // the regime LSH is built for, where true neighbors sit ~one flipped
    // sign bit away. Queries are vec_id < 10, one per cluster.
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i % 10
      val v = (0 until dim).map { d =>
        val base = if ((c * dim + d) % 7 < 3) 1.0f else -1.0f
        val noise = 0.08f * (((i * 31 + d * 17) % 11) - 5) / 5.0f
        base + noise
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Similarity.knnBruteForce(rows))
    val single = pairsOf(Similarity.annLsh(rows, probeBits = 0))
    val multi = pairsOf(Similarity.annLsh(rows, probeBits = 1))
    val recallSingle = (exact intersect single).size.toDouble / exact.size
    val recallMulti = (exact intersect multi).size.toDouble / exact.size
    assert(recallMulti >= 0.9, f"multi-probe recall $recallMulti%.2f < 0.9")
    assert(recallMulti >= recallSingle)
    // Candidate generation stays bucketed: 7 of 64 buckets probed, so the
    // scored candidate set is a small fraction of all query×corpus pairs.
    val cands = Similarity.annLsh(rows, k = Int.MaxValue, probeBits = 1).count()
    assert(cands < 10L * 200 / 2, s"candidate count $cands not sub-quadratic")
  }

  test("deeper probing monotonically recovers recall on the testdata corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.knnBruteForce(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = (0 to 2).map { pb =>
      val got = Similarity.annLsh(emb, probeBits = pb)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    // This corpus is near-random (max pairwise cosine ≈ 0.5), the worst
    // case for LSH — absolute recall is low by nature, but each extra
    // probe bit must strictly widen what the bucket join recovers.
    assert(recalls(0) < recalls(1) && recalls(1) < recalls(2), recalls.toString)
  }

  test("IVF assigns vectors to their nearest centroid cell and search recalls clusters") {
    // Same clustered corpus shape as the multi-probe test: centroids are
    // the first vectors of each cluster (vec_id < 10 ⇒ one per cluster),
    // so assignment must put ~every vector in its own cluster's cell and
    // probing nProbe cells must recover most exact neighbors.
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i % 10
      val v = (0 until dim).map { d =>
        // (2c + d) mod 11: 2 is invertible mod 11, so all 10 cluster
        // patterns are distinct shifts (the %7 variant used elsewhere
        // makes clusters c and c+7 identical — degenerate for cell tests).
        val base = if ((2 * c + d) % 11 < 5) 1.0f else -1.0f
        base + 0.08f * (((i * 31 + d * 17) % 11) - 5) / 5.0f
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    val cells = Similarity.ivfAssign(rows, numCentroids = 10)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.size === 200)
    val own = cells.count { case (v, cell) => cell == v % 10 }
    assert(own >= 190, s"only $own/200 vectors landed in their cluster's cell")
    val exact = Similarity.knnBruteForce(rows).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfSearch(rows, numCentroids = 10, nProbe = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, f"IVF recall $recall%.2f < 0.9")
  }

  test("learned IVF centroids recall >=0.9 where the placeholder sample is degenerate") {
    // Block cluster layout (c = i / 20): the first 20 vec_ids are ALL
    // cluster 0, so the `vec_id < k` placeholder quantizer gets k copies
    // of one cluster and scatters the rest of the corpus arbitrarily —
    // exactly the failure mode a real trainer must fix. Queries
    // (vec_id < 10) are cluster-0 vectors whose true neighbors split
    // across whatever cells the quantizer made.
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i / 20
      val v = (0 until dim).map { d =>
        val base = if ((2 * c + d) % 11 < 5) 1.0f else -1.0f
        base + 0.08f * (((i * 31 + d * 17) % 11) - 5) / 5.0f
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Similarity.knnBruteForce(rows))
    val learned = pairsOf(Similarity.ivfSearchLearned(rows, numCentroids = 16, nProbe = 4))
    val placeholder = pairsOf(Similarity.ivfSearch(rows, numCentroids = 16, nProbe = 4))
    val recallLearned = (exact intersect learned).size.toDouble / exact.size
    val recallPlaceholder = (exact intersect placeholder).size.toDouble / exact.size
    assert(recallLearned >= 0.9, f"learned-centroid recall $recallLearned%.2f < 0.9")
    assert(recallLearned > recallPlaceholder,
      f"training didn't beat the degenerate placeholder ($recallLearned%.2f <= $recallPlaceholder%.2f)")
    // Determinism: a second fit returns bit-identical centroids.
    val c1 = Similarity.trainIvfCentroids(rows, numCentroids = 16)
    val c2 = Similarity.trainIvfCentroids(rows, numCentroids = 16)
    assert(c1 === c2)
  }

  test("quantized dot products are exact and order-independent") {
    val a = Seq((0L, Seq(0.123456f, -0.654321f), 0), (1L, Seq(0.111111f, 0.222222f), 0))
      .toDF("vec_id", "embedding", "label")
    val one = Similarity.cosinePairs(a, minCosine = -1.0).collect().head
    // floor(0.123456*1e6)=123455 or 123456 depending on float repr — but it
    // must be IDENTICAL across repeated runs and partitionings.
    val again = Similarity.cosinePairs(a.repartition(7), minCosine = -1.0).collect().head
    assert(one.getAs[Long]("dp") === again.getAs[Long]("dp"))
    assert(one.getAs[Double]("cosine") === again.getAs[Double]("cosine"))
  }

  test("passage dedup drops cross-document repeated passages, keeps the rest in order") {
    val boiler = "terms of service apply"
    val pd = Seq(
      (0L, s"$boiler alpha beta gamma delta", "en", "s0", 40L),
      (1L, s"$boiler epsilon zeta eta theta", "en", "s1", 40L),
      (2L, "wholly original content here", "en", "s2", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.passageDedup(pd, passageLen = 4)
      .orderBy("doc_id").collect()
    // Docs 0/1: passage 0 is the shared boilerplate (df=2) → dropped;
    // passage 1 is unique → kept verbatim.
    assert(out(0).getAs[Long]("n_passages") === 2L)
    assert(out(0).getAs[Long]("n_dropped") === 1L)
    assert(out(0).getAs[String]("clean_text") === "alpha beta gamma delta")
    assert(out(1).getAs[String]("clean_text") === "epsilon zeta eta theta")
    // Doc 2: single unique (ragged, 3-token) passage — untouched.
    assert(out(2).getAs[Long]("n_passages") === 1L)
    assert(out(2).getAs[Long]("n_dropped") === 0L)
    assert(out(2).getAs[String]("clean_text") === "wholly original content here")
    // A doc that is ENTIRELY boilerplate comes back empty, not missing.
    val all = Seq(
      (0L, boiler, "en", "s0", 22L),
      (1L, boiler, "en", "s1", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val wiped = Dedup.passageDedup(all, passageLen = 4).orderBy("doc_id").collect()
    assert(wiped.length === 2)
    assert(wiped.forall(_.getAs[String]("clean_text") === ""))
    assert(wiped.forall(_.getAs[Long]("n_dropped") === 1L))
  }

  test("rolling passage dedup catches boilerplate at ANY token offset; aligned misses it") {
    // 8 tokens of license chrome, inserted at offsets 0, 1, and 3 — no
    // two documents agree on alignment, so fixed-width passages never
    // collide, but every dense-window pass sees the same 8-token span.
    val boiler = "all rights reserved unauthorized copying prohibited by law"
    val docs = Seq(
      (0L, s"$boiler alpha beta gamma", "en", "s0", 80L),
      (1L, s"intro $boiler delta epsilon", "en", "s1", 80L),
      (2L, s"one two three $boiler omega", "en", "s2", 80L),
      (3L, "wholly original content here today", "en", "s3", 34L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val aligned = Dedup.passageDedup(docs, passageLen = 8)
      .orderBy("doc_id").collect()
    assert(aligned.forall(_.getAs[Long]("n_dropped") === 0L),
      "aligned chunks shouldn't collide across shifted offsets in this fixture")
    val rolling = Dedup.rollingPassageDedup(docs, windowLen = 8)
      .orderBy("doc_id").collect()
    assert(rolling.map(_.getAs[Long]("n_dropped")).toSeq === Seq(8L, 8L, 8L, 0L))
    assert(rolling(0).getAs[String]("clean_text") === "alpha beta gamma")
    assert(rolling(1).getAs[String]("clean_text") === "intro delta epsilon")
    assert(rolling(2).getAs[String]("clean_text") === "one two three omega")
    assert(rolling(3).getAs[String]("clean_text") === "wholly original content here today")
    // A doc that IS the boilerplate is wiped to empty, not missing; a
    // doc shorter than the window is below the pass's resolution.
    val edge = Seq(
      (0L, boiler, "en", "s0", 58L),
      (1L, s"head $boiler", "en", "s1", 63L),
      (2L, "tiny doc", "en", "s2", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = Dedup.rollingPassageDedup(edge, windowLen = 8).orderBy("doc_id").collect()
    assert(e(0).getAs[String]("clean_text") === "")
    assert(e(0).getAs[Long]("n_dropped") === 8L)
    assert(e(1).getAs[String]("clean_text") === "head")
    assert(e(2).getAs[String]("clean_text") === "tiny doc")
    assert(e(2).getAs[Long]("n_dropped") === 0L)
  }

  test("incremental rolling dedup against merged window counts equals the batch pipeline") {
    val boiler = "all rights reserved unauthorized copying prohibited by law"
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val batchA = Seq(
      d(0L, s"$boiler alpha beta gamma"),
      d(1L, "independent early content here"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batchB = Seq(
      d(10L, s"pre text $boiler epsilon"),
      d(11L, "late unique material entirely"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // The boilerplate spans the two batches at DIFFERENT offsets (0 vs
    // 2) — only the merged dense-window state sees df=2 and strips it.
    val merged = Dedup.mergePassageCounts(Seq(
      Dedup.rollingDigestCounts(batchA, windowLen = 8),
      Dedup.rollingDigestCounts(batchB, windowLen = 8)))
    val incremental = Dedup.rollingPassageDedupAgainst(batchB, merged, windowLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val whole = Dedup.rollingPassageDedup(batchA.unionByName(batchB), windowLen = 8)
      .filter($"doc_id" >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(incremental === whole)
    assert(incremental === Set(
      (10L, 8L, "pre text epsilon"),
      (11L, 0L, "late unique material entirely")))
  }

  test("count-min estimates are one-sided and exact when the sketch is wide") {
    import graft.functions.Sketches
    val toks = (0 until 1000).map(i => ("g", s"tok${i % 37}")).toDF("grp", "item")
    // Wide sketch: 37 items into 4×1024 buckets — collisions effectively
    // impossible per row, so every estimate is exact.
    val wide = Sketches.countMin(toks, "grp", "item", depth = 4, width = 1024).collect()
    assert(wide.length === 37)
    assert(wide.forall(_.getAs[Long]("overcount") === 0L))
    // Tight sketch: 37 items into 4×8 buckets — collisions now certain,
    // but the CMS guarantee (est >= exact, min across rows) must hold.
    val tight = Sketches.countMin(toks, "grp", "item", depth = 4, width = 8).collect()
    assert(tight.length === 37)
    assert(tight.forall(r => r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt")))
    assert(tight.exists(_.getAs[Long]("overcount") > 0L), "4x8 over 37 items should collide")
  }

  test("incremental passage dedup against merged digest counts equals the batch pipeline") {
    val boiler = "terms of service apply"
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val batchA = Seq(
      d(0L, s"$boiler alpha beta gamma delta"),
      d(1L, "independent early content here"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batchB = Seq(
      d(10L, s"$boiler epsilon zeta eta theta"),
      d(11L, "late unique material entirely"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // The boilerplate spans the two batches (df=1 in each) — only the
    // MERGED state sees df=2 and strips it.
    val merged = Dedup.mergePassageCounts(Seq(
      Dedup.passageDigestCounts(batchA, passageLen = 4),
      Dedup.passageDigestCounts(batchB, passageLen = 4)))
    val incremental = Dedup.passageDedupAgainst(batchB, merged, passageLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val whole = Dedup.passageDedup(batchA.unionByName(batchB), passageLen = 4)
      .filter($"doc_id" >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(incremental === whole)
    assert(incremental === Set(
      (10L, 1L, "epsilon zeta eta theta"),
      (11L, 0L, "late unique material entirely")))
  }

  test("sketch merges: CMS cells sum and HLL registers max to the union-corpus sketch") {
    import graft.functions.Sketches
    import org.apache.spark.sql.functions.hash
    val toks = (0 until 2000).map(i => ("g", s"tok${i % 53}")).toDF("grp", "item")
    val (h1, h2) = (toks.filter(hash($"item") % 2 === 0), toks.filter(hash($"item") % 2 =!= 0))
    // CMS: cells(A) ⊕ cells(B) == cells(A ∪ B), cell for cell.
    val whole = Sketches.countMinCells(toks, "grp", "item").collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val merged = Sketches.mergeCountMinCells(Seq(
      Sketches.countMinCells(h1, "grp", "item"),
      Sketches.countMinCells(h2, "grp", "item"))).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(merged === whole)
    // HLL: register-wise max over OVERLAPPING slices (h1 ∪ toks) is still
    // exactly the whole-corpus registers — max is idempotent.
    val wholeRegs = Sketches.hllRegisters(toks, "grp", "item").collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    val mergedRegs = Sketches.mergeHllRegisters("grp", Seq(
      Sketches.hllRegisters(h1, "grp", "item"),
      Sketches.hllRegisters(toks, "grp", "item"))).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(mergedRegs === wholeRegs)
    // KMV: pooled minima from OVERLAPPING slices re-distinct and re-rank
    // to exactly the whole-corpus minima.
    val ids = (0 until 3000).map(i => ("g", (i % 700).toLong)).toDF("grp", "v")
    val wholeMin = Sketches.kmvMinima(ids, "grp", "v", k = 64).collect()
      .map(_.getLong(1)).toSet
    val mergedMin = Sketches.mergeKmvMinima("grp", Seq(
      Sketches.kmvMinima(ids.filter($"v" < 500), "grp", "v", k = 64),
      Sketches.kmvMinima(ids.filter($"v" >= 300), "grp", "v", k = 64)), k = 64)
      .collect().map(_.getLong(1)).toSet
    assert(mergedMin === wholeMin)
    // Probing merged CMS cells answers like the whole-corpus sketch, and
    // a never-inserted item probes to 0, not a join dropout.
    val probes = Seq(("g", "tok7"), ("g", "never_seen")).toDF("grp", "item")
    val est = Sketches.probeCountMin(
      Sketches.mergeCountMinCells(Seq(
        Sketches.countMinCells(h1, "grp", "item"),
        Sketches.countMinCells(h2, "grp", "item"))), probes)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("cms_est")).toMap
    assert(est("tok7") >= 2000 / 53)
    assert(est("never_seen") >= 0L) // present with a (possibly colliding) estimate
    // A probe frame that itself carries `row`/`bucket`/`c` columns (e.g.
    // built from a cells table) must not hit an ambiguous-reference
    // error — the probe internals live in the reserved _cms_* namespace.
    val colliding = Seq(("g", "tok7", 0, 1, 9L)).toDF("grp", "item", "row", "bucket", "c")
    val cr = Sketches.probeCountMin(
      Sketches.countMinCells(h1, "grp", "item"), colliding).collect()
    assert(cr.length === 1 && cr.head.getAs[Long]("cms_est") >= 0L)
  }

  test("hybrid near-dup: embedding candidates verified by text jaccard") {
    def vec(xs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f); xs.foreach { case (i, v) => a(i) = v }; a.toSeq
    }
    val emb = Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> 2.0f), 0),  // co-bucketed with 0 and 2
      (2L, vec(0 -> 1.5f), 0),
      (3L, vec(1 -> 1.0f), 0))  // orthogonal — never a candidate
      .toDF("vec_id", "embedding", "label")
    val d = Seq(
      (0L, base, "en", "s0", 100L),
      (1L, base.replace("lazy", "sleepy"), "en", "s0", 100L), // text near-dup of 0
      (2L, "totally different topic discussing oceans airplanes databases " +
        "and many other unrelated things entirely", "en", "s1", 100L),
      (3L, base, "en", "s2", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.hybridNearDupPairs(d, emb, minCosine = 0.9, minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Double]("jaccard"), r.getAs[Boolean]("is_dup")))
      .toMap
    // All three same-direction vectors pair up as candidates...
    assert(out.keySet === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // ...but only the TEXT near-dup pair survives verification.
    assert(out((0L, 1L))._2 && out((0L, 1L))._1 > 0.5)
    assert(!out((0L, 2L))._2 && out((0L, 2L))._1 < 0.1)
    assert(!out((1L, 2L))._2)
    // Doc 3's text is identical to doc 0's, but its embedding is
    // orthogonal — the semantic candidate stage never surfaces it (the
    // lexical-only q25 path would; the two recalls are complementary).
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("hybrid near-dup drops candidate pairs touching shingle-less docs") {
    def vec(xs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f); xs.foreach { case (i, v) => a(i) = v }; a.toSeq
    }
    // Docs 0 and 1 are strong embedding candidates, but doc 1 has fewer
    // than k=3 words → zero shingles. The oracle's shingle CTE emits no
    // row for it, so the pair must be DROPPED, not emitted with n_b=0
    // (where both-short pairs would make jaccard 0/0 = NaN and NaN >=
    // 0.5 is TRUE under NaN-is-largest ordering — a phantom dup).
    val emb = Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> 1.1f), 0),
      (2L, vec(0 -> 0.9f), 0))
      .toDF("vec_id", "embedding", "label")
    val d = Seq(
      (0L, base, "en", "s0", 100L),
      (1L, "hi there", "en", "s0", 8L), // 2 words < k=3 → no shingles
      (2L, base.replace("lazy", "sleepy"), "en", "s0", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.hybridNearDupPairs(d, emb, minCosine = 0.9, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(out === Set((0L, 2L)))
  }

  test("semantic dedup drops higher-id near-twins within a bucket, reports the canonical") {
    def vec(xs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f); xs.foreach { case (i, v) => a(i) = v }; a.toSeq
    }
    val e = Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> 2.0f), 0),  // same direction as 0 → cosine 1, same bucket
      (2L, vec(0 -> -1.0f), 0), // antipodal → cosine -1 even if co-bucketed
      (3L, vec(1 -> 1.0f), 0))  // orthogonal
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(e, minCosine = 0.9)
      .orderBy("vec_id").collect()
    assert(out.length === 4)
    assert(out(0).getAs[Boolean]("kept"))
    assert(!out(1).getAs[Boolean]("kept"))
    assert(out(1).getAs[Long]("dup_of") === 0L)
    assert(out(1).getAs[Double]("cosine") === 1.0)
    assert(out(2).getAs[Boolean]("kept"))
    assert(out(3).getAs[Boolean]("kept"))
  }

  test("canonicalDuplicates merges formatting-only variants that exact hashing misses") {
    val d = Seq(
      (0L, "Hello, World!", "en", "s0", 13L),
      (1L, "hello   world", "en", "s0", 13L),
      (2L, "hello world", "en", "s0", 11L),
      (3L, "different text", "en", "s1", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.canonicalDuplicates(d).collect()
    assert(out.length === 2)
    val merged = out.find(_.getAs[Long]("n_docs") == 3L).get
    assert(merged.getAs[Long]("canonical_id") === 0L)
    // three distinct raw texts collapsed into one canonical form
    assert(merged.getAs[Long]("n_variants") === 3L)
    val single = out.find(_.getAs[Long]("n_docs") == 1L).get
    assert(single.getAs[Long]("n_variants") === 1L)
  }

  test("editVerifiedPairs scores LSH candidates by bounded-prefix edit distance") {
    val typo = base.replace("lazy", "hazy") // one character edit
    val d = Seq(
      (0L, base, "en", "s0", base.length.toLong),
      (1L, typo, "en", "s0", typo.length.toLong),
      (3L, "completely different words about databases and airplanes and " +
        "oceans with nothing shared beyond articles", "en", "s2", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.editVerifiedPairs(d).collect()
    assert(out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet === Set((0L, 1L)))
    assert(out.head.getAs[Long]("lev") === 1L)
    assert(out.head.getAs[Double]("sim") > 0.99)
  }

  test("centroidOutliers ranks vectors least aligned with their label centroid") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Seq(0.95f, 0.05f, 0.0f, 0.0f), 0),
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f), 0), // anti-aligned outlier
      (4L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (5L, Seq(0.0f, 0.9f, 0.1f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(e, bottomK = 2).collect()
    val worst0 = out.filter(r => r.getAs[Int]("label") == 0 && r.getAs[Int]("rnk") == 1).head
    assert(worst0.getAs[Long]("vec_id") === 3L)
    // leave-one-out: vec 3 vs the centroid of 0,1,2 only — anti-aligned up
    // to the quantized dim-1 residual the other members contribute
    assert(worst0.getAs[Double]("cosine") < -0.99)
    assert(out.count(_.getAs[Int]("label") == 0) === 2)
    assert(out.count(_.getAs[Int]("label") == 1) === 2)
  }

  test("hardNegatives returns only different-label neighbors ranked by exact dot product") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0), // the query
      (1L, Seq(1.0f, 0.1f, 0.0f, 0.0f), 0), // same label — excluded however close
      (2L, Seq(0.9f, 0.0f, 0.0f, 0.0f), 1), // closest hard negative
      (3L, Seq(0.5f, 0.5f, 0.0f, 0.0f), 1),
      (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(e, numQueries = 1, k = 3).collect()
    assert(out.forall(r => r.getAs[Int]("neighbor_label") != r.getAs[Int]("query_label")))
    assert(out.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("neighbor_id")).toSeq
      === Seq(2L, 3L, 4L))
    assert(!out.exists(_.getAs[Long]("neighbor_id") == 1L))
  }

  test("randomProject computes the exact md5-sign projection; zero vector maps to zero") {
    val e = Seq(
      (0L, Seq(1.0f, 2.0f, -1.0f, 0.5f), 0),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val signs = Similarity.projectionSigns(2, 4)
    assert(signs.flatten.forall(s => s == 1L || s == -1L))
    assert(signs === Similarity.projectionSigns(2, 4), "content-independent and reproducible")
    val out = Similarity.randomProject(e, outDim = 2, dim = 4).orderBy("vec_id").collect()
    val qe = Seq(1000000L, 2000000L, -1000000L, 500000L)
    val expected = signs.map(row => row.zip(qe).map { case (s, x) => s * x }.sum)
    assert(out(0).getSeq[Long](out(0).fieldIndex("proj")).toList === expected.toList)
    assert(out(0).getAs[Long]("pn2") === expected.map(p => p * p).sum)
    assert(out(1).getSeq[Long](out(1).fieldIndex("proj")).toList === List(0L, 0L))
  }

  test("gramMatrix sufficient statistics match the brute-force outer product") {
    val vecs = Seq(
      (0L, Seq(1.0f, -2.0f, 3.0f)),
      (1L, Seq(0.5f, 0.0f, -1.5f)),
      (2L, Seq(2.0f, 1.0f, 0.0f)))
    val e = vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
    val out = Similarity.gramMatrix(e).collect()
      .map(r => (r.getAs[Int]("dim_i"), r.getAs[Int]("dim_j")) -> r).toMap
    assert(out.size === 6, "upper triangle of a 3x3 only")
    val q = vecs.map(_._2.map(x => math.floor(x.toDouble * 1e6).toLong))
    for (i <- 0 until 3; j <- i until 3) {
      val r = out((i, j))
      assert(r.getAs[Long]("n_vecs") === 3L)
      assert(r.getAs[Long]("sum_i") === q.map(_(i)).sum)
      assert(r.getAs[Long]("sum_j") === q.map(_(j)).sum)
      assert(r.getAs[Long]("sum_prod") === q.map(v => v(i) * v(j)).sum)
    }
  }

  test("hammingSearch shortlists by popcount then re-ranks by exact dot product") {
    def v(x: Float*): Seq[Float] = x ++ Seq.fill(64 - x.length)(1.0f)
    val e = Seq(
      (0L, Seq.fill(64)(1.0f), 0),          // query: all +1
      (1L, v(-1.0f), 0),                    // hamming 1, dp = 62e12
      (2L, Seq.fill(64)(0.5f), 0),          // hamming 0, dp = 32e12
      (3L, Seq.fill(64)(-1.0f), 0))         // hamming 64 — outside shortlist 2
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hammingSearch(e, numQueries = 1, k = 2, shortlist = 2)
      .orderBy("rnk").collect()
    // Exact re-rank promotes vec 1 over the hamming-0 vec 2.
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
    assert(out.map(_.getAs[Int]("hamming")).toSeq === Seq(1, 0))
    assert(out.map(_.getAs[Long]("dp")).toSeq === Seq(62000000000000L, 32000000000000L))
    assert(!out.exists(_.getAs[Long]("neighbor_id") == 3L))
  }

  test("mmrDiversify penalizes near-duplicates of already-selected results") {
    // Query (1,0,0,0). vec 1 and its exact copy vec 3 are the most
    // relevant (rel 2e12); vec 2 is off-axis (rel 6e11). Greedy trace:
    //   step 1: vec 1 (pure relevance).
    //   step 2: vec 2 — score 50·6e11 − 50·1.2e12 = −3e13 beats the
    //           copy's 50·2e12 − 50·4e12 = −1e14. Diversity wins.
    //   step 3: vec 3, max_sel_dp = 4e12 (sim to vec 1).
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(2.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.6f, 0.8f, 0.0f, 0.0f), 0),
      (3L, Seq(2.0f, 0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrDiversify(e, numQueries = 1, candidates = 3, k = 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
    val r1 = out(0)
    assert(r1.getAs[Long]("rel_dp") === 2000000000000L)
    assert(r1.isNullAt(r1.fieldIndex("max_sel_dp")) && r1.isNullAt(r1.fieldIndex("mmr_score")))
    val r2 = out(1)
    assert(r2.getAs[Long]("rel_dp") === 600000000000L)
    assert(r2.getAs[Long]("max_sel_dp") === 1200000000000L)
    assert(r2.getAs[Long]("mmr_score") === -30000000000000L)
    val r3 = out(2)
    assert(r3.getAs[Long]("max_sel_dp") === 4000000000000L)
    assert(r3.getAs[Long]("mmr_score") === -100000000000000L)
  }

  test("annRecall counts hits against exact ground truth and reports the first miss") {
    import org.apache.spark.sql.functions.{col => c}
    def res(rows: (Long, Long, Int)*) =
      rows.toDF("query_id", "neighbor_id", "rnk")
    val exact = res((0L, 1L, 1), (0L, 2L, 2), (0L, 3L, 3), (1L, 7L, 1), (1L, 8L, 2))
    val approx = res((0L, 1L, 1), (0L, 3L, 2), (0L, 9L, 3), (1L, 7L, 1), (1L, 8L, 2))
    val out = Similarity.annRecall(approx, exact, k = 3).orderBy(c("query_id")).collect()
    val q0 = out(0)
    assert(q0.getAs[Long]("n_exact") === 3L && q0.getAs[Long]("n_hit") === 2L)
    assert(q0.getAs[Int]("first_missed_rank") === 2, "exact rank 2 (vec 2) was missed")
    assert(q0.getAs[Double]("recall") === 2.0 / 3.0)
    val q1 = out(1)
    assert(q1.getAs[Long]("n_hit") === 2L && q1.getAs[Double]("recall") === 1.0)
    assert(q1.isNullAt(q1.fieldIndex("first_missed_rank")))
  }

  test("containmentPairs catches a quote jaccard misses, in ONE direction only") {
    val d = Seq(
      (0L, "a b c d e", "en", "s", 9L),                         // the quoted doc
      (1L, "x y z a b c d e p q r", "en", "s", 21L),            // quotes doc 0
      (2L, "m n o f g", "en", "s", 9L))                         // unrelated
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.containmentPairs(d).collect()
    assert(out.length === 1, "only 0-quoted-in-1; the reverse direction is 3/9 < 80%")
    val r = out.head
    assert(r.getAs[Long]("src_doc") === 0L && r.getAs[Long]("dst_doc") === 1L)
    assert(r.getAs[Long]("n_common") === 3L)
    assert(r.getAs[Long]("n_src") === 3L && r.getAs[Long]("n_dst") === 9L)
    assert(r.getAs[Double]("containment") === 1.0)
    // jaccard for the same pair is 3/9 — below prefixFilterPairs' 50%.
    assert(Dedup.prefixFilterPairs(d).collect().isEmpty)
  }

  test("prefixFilterPairs finds EXACTLY the brute-force jaccard>=50% pairs") {
    def mk(id: Long, words: String) =
      (id, words, "en", "s", words.length.toLong)
    val d = Seq(
      mk(0L, "a b c d e f"),
      mk(1L, "a b c d e g"),   // J(0,1) = 3/5
      mk(2L, "a b c x y z"),   // J(0,2) = 1/7
      mk(3L, "a b c d e f"),   // J(0,3) = 1, J(1,3) = 3/5
      mk(4L, "p q r s t u"))   // disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.prefixFilterPairs(d)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_common"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))).toSeq
    assert(got === Seq((0L, 1L, 3L, 4L, 4L), (0L, 3L, 4L, 4L, 4L), (1L, 3L, 3L, 4L, 4L)))
  }

  test("sourceOverlapMatrix counts shared distinct shingles per source pair") {
    val d = Seq(
      (0L, "a b c d", "A", 7L),   // shingles: "a b c", "b c d"
      (1L, "a b c x", "B", 7L),   // shingles: "a b c", "b c x"
      (2L, "p q r s", "C", 7L))   // disjoint
      .map { case (id, t, s, n) => (id, t, "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.sourceOverlapMatrix(d).collect()
    assert(out.length === 1, "only the A-B pair shares a shingle")
    val r = out.head
    assert(r.getAs[String]("src_a") === "A" && r.getAs[String]("src_b") === "B")
    assert(r.getAs[Long]("n_shared") === 1L)
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Double]("jaccard") === 1.0 / 3.0)
  }

  test("ivfPqResidualSearch: exact ADC distances when residuals hit codewords exactly") {
    // dim 4, m=2 (2-dim subspaces), 2 centroids (vecs 0,1), 4 residual
    // codewords (vecs 0..3). Quantized (floor(f32·1e6)): 0.9f → 899999,
    // 0.1f/0.2f/0.8f → 100000/200000/800000 exactly.
    // Cell 0 = {0, 2, 4, 6}; query 0's residual is the zero vector, so
    // every ADC entry is the codeword's own squared norm:
    //   vec 2 and its copy 4 code to residual codeword r2 with d2 = 0 →
    //   ADC = |r2|² = 100001² + 100000² = 20000200001; vec 6's residual
    //   (−200000, 200000) also snaps to r2 → same ADC. Three-way tie,
    //   broken by vec_id.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (3L, Seq(0.1f, 0.9f, 0.0f, 0.0f), 0),
      (4L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (5L, Seq(0.1f, 0.9f, 0.0f, 0.0f), 0),
      (6L, Seq(0.8f, 0.2f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfPqResidualSearch(
        e, numQueries = 1, k = 3, numCentroids = 2, nProbe = 1, m = 2, codes = 4)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(2L, 4L, 6L))
    assert(out.map(_.getAs[Long]("adc_d2")).toSeq
      === Seq(20000200001L, 20000200001L, 20000200001L))
  }

  test("rrfFuse sums exact reciprocal-rank contributions from disagreeing rankers") {
    // Cosine and L2 order DISAGREE: vec 1 is the query's direction at 5x
    // magnitude (cosine rank 1, L2 worst), vec 2 is slightly off-direction
    // at near-identical magnitude (L2 rank 1).
    val e = Seq(
      (0L, Seq(1.0f, 0.0f), 9),
      (1L, Seq(5.0f, 0.0f), 9),
      (2L, Seq(0.8f, 0.1f), 9),
      (3L, Seq(-1.0f, -1.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.rrfFuse(e, numQueries = 1, depth = 3, k = 3, rrfK = 60)
      .orderBy("rnk").collect()
    // cos ranks: 1->1, 2->2, 3->3; L2 ranks: 2->1, 3->2, 1->3.
    def c(r: Long) = 1000000000L / (60L + r)
    val expected = Seq(
      (2L, c(2) + c(1)), // 32522474
      (1L, c(1) + c(3)), // 32266457
      (3L, c(3) + c(2))) // 32002047
    assert(out.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rrf_score"))).toSeq
      === expected)
    assert(out.map(_.getAs[Int]("cos_rank")).toSeq === Seq(2, 1, 3))
    assert(out.map(_.getAs[Int]("l2_rank")).toSeq === Seq(1, 3, 2))
  }

  test("marginBitextPairs: mutual one-to-one, side-correct, and matches brute-force replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dim = 64
    // Classes 2k and 2k+1 share a base pattern, so true cross-side
    // partners exist and co-bucket; noise keeps dots distinct.
    val rows = (0 until 60).map { i =>
      val c = i % 6
      val v = (0 until dim).map { d =>
        val base = if (((c / 2) * dim + d) % 7 < 3) 1.0f else -1.0f
        base + 0.08f * (((i * 31 + d * 17) % 11) - 5) / 5.0f
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    val mined = Similarity.marginBitextPairs(rows, pmod(col("label"), lit(2)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(mined.nonEmpty, "fixture should mine at least one pair")
    // Mutual argmax => one-to-one on both sides; sides respected.
    assert(mined.map(_._1).distinct.length === mined.length)
    assert(mined.map(_._2).distinct.length === mined.length)
    assert(mined.forall { case (a, b, _, _) => a % 6 % 2 == 0 && b % 6 % 2 == 1 })
    // Brute-force replay of the definition over the collected fixture.
    val bucketed = Similarity.signBuckets(rows)
      .select("vec_id", "label", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val qe = rows.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val aS = bucketed.filter(_._2 % 2 == 0); val bS = bucketed.filter(_._2 % 2 == 1)
    val cand = for {
      (a, _, ba) <- aS; (b, _, bb) <- bS if ba == bb
    } yield (a, b, qe(a).zip(qe(b)).map { case (x, y) => x * y }.sum)
    val P = 1000000000000000L
    def avgOf(top: Seq[Long]): Long = -P + (top.sum + top.length * P) / top.length
    val avgA = cand.groupBy(_._1).map { case (a, cs) =>
      a -> avgOf(cs.sortBy(c => (-c._3, c._2)).take(4).map(_._3).toSeq) }
    val avgB = cand.groupBy(_._2).map { case (b, cs) =>
      b -> avgOf(cs.sortBy(c => (-c._3, c._1)).take(4).map(_._3).toSeq) }
    val margins = cand.map { case (a, b, dp) => (a, b, dp, 2 * dp - avgA(a) - avgB(b)) }
    val bestPerA = margins.groupBy(_._1).map { case (_, ms) => ms.minBy(m => (-m._4, m._2)) }.toSet
    val bestPerB = margins.groupBy(_._2).map { case (_, ms) => ms.minBy(m => (-m._4, m._1)) }.toSet
    val expect = (bestPerA intersect bestPerB).filter(_._4 > 0)
    assert(mined.toSet === expect, s"mined=${mined.toSet}\nexpect=$expect")
  }

  /** The engine's 60-bit digest of a word window (md5 of the space-joined
    * words, first 8 bytes big-endian, >>> 4) replicated independently.
    */
  private def dig60(words: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = md.digest(words.mkString(" ").getBytes("UTF-8"))
    val be = java.nio.ByteBuffer.wrap(b).getLong(0)
    be >>> 4
  }

  /** Reference winnowing model: k-gram digests, rightmost min of every
    * complete w-window, distinct (pos, digest) selections.
    */
  private def winnowModel(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    val ws = text.trim.split("\\s+").toSeq
    val grams = (0 to ws.length - k).map(i => dig60(ws.slice(i, i + k)))
    (0 to grams.length - w).flatMap { i =>
      val win = grams.slice(i, i + w)
      val m = win.min
      val rightmost = i + win.lastIndexOf(m)
      Some((rightmost, m))
    }.toSet
  }

  test("winnowingFingerprints equals the independent winnowing model per document") {
    val texts = Map(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      1L -> "one two three four five six seven eight",
      2L -> "rep rep rep rep rep rep rep rep", // all-equal digests: tie-breaks
      3L -> "tiny doc only") // 1 gram < w -> absent
    val docs = texts.toSeq.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.winnowingFingerprints(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(3L), "a doc with fewer than w grams selects nothing")
    for (id <- Seq(0L, 1L, 2L)) {
      val model = winnowModel(texts(id), 3, 4)
      val r = out(id)
      val nGrams = texts(id).trim.split("\\s+").length - 2
      assert(r.getAs[Long]("n_grams") === nGrams.toLong)
      assert(r.getAs[Long]("n_windows") === (nGrams - 3).toLong)
      assert(r.getAs[Long]("n_fp") === model.size.toLong, s"doc $id")
      assert(r.getAs[Long]("fp_xor") === model.toSeq.map(_._2).reduce(_ ^ _), s"doc $id")
      assert(r.getAs[Long]("fp_min") === model.map(_._2).min, s"doc $id")
      assert(r.getAs[Long]("fp_max") === model.map(_._2).max, s"doc $id")
      // Winnowing density bound: one selection serves at most w windows.
      assert(r.getAs[Long]("n_fp") >= ((nGrams - 3) + 3) / 4)
    }
  }

  test("winnowingMatches catches any shared w+k-1 run (the published guarantee)") {
    // Docs 0 and 1 share the 6-token run (w + k - 1 = 6 at defaults)
    // embedded in otherwise-disjoint text; doc 2 shares nothing.
    val shared = "red orange yellow green blue indigo"
    val docs = Seq(
      (0L, s"aa bb cc dd $shared ee ff gg hh"),
      (1L, s"qq ww rr tt $shared uu vv xx yy"),
      (2L, "zz z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.winnowingMatches(docs, minShared = 1L).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(pairs.contains((0L, 1L)),
      "a shared w+k-1 token run must produce at least one shared fingerprint")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("hammingNearDupPairs: differential vs brute force across maxDist, dup-free") {
    val hs = (0 until 60).map(i => (i.toLong, ((i * 2654435761L) ^ (i.toLong << 13)) & 0xFFFFFFFFL))
    val df = hs.toDF("doc_id", "dhash")
    for (d <- Seq(0, 3, 6)) {
      val fast = Dedup.hammingNearDupPairs(df, bits = 32, maxDist = d).collect()
        .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"), r.getAs[Long]("dist")))
      assert(fast.length === fast.distinct.length, s"maxDist=$d emitted a pair twice")
      val brute = (for {
        (a, ha) <- hs; (b, hb) <- hs if a < b
        dist = java.lang.Long.bitCount(ha ^ hb) if dist <= d
      } yield (a, b, dist.toLong)).sorted
      assert(fast.sorted.toSeq === brute, s"maxDist=$d")
    }
  }

  test("editDistancePairs: differential vs brute force, dup-free, both maxDist") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // "ab"/"ba" (ed 2, shares BOTH delete keys "a" and "b") exercises the
    // least-shared-key once-emission; "scan"/"scans"/"spans" a transitive
    // chain; "xyz" an isolate.
    val vocab = Seq("cat", "cut", "cart", "act", "cast", "ab", "ba",
      "scan", "scans", "spans", "xyz", "window", "windows", "widow")
    val df = vocab.toDF("w")
    for (d <- Seq(1, 2)) {
      val fast = Dedup.editDistancePairs(df, maxDist = d).collect()
        .map(r => (r.getAs[String]("wa"), r.getAs[String]("wb"), r.getAs[Long]("dist")))
      assert(fast.length === fast.distinct.length, s"maxDist=$d emitted a pair twice")
      val brute = (for {
        a <- vocab; b <- vocab if a < b
        dist = lev(a, b) if dist <= d
      } yield (a, b, dist.toLong)).sorted
      assert(fast.sorted.toSeq === brute, s"maxDist=$d")
    }
  }

  test("editDistancePairs feeds dedupClusters: string keys canonicalize to the least word") {
    // {window, windows, widow} chain (widow-windows only meet at ed 2 via
    // window — the transitive case CC exists for); {qqqq, qqqqq} a far
    // island; abcabc an isolate that must not appear.
    val vocab = Seq("window", "windows", "widow", "qqqq", "qqqqq", "abcabc")
    val pairs = Dedup.editDistancePairs(vocab.toDF("w"))
      .select(
        org.apache.spark.sql.functions.col("wa").as("doc_a"),
        org.apache.spark.sql.functions.col("wb").as("doc_b"))
    val out = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[String]("canonical_id"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(out("window") === (("widow", 3L)))
    assert(out("windows") === (("widow", 3L)))
    assert(out("widow") === (("widow", 3L)))
    assert(out("qqqq") === (("qqqq", 2L)))
    assert(out("qqqqq") === (("qqqq", 2L)))
    assert(!out.contains("abcabc"))
  }

  test("kmvOverlap: below-k path is exact on both union and intersection") {
    val a = (1L to 10L).toDF("key")
    val b = (6L to 15L).toDF("key")
    val r = graft.functions.Sketches.kmvOverlap(a, b, "key", k = 64).collect().head
    assert(r.getAs[Long]("k_union") === 15L)
    assert(r.getAs[Long]("k_common") === 5L)
    assert(r.getAs[Long]("jaccard_ppm") === 333333L)
    assert(r.getAs[Double]("est_union") === 15.0)
    assert(r.getAs[Double]("est_common") === 5.0)
  }

  test("kmvOverlap: sketched estimates land in the ~1/sqrt(k) band on a 3000-key union") {
    val a = (0L until 2000L).toDF("key")
    val b = (1000L until 3000L).toDF("key") // union 3000, common 1000
    val r = graft.functions.Sketches.kmvOverlap(a, b, "key", k = 256).collect().head
    assert(r.getAs[Long]("k_union") === 256L)
    assert(math.abs(r.getAs[Double]("est_union") - 3000.0) < 600.0)
    assert(math.abs(r.getAs[Double]("est_common") - 1000.0) < 350.0)
  }

  test("embeddingDrift: exact per-dim sums and the mean-shift numerator") {
    val a = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val b = Seq((2L, Seq(5.0f, 6.0f))).toDF("vec_id", "embedding")
    val out = Similarity.embeddingDrift(a, b).collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    assert(out(0).getAs[Long]("n_a") === 2L && out(0).getAs[Long]("n_b") === 1L)
    assert(out(0).getAs[Long]("sum_a") === 4000000L)
    assert(out(0).getAs[Long]("sum_b") === 5000000L)
    // 1·4e6 − 2·5e6 = −6e6 (shift/(n_a·n_b) = −3 in quant units = mean_a − mean_b).
    assert(out(0).getAs[Long]("shift_num") === -6000000L)
    assert(out(1).getAs[Long]("shift_num") === -6000000L)
  }

  private def pcCloud = Seq(
    (0L, Seq(0.1f, 2.0f, 0.0f, 0.0f)),
    (1L, Seq(-0.1f, -2.0f, 0.0f, 0.0f)),
    (2L, Seq(0.1f, 1.5f, 0.0f, 0.0f)),
    (3L, Seq(-0.1f, -1.5f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("topPcVector: dominant axis at full scale, correlated noise small, dead dims zero") {
    val (n, v, sums) = Similarity.topPcVector(pcCloud, iters = 12, dim = 4)
    assert(n === 4L)
    assert(v(1) === 10000L, "variance concentrates on dim 1 -> full component scale")
    assert(v(0) > 0L && v(0) < 1000L, "dim 0 rides along (positively correlated, small)")
    assert(v(2) === 0L && v(3) === 0L)
    assert(sums(1) === (2000000L - 2000000L + 1500000L - 1500000L))
    // Partitioning invariance: exact integer sufficient statistics.
    val (_, v7, _) = Similarity.topPcVector(pcCloud.repartition(7), iters = 12, dim = 4)
    assert(v7.toSeq === v.toSeq)
  }

  test("topPrincipalComponent: centered projections sum to exactly zero, ordered by the axis") {
    val out = Similarity.topPrincipalComponent(pcCloud, iters = 12, dim = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("proj"), r.getAs[Long]("proj_centered_xn"))).toMap
    assert(out.values.map(_._2).sum === 0L)
    // Projections order with the dominant coordinate: 0 > 2 > 3 > 1.
    assert(out(0L)._1 > out(2L)._1 && out(2L)._1 > out(3L)._1 && out(3L)._1 > out(1L)._1)
  }

  test("knnDistOutliers: exact scores and ranks, differential vs brute-force model") {
    val vecs = ((0 until 11).map(i => (i.toLong, Seq(i * 0.001f, 0f, 0f, 0f))) :+
      (11L, Seq(5f, 5f, 5f, 5f))) // the lone far point
    val df = vecs.toDF("vec_id", "embedding")
    val k = 3
    // Brute-force model on the same floor(x*1e6) quantization.
    val q = vecs.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * 1e6).toLong) }.toMap
    def d2(a: Long, b: Long): Long =
      q(a).zip(q(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val model = vecs.map(_._1).map { id =>
      val ds = vecs.map(_._1).filter(_ != id).map(o => (d2(id, o), o)).sorted.take(k)
      (id, ds.map(_._1).max, ds.map(_._1).sum)
    }
    val ranked = model.sortBy { case (id, kd, _) => (-kd, id) }.zipWithIndex
      .map { case ((id, kd, sm), i) => id -> ((kd, sm, i + 1L, i + 1L <= model.size / 6)) }.toMap
    val got = Similarity.knnDistOutliers(df, k = k, outShare = 6).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("kdist2"), r.getAs[Long]("sum_d2"),
          r.getAs[Long]("out_rank"), r.getAs[Boolean]("is_outlier")))).toMap
    assert(got === ranked)
    // Sanity: the far point is the rank-1 outlier and flagged (12 div 6 = 2 flags).
    assert(got(11L)._3 === 1L && got(11L)._4)
    assert(got.values.count(_._4) === 2)
  }

  test("knnDistOutliersLsh: equals the exact arm when one bucket holds the corpus; shortlist scores dominate in general") {
    // All vectors on the SAME ray (+e1, scaled): every plane projection
    // has the same sign for every vector, so all 12 land in ONE bucket,
    // the shortlist candidate set is complete, and the LSH arm must
    // reproduce the exact arm row for row — the differential that pins
    // the shared rank machinery AND the candidate join at once.
    val ray = ((0 until 11).map(i => (i.toLong, Seq((i + 1) * 0.001f, 0f, 0f, 0f))) :+
      (11L, Seq(5f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kdist2"), r.getAs[Long]("sum_d2"),
        r.getAs[Long]("out_rank"), r.getAs[Boolean]("is_outlier"))).sortBy(_._1).toSeq
    assert(
      rowsOf(Similarity.knnDistOutliersLsh(ray, k = 3, outShare = 6, numPlanes = 8, dim = 4)) ===
        rowsOf(Similarity.knnDistOutliers(ray, k = 3, outShare = 6)))
    // General fixture (mixed directions → real bucketing): the shortlist
    // candidate set is a SUBSET of all pairs, so each vector's k-th
    // smallest candidate distance can only dominate the exact one.
    val mixed = (0 until 24).map { i =>
      (i.toLong, Seq(
        (if (i % 3 == 0) 1f else -1f) * (1f + i * 0.01f),
        (if (i % 2 == 0) 1f else -1f) * 0.5f,
        0.25f * (i % 5), -0.7f + 0.05f * i))
    }.toDF("vec_id", "embedding")
    val exactKd = Similarity.knnDistOutliers(mixed, k = 2, outShare = 6)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("kdist2")).toMap
    val lshRows = Similarity.knnDistOutliersLsh(
      mixed, k = 2, outShare = 6, numPlanes = 8, dim = 4).collect()
    assert(lshRows.nonEmpty)
    // Dominance holds only where the shortlist offers ≥ k candidates
    // (with fewer, kdist2 is the max of what exists — documented).
    val nCands = Similarity.lshCandidatePairs(mixed, numPlanes = 8, dim = 4)
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lshRows.exists(r => nCands(r.getAs[Long]("vec_id")) >= 2),
      "fixture must exercise the dominance branch")
    lshRows.foreach { r =>
      val (id, kd) = (r.getAs[Long]("vec_id"), r.getAs[Long]("kdist2"))
      if (nCands(id) >= 2)
        assert(kd >= exactKd(id),
          s"shortlist kdist2 $kd below the exact kdist2 ${exactKd(id)} for vec $id")
    }
  }

  test("knnEdgesLsh: equals the exact edge build when one bucket holds the corpus") {
    val ray = ((0 until 11).map(i => (i.toLong, Seq((i + 1) * 0.001f, 0f, 0f, 0f))) :+
      (11L, Seq(5f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def edgesOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nb"))).toSet
    assert(
      edgesOf(Similarity.knnEdgesLsh(ray, degree = 3, numPlanes = 8, dim = 4)) ===
        edgesOf(Similarity.knnEdgesExact(ray, degree = 3)))
  }

  // Independent model of the 60-bit md5 slice (the differential pin the
  // Md5Long60 expression already carries, re-derived here from
  // java.security so the chunker test shares no code with the engine).
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Brute-force CDC model: (chunk_idx, start_pos, n_words, dig). */
  private def modelChunks(text: String, modulus: Int): Seq[(Long, Long, Long, Long)] = {
    val ws = text.trim.split("\\s+", -1).toSeq
    val n = ws.length
    val bpos = (1 until n).filter(i => h60(ws(i - 1)) % modulus == 0)
    val starts = 1L +: bpos.map(_ + 1L)
    val ends = bpos.map(_.toLong) :+ n.toLong
    starts.zip(ends).zipWithIndex.map { case ((s, e), i) =>
      (i.toLong, s, e - s + 1,
        h60(ws.slice(s.toInt - 1, e.toInt).mkString(" ")))
    }
  }

  test("contentDefinedChunks: differential vs the brute-force model, incl. degenerate docs") {
    val words = (0 until 80).map(i => s"tok$i").mkString(" ")
    val cdcDocs = Seq(
      (0L, words, "en", "s0", words.length.toLong),
      (1L, "", "en", "s0", 0L), // empty doc: one chunk of the empty token
      (2L, "  \t  ", "en", "s0", 5L), // whitespace-only: same shape
      (3L, "single", "en", "s0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.contentDefinedChunks(cdcDocs, modulus = 4)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_pos"),
        r.getAs[Long]("n_words"), r.getAs[Long]("dig"))).sortBy(_._1).toSeq).toMap
    // Deterministic fixture sanity: the 80-token doc must actually chunk.
    assert(modelChunks(words, 4).length >= 3, "fixture must produce multiple chunks")
    assert(got(0L) === modelChunks(words, 4))
    assert(got(1L) === modelChunks("", 4))
    assert(got(2L) === modelChunks("  \t  ", 4))
    assert(got(3L) === modelChunks("single", 4))
    // Chunks partition each document: contiguous spans, full coverage.
    got(0L).sliding(2).foreach { case Seq(a, b) => assert(b._2 === a._2 + a._3); case _ => }
    assert(got(0L).map(_._3).sum === 80L)
  }

  test("cdcDedup: differential vs model — whole shared chunks dropped at shifted offsets") {
    val words = (0 until 60).map(i => s"tok$i").mkString(" ")
    val boiler = (0 until 30).map(i => s"bp$i").mkString(" ")
    val cdcDocs = Seq(
      (0L, s"$words $boiler", "en", "s0", 0L),
      (1L, s"off one two three $boiler", "en", "s1", 0L), // boiler shifted
      (2L, "solo words only here", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Independent model: chunks, cross-doc df, drop, rebuild.
    val texts = Map(0L -> s"$words $boiler", 1L -> s"off one two three $boiler",
      2L -> "solo words only here")
    def chunksWithText(t: String) = {
      val ws = t.trim.split("\\s+", -1).toSeq
      modelChunks(t, 4).map { case (i, s, nw, dig) =>
        (i, dig, ws.slice(s.toInt - 1, (s + nw - 1).toInt).mkString(" "))
      }
    }
    val all = texts.view.mapValues(chunksWithText).toMap
    val df = all.values.flatten.groupBy(_._2).view
      .mapValues(cs => all.count { case (_, ch) => ch.exists(c => c._2 == cs.head._2) }).toMap
    val expected = all.map { case (id, cs) =>
      val kept = cs.filter(c => df(c._2) <= 1)
      id -> ((cs.size.toLong, (cs.size - kept.size).toLong, kept.map(_._3).mkString(" ")))
    }
    // The shift property must actually engage: both docs shed chunks.
    assert(expected(0L)._2 > 0L && expected(1L)._2 > 0L,
      "fixture must drop shared boiler chunks in both docs")
    assert(expected(2L)._2 === 0L)
    val got = Dedup.cdcDedup(cdcDocs, modulus = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text")))).toMap
    assert(got === expected)
  }

  test("chunkDuplicates: boundaries survive an offset shift (all-but-first chunks shared)") {
    val words = (0 until 80).map(i => s"tok$i").mkString(" ")
    val shifted = "noiseA noiseB noiseC " + words
    val two = Seq(
      (0L, words, "en", "s0", words.length.toLong),
      (1L, shifted, "en", "s1", shifted.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val model0 = modelChunks(words, 4)
    val model1 = modelChunks(shifted, 4)
    val dups = Dedup.chunkDuplicates(two, modulus = 4).collect()
      .map(r => r.getAs[Long]("dig") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"))).toMap
    // The CDC property: every chunk of doc0 past the first boundary has a
    // byte-identical twin in the shifted doc (fixed windows would shift).
    val digs1 = model1.map(_._4).toSet
    model0.tail.foreach { case (_, _, _, dig) =>
      assert(digs1.contains(dig) && dups(dig) === ((2L, 2L)))
    }
    // And the engine's inventory is EXACTLY the two models' overlap (the
    // head chunk joins it only if a noise word happens to end a chunk).
    val expected = (model0 ++ model1).groupBy(_._4)
      .collect { case (dig, cs) if cs.size > 1 => dig -> ((2L, cs.size.toLong)) }
    assert(dups === expected)
  }

  test("exactSubstrDedup equals the brute-force ExactSubstr model (occurrence-based, all copies stripped)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val L = 4
    // doc 10 repeats a 5-token phrase internally (self-repeat: covered at
    // L=4 because both occurrences' windows collide); docs 11/12 share a
    // 6-token span at different offsets (cross-doc); doc 13 is clean;
    // doc 14 is shorter than L (no windows at all).
    val texts = Seq(
      10L -> "alpha beta gamma delta eps zeta alpha beta gamma delta eps end",
      11L -> "one two three four five six seven tail tail2",
      12L -> "head zero one two three four five six last",
      13L -> "completely unique words nowhere else repeated at all here",
      14L -> "tiny doc")
    val docs = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // Brute model: count every L-gram occurrence globally; a position is
    // stripped iff some window containing it occurs > 1 time anywhere.
    val toks = texts.map { case (id, t) => id -> t.split("\\s+").toSeq }
    val grams = toks.flatMap { case (id, ws) =>
      ws.sliding(L).zipWithIndex.filter(_._1.size == L)
        .map { case (g, i) => (id, i, g.mkString(" ")) }.toSeq
    }
    val occ = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val markedStarts = grams.filter(g => occ(g._3) > 1)
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val expect = toks.map { case (id, ws) =>
      val starts = markedStarts.getOrElse(id, Set.empty)
      val covered = starts.flatMap(s => s until (s + L))
      val clean = ws.zipWithIndex.collect { case (w, i) if !covered(i) => w }.mkString(" ")
      // maximal regions: islands over sorted marked starts
      val sorted = starts.toSeq.sorted
      val regions = sorted.zipWithIndex.groupBy { case (s, i) => s - i }.values
        .map(_.size + L - 1).toSeq
      (id, ws.size.toLong, covered.size.toLong,
        if (regions.isEmpty) 0L else regions.max.toLong, regions.size.toLong, clean)
    }.sortBy(_._1)
    val got = Dedup.exactSubstrDedup(docs, windowLen = L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === expect)
    // The self-repeat (doc 10) and cross-doc pair (11/12) must actually
    // strip, and the clean doc must be untouched.
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L)._3 > 0, "self-repeat must be stripped (occurrence-based, not doc-frequency)")
    assert(byId(11L)._3 > 0 && byId(12L)._3 > 0, "cross-doc shared span stripped from ALL copies")
    assert(byId(13L)._3 === 0 && byId(13L)._6 === texts.toMap.apply(13L))
  }

  test("exactSubstrDedupOwned: the release handle frees the digest cache after consumption") {
    val docs = Seq(
      (0L, "a b c d e f g h a b c d e f g h", "en", "s0", 31L),
      (1L, "p q r s t u v w", "en", "s0", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bridge = org.apache.spark.sql.graft.bridge
    spark.catalog.clearCache()
    assert(!bridge.anyPlanCached(spark))
    val (out, release) = Dedup.exactSubstrDedupOwned(docs, windowLen = 8)
    assert(out.count() === 2L) // consume the frame — the cache materializes
    assert(bridge.anyPlanCached(spark),
      "the digest frame must be cached while the result is being consumed")
    release()
    assert(!bridge.anyPlanCached(spark),
      "release() must drop the digest cache — the long-lived-session bracket")
    // The plain wrapper stays behaviorally identical to the Owned frame.
    assert(Dedup.exactSubstrDedup(docs, windowLen = 8).count() === 2L)
    spark.catalog.clearCache()
  }
}
