package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TextAnalysis
import graft.operators.Multimodal
import graft.operators.Multimodal.{Bilinear, Box, Codec}

class TextMultimodalSpec extends SparkSpec {

  import spark.implicits._

  private def doc(id: Long, text: String) =
    (id, text, "en", "src", text.length.toLong)

  private def docs = Seq(
    doc(0L, "the a the join scan query table"),
    doc(1L, "x y"))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("text stats count words, letters, distinct words") {
    val r = TextAnalysis.textStats(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_words") === 7L)
    assert(r(0).getAs[Long]("n_distinct_words") === 6L)
    assert(r(0).getAs[Long]("n_letters") === 25L)
    assert(r(0).getAs[Long]("max_word_len") === 5L)
    assert(math.abs(r(0).getAs[Double]("avg_word_len") - 25.0 / 7.0) < 1e-12)
  }

  test("bigram surprise counts rare transitions against the corpus model") {
    val corpus = Seq(
      doc(0L, "a b a b a b"), // bigrams: (a b)x3, (b a)x2
      doc(1L, "a b z q"))     // bigrams: (a b), (b z), (z q)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Corpus counts: (a,b)=4, (b,a)=2, (b,z)=1, (z,q)=1; totals a·=4, b·=3, z·=1.
    val r = TextAnalysis.bigramSurprise(corpus, rareMax = 2)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_bigrams") === 5L)
    assert(r(0).getAs[Long]("n_rare") === 2L) // the two (b a) instances
    assert(r(0).getAs[Double]("rare_rate") === 0.4)
    assert(r(0).getAs[Double]("min_p") === 2.0 / 3.0) // p(a|b)
    assert(r(1).getAs[Long]("n_bigrams") === 3L)
    assert(r(1).getAs[Long]("n_rare") === 2L) // (b z) and (z q)
    assert(r(1).getAs[Double]("min_p") === 1.0 / 3.0) // p(z|b)
  }

  test("BPE training learns merges in frequency order and encoding replays them") {
    val corpus = Seq(
      doc(0L, "aab aab ab"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Word counts: aab×2, ab×1. Pair counts round 1: (a,a)=2, (a,b)=3 →
    // merge 1 = (a,b). Round 2: aab=[a,ab]×2, ab=[ab] → (a,ab)=2 →
    // merge 2 = (a,ab). Round 3: no pairs left — training stops early.
    val merges = TextAnalysis.bpeTrainMerges(corpus, numMerges = 5)
    assert(merges.map(m => (m._2, m._3, m._4)) ===
      Seq(("a", "b", 3L), ("a", "ab", 2L)))
    val enc = TextAnalysis.bpeEncodeWords(corpus, merges)
      .orderBy("pos").collect()
      .map(r => r.getAs[String]("w") -> r.getSeq[String](r.fieldIndex("pieces")))
    assert(enc(0) === ("aab" -> Seq("aab")))
    assert(enc(2) === ("ab" -> Seq("ab")))
    // Determinism: retraining yields the identical merge table.
    assert(TextAnalysis.bpeTrainMerges(corpus, numMerges = 5) === merges)
  }

  test("minCount prune: equals training on the corpus with sub-threshold words deleted; default 1 is a no-op") {
    // "xy" appears ONCE (a singleton type); "aab"/"ab" carry the mass.
    val corpus = Seq(
      doc(0L, "aab aab ab xy"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pruned = TextAnalysis.bpeTrainMerges(corpus, numMerges = 5, minCount = 2)
    // Type-table pruning at wc >= 2 ≡ deleting the singleton word's
    // occurrences from the corpus (type counts are independent).
    val deleted = Seq(doc(0L, "aab aab"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(pruned === TextAnalysis.bpeTrainMerges(deleted, numMerges = 5))
    // The prune is VISIBLE (the (x,y) pair vanishes) — it is a real
    // cutoff, not a guaranteed-identical optimization...
    val unpruned = TextAnalysis.bpeTrainMerges(corpus, numMerges = 5)
    assert(unpruned.exists(m => m._2 == "x" && m._3 == "y"))
    assert(!pruned.exists(m => m._2 == "x" && m._3 == "y"))
    // ...and the default keeps every type (what all gate queries run).
    assert(TextAnalysis.bpeTrainMerges(corpus, numMerges = 5, minCount = 1) === unpruned)
    assert(TextAnalysis.byteBpeTrainMerges(corpus, numMerges = 5, minCount = 1) ===
      TextAnalysis.byteBpeTrainMerges(corpus, numMerges = 5))
  }

  test("BPE encode replays merges once per word TYPE, joined back to occurrences") {
    // 200 occurrences of only 2 distinct words: the merge-replay UDF
    // must project the distinct-word (broadcast-built) side, never the
    // token stream — per-type cost is the whole point (Heaps' law).
    val corpus = Seq(
      doc(0L, Seq.fill(100)("aab").mkString(" ")),
      doc(1L, Seq.fill(100)("ab").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val merges = TextAnalysis.bpeTrainMerges(corpus, numMerges = 2)
    val df = TextAnalysis.bpeEncodeWords(corpus, merges)
    assert(df.count() === 200)
    // Walk the physical tree: the merge-replay expression (BpeEncode)
    // must live in the broadcast (distinct-vocab) subtree of the join,
    // never on the token-stream side. (A plan-STRING check can't see
    // it — the optimizer collapses the replay project into the distinct
    // HashAggregate's result exprs.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    def replayNodes(p: SparkPlan): Seq[SparkPlan] =
      walk(p).filter(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.expressions.BpeEncode])))
    val plan = df.queryExecution.executedPlan
    val join = walk(plan).collectFirst { case j: BroadcastHashJoinExec => j }
    assert(join.isDefined, s"no broadcast join in encode plan:\n$plan")
    assert(replayNodes(join.get.left).isEmpty,
      s"merge replay on the token-stream side — per-occurrence encode:\n$plan")
    assert(replayNodes(join.get.right).nonEmpty,
      s"no merge replay on the broadcast vocab side:\n$plan")
    // And the join preserved every occurrence with its pieces.
    val row = df.filter(col("doc_id") === 0L).select("n_pieces").distinct().collect()
    assert(row.map(_.getLong(0)).toSeq === Seq(1L)) // aab → [aab] after 2 merges
    // The open-vocabulary shuffle path (broadcastVocab=false) returns
    // the identical encoding — only the join strategy changes.
    val shuffled = TextAnalysis.bpeEncodeWords(corpus, merges, broadcastVocab = false)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Long]("n_pieces")))
    val bcast = df.orderBy("doc_id", "pos").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Long]("n_pieces")))
    assert(shuffled.toSeq === bcast.toSeq)
  }

  test("source drift ranks each source's over-represented tokens by chi2 contribution") {
    val corpus = Seq(
      (0L, "x x x x", "en", "s0", 7L),
      (1L, "y y y y", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus: x=4, y=4, total=8; each source total 4 → expected 2 each;
    // the observed token contributes (4-2)²/2 = 2.
    val r = TextAnalysis.sourceDrift(corpus).orderBy("source").collect()
    assert(r.length === 2) // only observed (source, token) pairs score
    assert(r(0).getAs[String]("token") === "x" && r(0).getAs[String]("source") === "s0")
    assert(r(0).getAs[Long]("obs") === 4L)
    assert(r(0).getAs[Double]("expected") === 2.0)
    assert(r(0).getAs[Double]("chi2_term") === 2.0)
    assert(r(1).getAs[String]("token") === "y" && r(1).getAs[Int]("rnk") === 1)
  }

  test("distinctive terms rank corpus-rare words above ubiquitous ones") {
    val corpus = Seq(
      doc(0L, "the engine the engine zebra"),
      doc(1L, "the engine the pipeline"),
      doc(2L, "the engine the shuffle"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val top = TextAnalysis.distinctiveTerms(corpus, topK = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rnk"), r.getAs[String]("term")))
    // doc 0: 'zebra' (df=1) outranks 'engine' (tf=2, df=3): 1*3/1 = 3 > 2*3/3 = 2
    assert(top.contains((0L, 1, "zebra")))
    assert(top.contains((1L, 1, "pipeline")) && top.contains((2L, 1, "shuffle")))
    // 'the' (tf=2, df=3 → score 2) ties 'engine' in doc 0; term order breaks it
    assert(top.contains((0L, 2, "engine")))
  }

  test("tokenizer handles tabs, newlines, runs of spaces, and outer whitespace") {
    val messy = Seq(doc(0L, "  the\ta  the\n\njoin   scan query\ttable "))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.textStats(messy).collect().head
    // Identical counts to the single-spaced fixture above: whitespace
    // flavor must not change tokenization.
    assert(r.getAs[Long]("n_words") === 7L)
    assert(r.getAs[Long]("n_distinct_words") === 6L)
    assert(r.getAs[Long]("n_letters") === 25L)
    val sh = TextAnalysis.shingles(messy, 3).collect().map(_.getAs[String]("sh"))
    assert(sh.contains("the a the") && sh.length === 5)
    // Vertical tab is NOT a separator — RE2's \s (the oracle set)
    // excludes \x0B, unlike Java's; the engine sides with the oracle.
    val vt = Seq(doc(0L, "a\u000Bb c")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val vtStats = TextAnalysis.textStats(vt).collect().head
    assert(vtStats.getAs[Long]("n_words") === 2L)   // ["a<VT>b", "c"]
    assert(vtStats.getAs[Long]("n_letters") === 4L) // a, VT, b, c
  }

  test("spread repartitions single-partition input and passes split input through") {
    def textDf(parts: Int) = spark.range(0, 50, 1, parts)
      .select(
        col("id").as("doc_id"),
        concat(lit("word"), col("id"), lit(" tail")).as("text"))
    // One input split on a multi-core session → hash exchange on doc_id.
    val narrow = TextAnalysis.tokenize(textDf(1))
    assert(narrow.queryExecution.executedPlan.toString.contains("Exchange"))
    // Already at least one split per core → no shuffle of the corpus text.
    val split = TextAnalysis.tokenize(textDf(spark.sparkContext.defaultParallelism))
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("repetition scoring flags a looping document and passes varied text") {
    val docs = Seq(
      doc(0L, "buy now buy now buy now buy now"),         // "now buy"/"buy now" dominate
      doc(1L, "the quick brown fox jumps over lazy dogs"), // all bigrams unique
      doc(2L, "x"))                                        // too short: no bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.repetition(docs, n = 2).orderBy("doc_id").collect()
    assert(r.length === 2) // doc 2 absent
    assert(r(0).getAs[Boolean]("is_repetitive"))
    assert(r(0).getAs[Long]("n_grams") === 7L)
    assert(r(0).getAs[Long]("top_gram_cnt") === 4L) // "buy now" ×4
    assert(!r(1).getAs[Boolean]("is_repetitive"))
    assert(r(1).getAs[Long]("n_distinct_grams") === r(1).getAs[Long]("n_grams"))
  }

  test("language id scores stopword profiles with deterministic tie-break") {
    val r = TextAnalysis.languageId(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("hits_en") === 3L) // the, a, the
    assert(r(0).getAs[Long]("hits_db") === 2L) // join, scan
    assert(r(0).getAs[Long]("hits_sql") === 2L) // query, table
    assert(r(0).getAs[String]("predicted") === "en")
    assert(r(1).getAs[String]("predicted") === "en") // 0/0/0 ties → first profile
  }

  test("shingling is array-native and guards short docs") {
    val sh = TextAnalysis.shingles(docs, 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh")))
    assert(sh.count(_._1 == 0L) === 5) // 7 words → 5 shingles
    assert(sh.forall(_._1 == 0L)) // 2-word doc yields none (no crash)
    assert(sh.map(_._2).contains("the a the"))
  }

  test("fingerprint is stable and order-sensitive") {
    val f1 = TextAnalysis.fingerprint(docs).orderBy("doc_id").collect()
    val f2 = TextAnalysis.fingerprint(docs.repartition(5)).orderBy("doc_id").collect()
    assert(f1.map(_.getString(1)).toSeq === f2.map(_.getString(1)).toSeq)
    val reversed = Seq(doc(0L, "table query scan join the a the"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fr = TextAnalysis.fingerprint(reversed).collect().head.getString(1)
    assert(fr !== f1(0).getString(1))
  }

  test("multimodal payload metadata and frame sampling shapes") {
    val media = Multimodal.toMedia(docs)
    val m = media.orderBy("doc_id").collect()
    val text0 = "the a the join scan query table"
    assert(m(0).getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes")
      === text0.getBytes("UTF-8").length.toLong)
    assert(new String(m(0).getAs[Array[Byte]]("payload"), "UTF-8") === text0)

    val frames = Multimodal.sampleFrames(media, stride = 1).orderBy("doc_id").collect()
    val fr0 = frames(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("frames")
    assert(fr0.length === math.ceil(text0.length / 64.0).toInt)
    assert(fr0.head.getAs[Int]("frame_idx") === 0)
    // Frame payloads reassemble the original.
    val joined = fr0.map(r => new String(r.getAs[Array[Byte]]("frame"), "UTF-8")).mkString
    assert(joined === text0)
  }

  test("stub feature extraction: histogram over byte values sums to 1") {
    val media = Multimodal.toMedia(docs)
    val feats = Multimodal.decodeEach(media)(Multimodal.histogramFeatures).collect()
    assert(feats.length === 2)
    feats.foreach { f =>
      assert(f.features.length === 16)
      assert(math.abs(f.features.sum - 1.0f) < 1e-3)
    }
    // Deterministic: same input → same features.
    val again = Multimodal.decodeEach(media)(Multimodal.histogramFeatures).collect()
    assert(feats.sortBy(_.doc_id).map(_.features) === again.sortBy(_.doc_id).map(_.features))
  }

  test("magic-byte router: P5/P6 payloads decode for real and never hit the stub") {
    // One mixed frame: a real P5 image, a real P6 image, and a plain
    // text payload — only the last may take the histogram path.
    val media = Multimodal.toPgm(docs.filter(col("doc_id") === 0L))
      .unionByName(Multimodal.toPpm(docs.filter(col("doc_id") === 1L)))
      .unionByName(Multimodal.toMedia(
        Seq(doc(2L, "just plain text")).toDF("doc_id", "text", "lang", "source", "n_chars")))
    val out = Multimodal.extractFeatures(spark, media).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("kind")).toSeq === Seq("pgm", "ppm", "histogram"))
    // Exactly one feature column non-null per row; decodable formats
    // carry REAL decoder output, not a byte distribution.
    val pgmRow = out(0)
    assert(!pgmRow.isNullAt(pgmRow.fieldIndex("pgm")) && pgmRow.isNullAt(pgmRow.fieldIndex("histogram")))
    assert(pgmRow.getAs[org.apache.spark.sql.Row]("pgm").getAs[Int]("height") === 1)
    val ppmRow = out(1)
    assert(!ppmRow.isNullAt(ppmRow.fieldIndex("ppm")) && ppmRow.isNullAt(ppmRow.fieldIndex("histogram")))
    val histRow = out(2)
    assert(histRow.isNullAt(histRow.fieldIndex("pgm")) && histRow.isNullAt(histRow.fieldIndex("ppm")))
    assert(histRow.getSeq[Float](histRow.fieldIndex("histogram")).length === 16)
    // Router output agrees with the direct decoder paths bit-for-bit.
    val direct = Multimodal.decodeEach(
      Multimodal.toPgm(docs.filter(col("doc_id") === 0L)))(Multimodal.pgmFeatures).collect().head
    assert(pgmRow.getAs[org.apache.spark.sql.Row]("pgm").getAs[Double]("mean_px")
      === direct.mean_px.get)
  }

  test("PGM decoder parses a hand-built P5 fixture: comments, multi-digit dims, raster moments") {
    import Multimodal.pgmFeatures
    // 13×2 image, maxval 200, comment between magic and dims, mixed
    // whitespace between header tokens — every parser branch exercised.
    val raster = (0 until 26).map(i => (i * 7 % 200).toByte).toArray
    val header = "P5\n# a comment the parser must skip\n13\t2  # trailing comment\n200\n"
    val f = pgmFeatures(42L, header.getBytes("US-ASCII") ++ raster)
    assert(f.width === 13 && f.height === 2 && f.max_val === 200 && f.n_px === 26L)
    val px = raster.map(_ & 0xff)
    assert(f.mean_px === Some(px.sum.toDouble / 26.0))
    assert(f.min_px === Some(px.min) && f.max_px === Some(px.max))
    // Zero-pixel image decodes to empty moments, not a crash.
    val empty = pgmFeatures(7L, "P5\n0 1\n255\n".getBytes("US-ASCII"))
    assert(empty.n_px === 0L && empty.mean_px === None)
    // Malformed inputs THROW instead of returning garbage.
    intercept[IllegalArgumentException] { // wrong magic (P2 is ASCII PGM)
      pgmFeatures(0L, "P2\n2 1\n255\n ab".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // truncated raster
      pgmFeatures(0L, ("P5\n5 5\n255\nab").getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // maxval needs two bytes/px
      pgmFeatures(0L, "P5\n1 1\n65535\n  ".getBytes("US-ASCII"))
    }
  }

  test("toPgm payloads round-trip through the real decoder to the text's byte moments") {
    val media = Multimodal.toPgm(docs)
    // The payload is a real PGM: raster bytes ARE the document bytes, so
    // the decoded moments must equal the text's codepoint moments.
    val feats = Multimodal.decodeEach(media)(Multimodal.pgmFeatures)
      .collect().map(f => f.doc_id -> f).toMap
    docs.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val bytes = r.getAs[String]("text").getBytes("UTF-8").map(_ & 0xff)
      val f = feats(id)
      assert(f.width === bytes.length && f.height === 1 && f.max_val === 255)
      assert(f.mean_px === Some(bytes.sum.toDouble / bytes.length.toDouble))
      assert(f.min_px === Some(bytes.min) && f.max_px === Some(bytes.max))
    }
  }

  test("PPM decoder parses a hand-built P6 fixture to per-channel means") {
    import Multimodal.ppmFeatures
    // 4×1 RGB image: R = 10,40,70,100; G = 20,50,80,110; B = 30,60,90,120.
    val raster = (0 until 12).map(i => (10 * (i + 1)).toByte).toArray
    val f = ppmFeatures(1L, "P6\n# color\n4 1\n255\n".getBytes("US-ASCII") ++ raster)
    assert(f.width === 4 && f.height === 1 && f.n_px === 4L)
    assert(f.r_mean === Some((10 + 40 + 70 + 100) / 4.0))
    assert(f.g_mean === Some((20 + 50 + 80 + 110) / 4.0))
    assert(f.b_mean === Some((30 + 60 + 90 + 120) / 4.0))
    assert(f.min_px === Some(10) && f.max_px === Some(120))
    intercept[IllegalArgumentException] { // P5 payload is not a P6
      ppmFeatures(0L, "P5\n1 1\n255\n x".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // raster must hold 3 bytes/px
      ppmFeatures(0L, "P6\n2 1\n255\nabcd".getBytes("US-ASCII"))
    }
  }

  test("toPpm payloads round-trip through the color decoder to channel byte means") {
    val feats = Multimodal.decodeEach(Multimodal.toPpm(docs))(Multimodal.ppmFeatures)
      .collect().map(f => f.doc_id -> f).toMap
    docs.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val bytes = r.getAs[String]("text").getBytes("UTF-8").map(_ & 0xff)
      val w = bytes.length / 3
      val f = feats(id)
      assert(f.width === w && f.height === 1 && f.n_px === w.toLong)
      def chan(o: Int) = (0 until w).map(k => bytes(3 * k + o)).sum.toDouble / w
      assert(f.r_mean === Some(chan(0)))
      assert(f.g_mean === Some(chan(1)))
      assert(f.b_mean === Some(chan(2)))
    }
  }

  test("animated PGM: sampled frames are complete P5 images that decode frame-wise") {
    val text0 = (0 until 200).map(i => ('a' + i % 26).toChar).mkString // 200 chars → 4 frames
    val d = Seq(doc(0L, text0), doc(1L, "tiny doc"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val anim = Multimodal.toAnimatedPgm(d)
    val metas = anim.select(col("doc_id"), col("meta.n_frames")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(metas === Map(0L -> 4, 1L -> 1))
    // Every frame (stride 1) decodes: 64-px single-row images whose
    // pixels are the text chunk, space-padded at the tail.
    val all = Multimodal.decodePgmFrames(
      spark,
      Multimodal.sampleFrames(anim, stride = 1, frameBytes = Multimodal.AnimFrameTotalBytes))
      .collect().groupBy(_.doc_id)
    assert(all(0L).length === 4 && all(1L).length === 1)
    all.values.flatten.foreach(f => assert(f.n_px === 64L))
    val f3 = all(0L).find(_.frame_idx === 3).get
    val tail = text0.drop(192).padTo(64, ' ').map(_.toInt)
    assert(f3.mean_px === Some(tail.sum.toDouble / 64.0))
    assert(all(1L).head.mean_px ===
      Some("tiny doc".padTo(64, ' ').map(_.toInt).sum.toDouble / 64.0))
    // Stride 4 keeps frames 0 (and only 0, for ≤4-frame payloads).
    val sampled = Multimodal.decodePgmFrames(
      spark,
      Multimodal.sampleFrames(anim, stride = 4, frameBytes = Multimodal.AnimFrameTotalBytes))
      .collect()
    assert(sampled.map(f => (f.doc_id, f.frame_idx)).toSet === Set((0L, 0), (1L, 0)))
  }

  test("bpePairCounts weights adjacent-char pairs by word frequency") {
    // Vocabulary: "ab"×3 (two in doc A, one in doc B), "abc"×1, "x"×1
    // (single char — no pairs). Pairs: (a,b) = 3+1 = 4, (b,c) = 1.
    val d = Seq(
      (0L, "ab ab x", "en", "s", 7L),
      (1L, "ab abc", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.bpePairCounts(d).collect()
      .map(r => (r.getAs[String]("c1"), r.getAs[String]("c2")) -> r.getAs[Long]("cnt"))
      .toMap
    assert(out === Map(("a", "b") -> 4L, ("b", "c") -> 1L))
  }

  test("simhash emits 16 lowercase hex nibbles") {
    val h = TextAnalysis.simhash(docs).collect()
    assert(h.length === 2)
    h.foreach(r => assert(r.getAs[String]("simhash").matches("[0-9a-f]{16}")))
  }

  test("subword budget is the ceil-division piece count per word") {
    // "the"→1, "a"→1, "the"→1, "join"→1, "scan"→1, "query"→2, "table"→2 = 9
    val r = TextAnalysis.subwordBudget(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_words") === 7L)
    assert(r(0).getAs[Long]("n_subwords") === 9L)
    assert(r(0).getAs[Long]("max_word_pieces") === 2L)
    assert(r(1).getAs[Long]("n_subwords") === 2L)
    // maxPiece=2: "query" → ceil(5/2)=3 pieces.
    val two = TextAnalysis.subwordBudget(docs, maxPiece = 2).orderBy("doc_id").collect()
    assert(two(0).getAs[Long]("max_word_pieces") === 3L)
  }

  test("quality filter reports per-rule verdicts and reject reasons") {
    val corpus = Seq(
      doc(0L, Seq.fill(50)("the table").mkString(" ")), // 100 words, passes all
      doc(1L, "x y"), // too short, no stopwords
      doc(2L, Seq.fill(60)("abcdefghijklmnop").mkString(" "))) // long words, no stopwords
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.qualityFilter(corpus).orderBy("doc_id").collect()
    assert(r(0).getAs[Boolean]("keep"))
    assert(r(0).getAs[String]("reject_reasons") === "")
    assert(!r(1).getAs[Boolean]("keep"))
    assert(r(1).getAs[String]("reject_reasons") === "length,word_shape,no_stopwords")
    assert(!r(2).getAs[Boolean]("keep"))
    assert(r(2).getAs[String]("reject_reasons") === "word_shape,no_stopwords")
  }

  test("vocabulary ranks by frequency then token, honoring minCount and maxSize") {
    val corpus = Seq(
      doc(0L, "b b b a a c"),
      doc(1L, "a  c"),     // run of spaces — no empty token may enter the vocab
      doc(2L, ""))         // empty doc contributes nothing
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Counts: a=3, b=3, c=2. Tie a/b broken by token order.
    val full = TextAnalysis.vocabulary(corpus, maxSize = 10, minCount = 2)
      .orderBy("token_id").collect()
      .map(r => (r.getAs[Int]("token_id"), r.getAs[String]("token"), r.getAs[Long]("n")))
    assert(full.toSeq === Seq((1, "a", 3L), (2, "b", 3L), (3, "c", 2L)))
    // maxSize truncates AFTER ranking; minCount drops the tail.
    val capped = TextAnalysis.vocabulary(corpus, maxSize = 2, minCount = 2)
      .orderBy("token_id").collect().map(_.getAs[String]("token"))
    assert(capped.toSeq === Seq("a", "b"))
    val strict = TextAnalysis.vocabulary(corpus, maxSize = 10, minCount = 3)
      .collect().map(_.getAs[String]("token")).toSet
    assert(strict === Set("a", "b"))
  }

  test("bigram model conditional probabilities sum to 1 per prefix") {
    val corpus = Seq(
      doc(0L, "a b a b a c"),
      doc(1L, "b a"),
      doc(2L, "solo"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.bigramModel(corpus).orderBy("w1", "w2").collect()
    // Bigrams: (a,b)x2 (a,c)x1 (b,a)x3 — "solo" contributes none.
    val byPair = r.map(x => (x.getAs[String]("w1"), x.getAs[String]("w2")) -> x).toMap
    assert(byPair(("a", "b")).getAs[Long]("cnt") === 2L)
    assert(byPair(("a", "b")).getAs[Long]("total") === 3L)
    assert(math.abs(byPair(("a", "b")).getAs[Double]("p") - 2.0 / 3.0) < 1e-15)
    assert(!byPair.contains(("solo", "solo")))
    // Per-prefix probabilities partition the prefix mass.
    r.groupBy(_.getAs[String]("w1")).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getAs[Double]("p")).sum - 1.0) < 1e-12)
    }
  }

  test("unigramSurprisal broadcast and shuffle model paths agree bitwise") {
    // Same discipline as the Bloom probe pair: the scale path (shuffle
    // join for an open vocabulary past the broadcast budget) must be
    // value-identical to the broadcast default — integer bits make the
    // comparison exact, no tolerance.
    val d = Seq((0L, "a a b c"), (1L, "b rare rare"), (2L, "c a")).toDF("doc_id", "text")
    def run(b: Boolean) = TextAnalysis.unigramSurprisal(d, broadcastModel = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(run(true) === run(false))
  }

  test("unigramSurprisal charges integer log2 bits against the corpus unigram model") {
    val d = Seq((0L, "a a a"), (1L, "a b")).toDF("doc_id", "text")
    // model: a -> 4, b -> 1, total 5; bits(w) = len(bin(5)) - len(bin(cnt))
    // = 3 - 3 = 0 for a, 3 - 1 = 2 for b.
    val out = TextAnalysis.unigramSurprisal(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_tokens") === 3L)
    assert(out(0L).getAs[Long]("sum_bits") === 0L)
    assert(out(0L).getAs[Double]("mean_bits") === 0.0)
    assert(out(1L).getAs[Long]("n_tokens") === 2L)
    assert(out(1L).getAs[Long]("sum_bits") === 2L)
    assert(out(1L).getAs[Double]("mean_bits") === 1.0)
  }

  test("WAV decoder parses the codegen'd RIFF payload and a hand-built 16-bit PCM fixture") {
    import Multimodal.{decodeEach, toWav, wavFeatures}
    // Round-trip: the expression-built WAV decodes to the text's byte moments.
    val d = Seq((7L, "Hello WAV")).toDF("doc_id", "text")
    val f = decodeEach(toWav(d))(wavFeatures).collect().head
    val bytes = "Hello WAV".getBytes("US-ASCII").map(_ & 0xff)
    assert(f.n_channels === 1 && f.sample_rate === 8000 && f.bits_per_sample === 8)
    assert(f.n_samples === bytes.length.toLong)
    assert(f.mean_amp === Some(bytes.sum.toDouble / bytes.length))
    assert(f.min_amp === Some(bytes.min) && f.max_amp === Some(bytes.max))

    // Hand-built 16-bit signed stereo fixture: negative amplitudes and a
    // word-aligned odd-sized extra chunk the walker must skip.
    def le(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val samples = Seq(-32768, -1, 0, 1, 32767)
    val data = samples.flatMap(s => le(s.toLong & 0xffffL, 2)).toArray
    val extra = "LIST".getBytes("US-ASCII") ++ le(3, 4) ++ Array[Byte](1, 2, 3, 0) // 3 bytes + pad
    val fmt = "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++
      le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++ le(44100L * 4, 4) ++ le(4, 2) ++ le(16, 2)
    val dataCh = "data".getBytes("US-ASCII") ++ le(data.length, 4) ++ data
    val body = "WAVE".getBytes("US-ASCII") ++ extra ++ fmt ++ dataCh
    val wav = "RIFF".getBytes("US-ASCII") ++ le(body.length, 4) ++ body
    val g = wavFeatures(9L, wav)
    assert(g.n_channels === 2 && g.sample_rate === 44100 && g.bits_per_sample === 16)
    assert(g.n_samples === samples.length.toLong)
    assert(g.min_amp === Some(-32768) && g.max_amp === Some(32767))
    assert(g.mean_amp === Some(samples.sum.toDouble / samples.length))

    // Malformed inputs THROW: bad tag, size lie, non-PCM codec.
    intercept[IllegalArgumentException] {
      wavFeatures(0L, "RIFX1234WAVE".getBytes("US-ASCII") ++ new Array[Byte](32))
    }
    intercept[IllegalArgumentException] { // mp3 codec id (0x55) inside fmt
      val badFmt = "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++
        le(0x55, 2) ++ le(1, 2) ++ le(8000, 4) ++ le(8000, 4) ++ le(1, 2) ++ le(8, 2)
      val b2 = "WAVE".getBytes("US-ASCII") ++ badFmt ++ "data".getBytes("US-ASCII") ++ le(0, 4)
      wavFeatures(0L, "RIFF".getBytes("US-ASCII") ++ le(b2.length, 4) ++ b2)
    }
  }

  test("toWav16 payloads round-trip through the decoder's signed 16-bit path") {
    import Multimodal.{decodeEach, toWav16, wavFeatures}
    val d = Seq((3L, "Hello WAV"), (4L, "")).toDF("doc_id", "text")
    val out = decodeEach(toWav16(d))(wavFeatures).collect().sortBy(_.doc_id)
    val amps = "Hello WAV".getBytes("US-ASCII").map(b => ((b & 0xff) - 128) * 256)
    val f = out(0)
    assert(f.n_channels === 1 && f.sample_rate === 8000 && f.bits_per_sample === 16)
    assert(f.n_samples === amps.length.toLong)
    assert(f.mean_amp === Some(amps.map(_.toLong).sum.toDouble / amps.length))
    assert(f.min_amp === Some(amps.min) && f.max_amp === Some(amps.max))
    assert(amps.forall(_ < 0), "ASCII input must exercise genuinely negative samples")
    // Empty text: zero samples, absent moments, header still parses.
    val e = out(1)
    assert(e.bits_per_sample === 16 && e.n_samples === 0L && e.mean_amp === None)

    // Non-ASCII UTF-8 bytes (>= 0x80) must byte-center too, not
    // silently mis-encode: the nibble translate wraps mod 16.
    val uni = Seq((5L, "café")).toDF("doc_id", "text") // bytes: 63 61 66 c3 a9
    val f2 = decodeEach(toWav16(uni))(wavFeatures).collect().head
    val uniAmps = "café".getBytes("UTF-8").map(b => ((b & 0xff) - 128) * 256)
    assert(f2.n_samples === uniAmps.length.toLong)
    assert(f2.min_amp === Some(uniAmps.min) && f2.max_amp === Some(uniAmps.max))
    assert(uniAmps.exists(_ > 0), "a >=0x80 byte must center to a positive sample")
    assert(f2.mean_amp === Some(uniAmps.map(_.toLong).sum.toDouble / uniAmps.length))
  }

  test("audioAutocorr: hand-computed lags over the decoded 16-bit samples, incl. degenerate overlaps") {
    import Multimodal.{audioAutocorr, decodeWavSamples, toWav16}
    // "ab" -> bytes 97, 98 -> samples -7936, -7680 (hand-derived):
    //   lag 0: (-7936)² + (-7680)²       = 62 980 096 + 58 982 400 = 121 962 496
    //   lag 1: (-7936)·(-7680)           = 60 948 480
    //   lag 2: zero overlap              -> 0 terms, ac = 0
    val d = Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text")
    val got = audioAutocorr(decodeWavSamples(spark, toWav16(d)), lags = Seq(0, 1, 2))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("lag")) ->
        ((r.getAs[Long]("n_terms"), r.getAs[Long]("ac")))).toMap
    assert(got((1L, 0)) === ((2L, 121962496L)))
    assert(got((1L, 1)) === ((1L, 60948480L)))
    assert(got((1L, 2)) === ((0L, 0L)))
    // Empty text: every lag emits (0 terms, ac 0) — rows never vanish.
    assert(got((2L, 0)) === ((0L, 0L)) && got((2L, 1)) === ((0L, 0L)))
    // Periodicity detection: a period-4 signal's lag-4 autocorrelation
    // must dominate lag 1 (sanity of the signal-shape claim).
    val periodic = Seq((3L, "abcdabcdabcdabcd")).toDF("doc_id", "text")
    val p = audioAutocorr(decodeWavSamples(spark, toWav16(periodic)), lags = Seq(1, 4))
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Long]("ac")).toMap
    // Raw sums over different n_terms — compare per-term averages.
    assert(p(4) / 12.0 > p(1) / 15.0, s"lag-4 per-term ac must dominate: $p")
  }

  test("audioFrameStats: hand-computed frame aggregates incl. the ragged last frame") {
    import Multimodal.{audioFrameStats, decodeWavSamples, toWav16}
    // "abcde" -> samples -7936 -7680 -7424 -7168 -6912; frameLen 2:
    //   frame 0 (a,b): sum -15616, energy 62980096+58982400=121962496
    //   frame 1 (c,d): sum -14592, energy 55115776+51380224=106496000
    //   frame 2 (e):   n=1, sum -6912, energy 47775744 (ragged tail)
    val d = Seq((1L, "abcde"), (2L, "")).toDF("doc_id", "text")
    val got = audioFrameStats(decodeWavSamples(spark, toWav16(d)), frameLen = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("n_samples"), r.getAs[Long]("sum_amp"), r.getAs[Long]("energy"),
          r.getAs[Long]("min_amp"), r.getAs[Long]("max_amp")))).toMap
    assert(got((1L, 0L)) === ((2L, -15616L, 121962496L, -7936L, -7680L)))
    assert(got((1L, 1L)) === ((2L, -14592L, 106496000L, -7424L, -7168L)))
    assert(got((1L, 2L)) === ((1L, -6912L, 47775744L, -6912L, -6912L)))
    // Zero-sample docs emit no frames — absence is the signal.
    assert(!got.keys.exists(_._1 == 2L))
    assert(got.size === 3)
  }

  test("AVI container: round trip, ragged pad, unknown-chunk skip, structural lies rejected") {
    import Multimodal.{toAvi, AviDecoder, decodeAviFrames, videoFrameStats, sampleVideoFrames}
    // 5 bytes at frameBytes=4 → frames [abcd], [e] (ragged, odd → padded).
    val d = Seq((1L, "abcde"), (2L, "")).toDF("doc_id", "text")
    val payload = toAvi(d, frameBytes = 4).filter($"doc_id" === 1L)
      .select("payload").collect()(0).getAs[Array[Byte]](0)
    val fr = AviDecoder.frames(1L, payload)
    assert(fr.map(_._1) === Seq(0L, 1L))
    assert(fr(0)._2.toSeq === "abcd".getBytes.toSeq)
    assert(fr(1)._2.toSeq === "e".getBytes.toSeq, "ragged last frame must drop its pad byte")
    // Word alignment on the wire: the ragged 1-byte chunk is padded.
    assert(payload.length % 2 === 0)
    // Zero-frame doc: no rows (absence is the signal).
    val frames = decodeAviFrames(spark, toAvi(d, frameBytes = 4))
    assert(frames.filter($"doc_id" === 2L).count() === 0L)
    val stats = videoFrameStats(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(stats((1L, 0L)) === ((4L, ('a' + 'b' + 'c' + 'd').toLong, 'a'.toLong, 'd'.toLong)))
    assert(stats((1L, 1L)) === ((1L, 'e'.toLong, 'e'.toLong, 'e'.toLong)))
    // Sampling keeps every Nth frame with the binary digest.
    val sampled = sampleVideoFrames(frames, every = 2).collect()
    assert(sampled.map(_.getLong(1)).toSet === Set(0L))
    // Unknown chunks are skipped: splice a vendor chunk before the movi
    // LIST and the walker must still find both frames.
    val junk = "JUNK".getBytes ++ Array[Byte](2, 0, 0, 0, 7, 7)
    val movi = {
      // locate the movi LIST (search for the 'movi' subtype)
      val idx = payload.indices.find(i => i + 12 <= payload.length &&
        new String(payload, i, 4) == "LIST" &&
        new String(payload, i + 8, 4) == "movi").get
      payload.drop(idx)
    }
    val head = payload.take(payload.length - movi.length)
    val spliced = head ++ junk ++ movi
    // Fix the RIFF size for the splice.
    val sz = spliced.length - 8
    for (i <- 0 until 4) spliced(4 + i) = ((sz >> (8 * i)) & 0xff).toByte
    assert(AviDecoder.frames(1L, spliced).map(_._1) === Seq(0L, 1L))
    // Structural lies fail loudly: a header claiming the wrong frame count.
    val lying = spliced.clone()
    val avihAt = lying.indices.find(i => i + 4 <= lying.length &&
      new String(lying, i, 4) == "avih").get
    lying(avihAt + 8 + 16) = 9 // total_frames := 9
    val e1 = intercept[IllegalArgumentException](AviDecoder.frames(1L, lying))
    assert(e1.getMessage.contains("claims"))
    val notAvi = payload.clone(); notAvi(8) = 'W'.toByte
    val e2 = intercept[IllegalArgumentException](AviDecoder.frames(1L, notAvi))
    assert(e2.getMessage.contains("not a RIFF/AVI"))
  }

  test("videoSceneCuts: hand-computed SAD incl. zero-padded ragged pair, verdicts, no-pair docs") {
    import Multimodal.{decodeAviFrames, toAvi, videoSceneCuts}
    // doc 1 "abcdabcze" @ frameBytes=4 → frames [abcd][abcz][e]:
    //   pair 1: |a-a|+|b-b|+|c-c|+|z-d| = 22
    //   pair 2 (ragged, zero-padded): |e-a|+|0-b|+|0-c|+|0-z| = 4+98+99+122 = 323
    // doc 2: single frame → no pairs; doc 3: empty → no frames at all.
    val d = Seq((1L, "abcdabcze"), (2L, "abcd"), (3L, "")).toDF("doc_id", "text")
    val got = videoSceneCuts(decodeAviFrames(spark, toAvi(d, frameBytes = 4)), cutSad = 100L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("sad"), r.getAs[Boolean]("is_cut")))).toMap
    assert(got((1L, 1L)) === ((22L, false)))
    assert(got((1L, 2L)) === ((323L, true)))
    assert(got.size === 2, "single-frame and empty docs must emit no pairs")
  }

  test("videoFingerprints: collide iff every SAMPLED frame matches; order-deterministic") {
    import Multimodal.{decodeAviFrames, sampleVideoFrames, toAvi, videoFingerprints}
    // every=2 @ frameBytes=4 samples frames 0 and 2: docs 1/2 differ only
    // in the unsampled frame 1 → same fingerprint (the honest coarse-pass
    // semantics); doc 3 differs in a sampled frame → distinct.
    val d = Seq(
      (1L, "abcdXXXXefgh"),
      (2L, "abcdYYYYefgh"),
      (3L, "abcdXXXXzzzz")).toDF("doc_id", "text")
    val fp = videoFingerprints(
        sampleVideoFrames(decodeAviFrames(spark, toAvi(d, frameBytes = 4)), every = 2))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_sampled"), r.getAs[String]("video_fp")))).toMap
    assert(fp(1L)._1 === 2L)
    assert(fp(1L)._2 === fp(2L)._2, "unsampled-frame-only difference must collide")
    assert(fp(1L)._2 !== fp(3L)._2, "sampled-frame difference must separate")
    // Fingerprints are repartitioning-independent (array_sort before hash).
    val fp8 = videoFingerprints(
        sampleVideoFrames(
          decodeAviFrames(spark, toAvi(d, frameBytes = 4)).repartition(8), every = 2))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fp8 === fp.map { case (k, v) => k -> v._2 })
  }

  test("alignCutsToTokens: containing token incl. trailing-space attribution and empty tokens") {
    import Multimodal.alignCutsToTokens
    // doc 1 "aaaa bbbbzzzz cc": tokens aaaa@0, bbbbzzzz@5, cc@14.
    //   cut at frame 1 (off 4, the space after "aaaa") → trailing
    //   separator belongs to the preceding token → "aaaa";
    //   cut at frame 3 (off 12, inside "bbbbzzzz") → "bbbbzzzz".
    // doc 2 "a  b" (double space): tokens a@0, ""@2, b@3 — the exact
    //   empties-kept split keeps offsets bit-exact; cut off 4 → "b"
    //   (past the last token start, still the last token's span).
    val docs = Seq((1L, "aaaa bbbbzzzz cc"), (2L, "a  b")).toDF("doc_id", "text")
    val cuts = Seq(
      (1L, 1L, true), (1L, 3L, true), (1L, 2L, false), (2L, 1L, true))
      .toDF("doc_id", "frame_idx", "is_cut")
    val got = alignCutsToTokens(cuts, docs, frameBytes = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("cut_off"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("token_pos"), r.getAs[String]("token")))).toMap
    assert(got((1L, 1L)) === ((4L, 0L, 0L, "aaaa")))
    assert(got((1L, 3L)) === ((12L, 5L, 1L, "bbbbzzzz")))
    assert(got((2L, 1L)) === ((4L, 3L, 2L, "b")))
    assert(got.size === 3, "non-cut rows must not align")
  }

  test("audioSegments: trim span, loud/clip predicates distinct, all-silent sentinel") {
    import Multimodal.{audioFrameStats, audioSegments}
    // Hand-built sample rows, frameLen 2 → frames:
    //   doc 1: f0 (100, -100)      peak 100   silent, unclipped
    //          f1 (9000, 50)       peak 9000  LOUD (>8192), unclipped (<24576)
    //          f2 (-30000, 0)      peak 30000 loud AND clipped (≤ -24576)
    //          f3 (10, 20)         silent tail → trim span = [1, 2]
    //   doc 2: all below both thresholds → −1 sentinels, never clipped.
    val samples = Seq(
      (1L, Seq(100L, -100L, 9000L, 50L, -30000L, 0L, 10L, 20L)),
      (2L, Seq(5L, -5L, 7L)))
      .toDF("doc_id", "samples")
    val got = audioSegments(audioFrameStats(samples, frameLen = 2))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_frames"), r.getAs[Long]("n_samples"),
          r.getAs[Long]("first_loud_frame"), r.getAs[Long]("last_loud_frame"),
          r.getAs[Long]("n_loud_frames"), r.getAs[Long]("n_clipped_frames"),
          r.getAs[Boolean]("clipped")))).toMap
    // Frame 1 proves loud ≠ clipped (9000 > 8192 but < 24576); frame 2
    // proves the negative rail; the trim excludes both silent ends.
    assert(got(1L) === ((4L, 8L, 1L, 2L, 2L, 1L, true)))
    assert(got(2L) === ((2L, 3L, -1L, -1L, 0L, 0L, false)))
  }

  test("mu-law compand/expand: G.711 anchor values, monotonicity, segment error bound") {
    import Multimodal.{muLawDecodeByte, muLawEncodeSample}
    // Canonical anchors: linear 0 compands to 0xff and expands back to 0;
    // -32768 clips to the max-magnitude negative code 0x00 -> -32124;
    // +32767 -> code 0x80 -> +32124 (the standard's extreme points).
    assert(muLawEncodeSample(0) === 0xff && muLawDecodeByte(0xff) === 0)
    assert(muLawEncodeSample(-32768) === 0x00 && muLawDecodeByte(0x00) === -32124)
    assert(muLawEncodeSample(32767) === 0x80 && muLawDecodeByte(0x80) === 32124)
    // Expand is the left inverse on code space EXCEPT the classic
    // negative-zero quirk: code 0x7f expands to -0 == 0, which
    // re-compands to the canonical positive-zero code 0xff.
    for (u <- 0 until 256)
      assert(muLawEncodeSample(muLawDecodeByte(u)) === (if (u == 0x7f) 0xff else u))
    var prev = -40000L // below any expanded sample; MinValue would wrap the -1024 slack
    for (s <- -32768 to 32767 by 7) {
      val r = muLawDecodeByte(muLawEncodeSample(s))
      assert(r.toLong >= prev - 1024L, "expansion must be monotone to segment granularity")
      prev = r.toLong
      val step = 1 << (((~muLawEncodeSample(s) & 0xff) >> 4) & 7)
      assert(math.abs(r - math.max(-32635, math.min(32635, s))) <= step * 4,
        s"s=$s roundtrips to $r, outside its segment's half-step")
    }
  }

  test("toWavMuLaw payloads round-trip through the decoder's format-7 expand path") {
    import Multimodal.{decodeEach, muLawDecodeByte, muLawEncodeSample, toWavMuLaw, wavFeatures}
    val d = Seq((3L, "Hello WAV"), (4L, ""), (5L, "odd")).toDF("doc_id", "text")
    val out = decodeEach(toWavMuLaw(d))(wavFeatures).collect().sortBy(_.doc_id)
    val amps = "Hello WAV".getBytes("US-ASCII")
      .map(b => muLawDecodeByte(muLawEncodeSample(((b & 0xff) - 128) * 256)))
    val f = out(0)
    assert(f.n_channels === 1 && f.sample_rate === 8000 && f.bits_per_sample === 8)
    assert(f.n_samples === amps.length.toLong)
    assert(f.mean_amp === Some(amps.map(_.toLong).sum.toDouble / amps.length))
    assert(f.min_amp === Some(amps.min) && f.max_amp === Some(amps.max))
    assert(amps.forall(v => v < 0 && v < -255),
      "expanded ASCII samples must be 16-bit-scale negatives, not wire bytes")
    assert(out(1).n_samples === 0L && out(1).mean_amp === None)
    // Odd data chunk: the RIFF pad byte must keep the envelope size
    // consistent (the decoder validates RIFF size == payload - 8).
    assert(out(2).n_samples === 3L)
    // A 16-bit mu-law fmt chunk is a contradiction the decoder rejects.
    val bad = Multimodal.toWav16(Seq((9L, "x")).toDF("doc_id", "text"))
      .selectExpr("doc_id",
        // Patch the format tag to 7 in the built 16-bit payload.
        "concat(substring(payload, 1, 20), unhex('0700'), substring(payload, 23)) AS payload",
        "meta")
    val ex = intercept[org.apache.spark.SparkException] {
      decodeEach(bad)(wavFeatures).collect()
    }
    assert(ex.getMessage.contains("mu-law is 8-bit by definition")
      || Option(ex.getCause).exists(_.getMessage.contains("mu-law is 8-bit by definition")))
  }

  test("magic-byte router sends RIFF payloads to the WAV decoder, not the stub") {
    val media = Multimodal.toWav(Seq((5L, "audio bytes")).toDF("doc_id", "text"))
      .unionByName(Multimodal.toMedia(
        Seq(doc(6L, "just plain text"),
          // Starts with "RI" but is NOT RIFF: must take the histogram
          // path, never the throwing WAV decoder (4-byte magic check).
          doc(7L, "RIck's plain text"),
          // A RIFF container that is neither WAVE nor AVI (WEBP form
          // type, no decoder in this environment): 'RIFF' alone claims
          // only the container — the router must check the form type and
          // send this to the histogram fallback, not a throwing decoder.
          doc(8L, "RIFF\u0010\u0000\u0000\u0000WEBP LIST frames")).toDF("doc_id", "text", "lang", "source", "n_chars")))
    val out = Multimodal.extractFeatures(spark, media).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("kind")).toSeq === Seq("wav", "histogram", "histogram", "histogram"))
    val wavRow = out(0)
    assert(!wavRow.isNullAt(wavRow.fieldIndex("wav")) && wavRow.isNullAt(wavRow.fieldIndex("histogram")))
    assert(wavRow.getAs[org.apache.spark.sql.Row]("wav").getAs[Int]("sample_rate") === 8000)
    val b = "audio bytes".getBytes("US-ASCII").map(_ & 0xff)
    assert(wavRow.getAs[org.apache.spark.sql.Row]("wav").getAs[Double]("mean_amp")
      === b.sum.toDouble / b.length)
  }

  private def bmpLe32(v: Int): Seq[Byte] =
    Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def bmpLe16(v: Int): Seq[Byte] =
    Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** 2×2 24-bit BMP with stride padding (row bytes 6 → stride 8).
    * Image rows (top first): (10,20,30),(40,50,60) / (70,80,90),(100,110,120).
    */
  private def bmpFixture(bottomUp: Boolean): Array[Byte] = {
    val top = Seq(30, 20, 10, 60, 50, 40, 0, 0).map(_.toByte)    // BGR + pad
    val bottom = Seq(90, 80, 70, 120, 110, 100, 0, 0).map(_.toByte)
    val raster = if (bottomUp) bottom ++ top else top ++ bottom
    (Seq('B'.toByte, 'M'.toByte) ++ bmpLe32(54 + 16) ++ bmpLe32(0) ++ bmpLe32(54) ++
      bmpLe32(40) ++ bmpLe32(2) ++ bmpLe32(if (bottomUp) 2 else -2) ++
      bmpLe16(1) ++ bmpLe16(24) ++ bmpLe32(0) ++ bmpLe32(16) ++
      bmpLe32(0) ++ bmpLe32(0) ++ bmpLe32(0) ++ bmpLe32(0) ++ raster).toArray
  }

  test("BMP decoder honors bottom-up AND top-down rows, stride padding, BGR order") {
    for (bottomUp <- Seq(true, false)) {
      val f = Multimodal.bmpFeatures(7L, bmpFixture(bottomUp))
      assert(f.width === 2 && f.height === 2 && f.bit_count === 24 && f.n_px === 4L)
      assert(f.r_mean === Some((10 + 40 + 70 + 100) / 4.0))
      assert(f.g_mean === Some((20 + 50 + 80 + 110) / 4.0))
      assert(f.b_mean === Some((30 + 60 + 90 + 120) / 4.0))
      assert(f.min_px === Some(10) && f.max_px === Some(120))
      // Both encodings describe the SAME image — row re-ordering must
      // normalize them to the top row's mean, not the stored-first row's.
      assert(f.top_row_mean === Some((10 + 20 + 30 + 40 + 50 + 60) / 6.0))
    }
    val bad = bmpFixture(true)
    bad(28) = 8 // bit count 8
    intercept[IllegalArgumentException](Multimodal.bmpFeatures(7L, bad))
  }

  test("toBmp payloads round-trip through the BMP decoder to text byte moments") {
    val docs = Seq((0L, "abcdefgh", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.decodeEach(Multimodal.toBmp(docs))(Multimodal.bmpFeatures).collect().head
    // w = 8 div 6 = 1: top row pixel (97,98,99), bottom (100,101,102);
    // stride 4 (row bytes 3 + 1 pad).
    assert(f.width === 1 && f.height === 2 && f.n_px === 2L)
    assert(f.r_mean === Some((97 + 100) / 2.0))
    assert(f.g_mean === Some((98 + 101) / 2.0))
    assert(f.b_mean === Some((99 + 102) / 2.0))
    assert(f.min_px === Some(97) && f.max_px === Some(102))
    assert(f.top_row_mean === Some((97 + 98 + 99) / 3.0))
  }

  test("magic-byte router sends BMP payloads to the BMP decoder, 'BM' text to the stub") {
    val docs = Seq((0L, "stride and rows and channels", "en", "s", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bmp = Multimodal.toBmp(docs).select(col("doc_id"), col("payload"))
    val bmText = Seq((1L, "BMarley wrote this payload, not a bitmap".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.extractFeatures(spark, bmp.unionByName(bmText)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("kind")).toMap
    assert(out === Map(0L -> "bmp", 1L -> "histogram"))
  }

  test("magic-byte router routes AVI/PNG/JPEG to their real decoders, not the stub") {
    // JpegCodec needs >= 64 text bytes for one raster block.
    val jpegText = "jpeg blocks here: " + ("x" * 64)
    val d = Seq((0L, "video payload text!!", "en", "s", 20L),
      (1L, "png pixels here!", "en", "s", 16L),
      (2L, jpegText, "en", "s", jpegText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.toAvi(d.filter(col("doc_id") === 0L))
      .select(col("doc_id"), col("payload"))
      .unionByName(Multimodal.toPng(d.filter(col("doc_id") === 1L))
        .select(col("doc_id"), col("payload")))
      .unionByName(Multimodal.toJpeg(d.filter(col("doc_id") === 2L))
        .select(col("doc_id"), col("payload")))
      .unionByName(Multimodal.toMedia(
          Seq(doc(3L, "just plain text")).toDF("doc_id", "text", "lang", "source", "n_chars"))
        .select(col("doc_id"), col("payload")))
    val out = Multimodal.extractFeatures(spark, media).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("kind")).toSeq === Seq("avi", "png", "jpeg", "histogram"))
    // The AVI summary carries the real container walk: 20 bytes at
    // frameBytes=16 → 2 frames, 20 frame bytes total.
    val aviRow = out(0).getAs[org.apache.spark.sql.Row]("avi")
    assert(aviRow.getAs[Int]("n_frames") === 2)
    assert(aviRow.getAs[Long]("n_frame_bytes") === 20L)
    // Exactly one feature column non-null per row.
    for (r <- out) {
      val featCols = Seq("pgm", "ppm", "wav", "avi", "bmp", "png", "jpeg", "histogram")
      assert(featCols.count(c => !r.isNullAt(r.fieldIndex(c))) === 1)
    }
    // A payload that CLAIMS the AVI form but lies about the RIFF size
    // must THROW in the decoder (the router contract), never histogram.
    val lyingAvi = Multimodal.toMedia(
        Seq(doc(9L, "RIFF   AVI LIST frames"))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select(col("doc_id"), col("payload"))
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(spark, lyingAvi).collect()
    }
    assert(ex.getMessage.contains("RIFF size")
      || Option(ex.getCause).exists(_.getMessage.contains("RIFF size")))
  }

  test("resizePgm: 1-D and 2-D box decimation, ragged tail dropped, real PGM round trip") {
    // 1-row: "abcdefghij" @ kx=4 → pixels floor((97..100)/4)=98,
    // floor((101..104)/4)=102; tail "ij" dropped.
    val d = Seq((1L, "abcdefghij", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val resized = Multimodal.resize(spark, Multimodal.toPgm(d), Codec.Pgm, Box(4))
    val f = Multimodal.decodeEach(resized)(Multimodal.pgmFeatures).collect().head
    assert(f.width === 2 && f.height === 1 && f.n_px === 2L)
    assert(f.min_px === Some(98) && f.max_px === Some(102))
    assert(f.mean_px === Some(100.0))
    // 2-D: a hand-built 4x2 raster decimated 2x2 → 2x1 block means.
    val raster = Array(10, 20, 30, 40, 50, 60, 70, 80).map(_.toByte)
    val payload = "P5\n4 2\n255\n".getBytes("US-ASCII") ++ raster
    val media2 = Seq((2L, payload)).toDF("doc_id", "payload")
    val f2 = Multimodal.decodeEach(
      Multimodal.resize(spark, media2, Codec.Pgm, Box(2, 2)))(Multimodal.pgmFeatures).collect().head
    assert(f2.width === 2 && f2.height === 1)
    assert(f2.min_px === Some((10 + 20 + 50 + 60) / 4) &&
      f2.max_px === Some((30 + 40 + 70 + 80) / 4))
    // Sub-block input produces NO output row (the whole-image tail case
    // — matches the SQL oracle's empty GROUP BY; ADVICE r17), never a
    // degenerate raster and never a task failure.
    val tiny = Seq((3L, "abc", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Multimodal.resize(spark, Multimodal.toPgm(tiny), Codec.Pgm, Box(4)).collect().isEmpty)
  }

  test("resampleWav: box decimation with floor-mean, mu-law input accepted, WAV round trip") {
    // "abcdefgh" 16-bit: amps (97..104 - 128)*256; k=4 →
    //   sample 0 = ((97+98+99+100)/4 - 128... ) exact: sum=-12544*... compute:
    //   amps sum block 0 = ((97+98+99+100)-4*128)*256 = (394-512)*256 = -30208 → /4 = -7552
    //   block 1 = ((101+102+103+104)-512)*256 = (410-512)*256 = -26112 → /4 = -6528
    val d = Seq((1L, "abcdefgh", "en", "s", 8L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toWav16(d), Codec.Wav, Box(4)))(Multimodal.wavFeatures)
      .collect().head
    assert(f.n_channels === 1 && f.sample_rate === 2000 && f.bits_per_sample === 16)
    assert(f.n_samples === 2L)
    assert(f.min_amp === Some(-7552) && f.max_amp === Some(-6528))
    assert(f.mean_amp === Some((-7552.0 - 6528.0) / 2))
    // mu-law input accepted (decodes to values that don't divide evenly);
    // tail block dropped; resampled stream still a decodable WAV.
    val mu = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toWavMuLaw(d), Codec.Wav, Box(3)))(Multimodal.wavFeatures)
      .collect().head
    assert(mu.n_samples === 2L && mu.sample_rate === 2666)
    assert(mu.bits_per_sample === 16)
    // TRUNCATED mean on a negative non-divisible sum — DuckDB's // rounds
    // toward zero (verified: -7 // 2 = -3), so so does the engine
    // (ADVICE r17: floorDiv here would diverge): samples (-1,-2,-4)
    // sum -7, k=3 → -2 (floor would give -3).
    val neg = Seq(-1, -2, -4).map(_.toShort)
    val bb = java.nio.ByteBuffer.allocate(44 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 6)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort)
      .putInt(8000).putInt(16000).putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(6)
    neg.foreach(bb.putShort)
    val negWav = Seq((9L, bb.array())).toDF("doc_id", "payload")
    val nf = Multimodal.decodeEach(
      Multimodal.resize(spark, negWav, Codec.Wav, Box(3)))(Multimodal.wavFeatures).collect().head
    assert(nf.n_samples === 1L && nf.min_amp === Some(-2) && nf.max_amp === Some(-2))
    // A stream shorter than one block yields NO row (the oracle's empty
    // GROUP BY), not an n_samples=0 WAV.
    assert(Multimodal.resize(spark, negWav, Codec.Wav, Box(4)).collect().isEmpty)
  }

  test("resizeAvi: per-frame box decimation, header carried through, zero-length ragged output, real AVI round trip") {
    // 22 chars → frames of 16 + 6; kx=4 → 4 + 1 output bytes.
    val d = Seq((1L, "abcdefghijklmnopqrstuv", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val resized = Multimodal.resize(spark, Multimodal.toAvi(d), Codec.Avi, Box(4))
    val sum = Multimodal.decodeEach(resized)(Multimodal.aviFeatures).collect().head
    assert(sum.n_frames === 2 && sum.n_frame_bytes === 5L)
    // f0 means: (97..100)/4=98, 102, 106, 110; f1: (113..116)/4=114.
    assert(sum.mean_byte === Some((98 + 102 + 106 + 110 + 114) / 5.0))
    // The re-encoded header: µs/frame preserved, width divided, count kept.
    val payload = resized.select("payload").collect().head.getAs[Array[Byte]](0)
    val (hdr, fs) = Multimodal.AviDecoder.headerAndFrames(1L, payload)
    assert(hdr === Multimodal.AviHeader(40000L, 4L, 1L))
    assert(fs.map(_._2.toSeq) === Seq(Seq(98, 102, 106, 110).map(_.toByte), Seq(114.toByte)))
    // A sub-4-byte ragged tail re-encodes as a ZERO-LENGTH chunk (frame
    // count must keep matching the avih header), and videoFrameStats
    // reads it as n_bytes 0 / sum 0 / min-max NULL.
    val d2 = Seq((2L, "abcdefghijklmnopqr", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stats = Multimodal.videoFrameStats(
        Multimodal.decodeAviFrames(spark, Multimodal.resize(spark, Multimodal.toAvi(d2), Codec.Avi, Box(4))))
      .orderBy("frame_idx").collect()
    assert(stats.length === 2)
    assert(stats(1).getAs[Long]("n_bytes") === 0L)
    assert(stats(1).getAs[Long]("sum_byte") === 0L)
    assert(stats(1).isNullAt(stats(1).fieldIndex("min_byte")))
    // The output is still router-recognizable video.
    val routed = Multimodal.extractFeatures(spark, resized).collect().head
    assert(routed.getAs[String]("kind") === "avi")
  }

  test("mediaTransformInventory: valid payloads transform and re-decode; corrupt ones quarantine; the rest pass through") {
    def pp(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"), col("payload"))
    val mk = (id: Long, t: String) => Seq((id, t, "en", "s", t.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = pp(Multimodal.toPgm(mk(0L, "abcdefghij")))              // 10 px → 2
      .unionByName(pp(Multimodal.toWav(mk(1L, "abcdefgh"))))            // 8 samples → 2
      .unionByName(pp(Multimodal.toAvi(mk(2L, "abcdefghijklmnopqrstuv")))) // 22 bytes → 5
      .unionByName(pp(Multimodal.toPng(mk(3L, "pngpayload here"))))     // 2 px/row → sub-block
      .unionByName(pp(Multimodal.toMedia(mk(4L, "raw text"))))          // no claim
      .unionByName(pp(Multimodal.toPgm(mk(5L, "abc"))))                 // sub-block → 0
      .unionByName(pp(Multimodal.toBmp(mk(8L, "abcdefghijklmnopqrstuvwx")))) // 4 px/row → 1
    // Doc 6: a PGM whose claim survives but whose raster is cut — the
    // transform must quarantine it, not kill the task. Doc 7: color —
    // 24 text bytes = 8 RGB pixels → 2 output pixels.
    val damaged = pp(Multimodal.toPgm(mk(6L, "grayscale pixel data")))
      .select(col("doc_id"), substring(col("payload"), 1, 8).as("payload"))
    val color = pp(Multimodal.toPpm(mk(7L, "abcdefghijklmnopqrstuvwx")))
    val out = Multimodal.mediaTransformInventory(
        spark, media.unionByName(damaged).unionByName(color))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out(0L) === (("pgm", true, Some(2L))))
    assert(out(1L) === (("wav", true, Some(2L))))
    assert(out(2L) === (("avi", true, Some(5L))))
    // PNG is transformable since r18's resizePng: 15 chars → 2 px/row →
    // sub-block at kx=4 → geom 0 (was a passthrough before the arm).
    assert(out(3L) === (("png", true, Some(0L))))
    assert(out(4L) === (("passthrough", true, Some(-1L))))
    assert(out(5L) === (("pgm", true, Some(0L))))
    assert(out(6L) === (("pgm", false, None)))
    assert(out(7L) === (("ppm", true, Some(2L))))
    // BMP: 24 chars → 2 rows × 4 px → 1 px/row → n_px 2.
    assert(out(8L) === (("bmp", true, Some(2L))))
  }

  test("resizePpm: per-channel box decimation never mixes channels; sub-block drops; real PPM round trip") {
    // 24 chars = 8 RGB pixels; kx=4 → 2 output pixels. Channel c of
    // output pixel j = trunc mean of bytes {3(4j+p)+c}: e.g. output 0's
    // R = mean('a','d','g','j') = (97+100+103+106)/4 = 101.
    val d = Seq((1L, "abcdefghijklmnopqrstuvwx", "en", "s", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toPpm(d), Codec.Ppm, Box(4)))(Multimodal.ppmFeatures)
      .collect().head
    assert(f.width === 2 && f.height === 1 && f.n_px === 2L)
    assert(f.r_mean === Some((101 + 113) / 2.0))
    assert(f.g_mean === Some((102 + 114) / 2.0))
    assert(f.b_mean === Some((103 + 115) / 2.0))
    assert(f.min_px === Some(101) && f.max_px === Some(115))
    // Sub-block input (fewer than 4 pixels) produces no output row.
    val tiny = Seq((2L, "abcdefghi", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Multimodal.resize(spark, Multimodal.toPpm(tiny), Codec.Ppm, Box(4)).collect().isEmpty)
  }

  test("resizePng: decode through the compression boundary, per-channel decimation, real PNG round trip") {
    // 24 chars → 2 rows × 4 RGB pixels; kx=4 → 1 pixel per row.
    // Row 0 ch0 = mean('a','d','g','j') = 101; row 1 ch0 = 113 (trunc).
    val d = Seq((1L, "abcdefghijklmnopqrstuvwx", "en", "s", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toPng(d), Codec.Png, Box(4)))(Multimodal.pngFeatures)
      .collect().head
    assert(f.width === 1 && f.height === 2 && f.n_px === 2L)
    assert(f.r_mean === Some((101 + 113) / 2.0))
    assert(f.g_mean === Some((102 + 114) / 2.0))
    assert(f.b_mean === Some((103 + 115) / 2.0))
    assert(f.min_px === Some(101) && f.max_px === Some(115))
    assert(f.top_row_mean === Some((101 + 102 + 103) / 3.0))
    // 2-D: ky=2 folds both rows into one; block = 2×2 pixels per channel.
    val f2 = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toPng(d), Codec.Png, Box(2, 2)))(Multimodal.pngFeatures)
      .collect().head
    assert(f2.width === 2 && f2.height === 1)
    assert(f2.min_px === Some((97 + 100 + 109 + 112) / 4))
    // Sub-block input drops; the router still claims the resized output.
    val tiny = Seq((2L, "abcdefghijklmnopqrst", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Multimodal.resize(spark, Multimodal.toPng(tiny), Codec.Png, Box(4)).collect().isEmpty)
    val routed = Multimodal.extractFeatures(
      spark, Multimodal.resize(spark, Multimodal.toPng(d), Codec.Png, Box(4))).collect().head
    assert(routed.getAs[String]("kind") === "png")
  }

  test("resizeBmp: bottom-up rows, stride padding, and the BGR swizzle stay invisible to the pixel math") {
    // Same raster as the PNG test (2 rows × 4 RGB px from 24 chars), so
    // the expected stats are identical — any swizzle/stride/row-order
    // slip in either codec half shows up as a disagreement here.
    val d = Seq((1L, "abcdefghijklmnopqrstuvwx", "en", "s", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toBmp(d), Codec.Bmp, Box(4)))(Multimodal.bmpFeatures)
      .collect().head
    assert(f.width === 1 && f.height === 2 && f.n_px === 2L && f.bit_count === 24)
    assert(f.r_mean === Some((101 + 113) / 2.0))
    assert(f.g_mean === Some((102 + 114) / 2.0))
    assert(f.b_mean === Some((103 + 115) / 2.0))
    assert(f.min_px === Some(101) && f.max_px === Some(115))
    assert(f.top_row_mean === Some((101 + 102 + 103) / 3.0))
    // ky=2: both rows fold — matches resizePng's 2-D case exactly.
    val f2 = Multimodal.decodeEach(
      Multimodal.resize(spark, Multimodal.toBmp(d), Codec.Bmp, Box(2, 2)))(Multimodal.bmpFeatures)
      .collect().head
    assert(f2.width === 2 && f2.height === 1)
    assert(f2.min_px === Some((97 + 100 + 109 + 112) / 4))
    // Sub-block drops; output stride padding still decodes (width 1 →
    // 3-byte rows padded to 4).
    val tiny = Seq((2L, "abcdefghijklmnopqrst", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Multimodal.resize(spark, Multimodal.toBmp(tiny), Codec.Bmp, Box(4)).collect().isEmpty)
  }

  test("mediaInventory: corrupt payloads quarantine as rows; claim survival decides the route") {
    val d = Seq((0L, "grayscale pixel data", "en", "s", 20L),
      (1L, "sixteen samples!", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def pp(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"), col("payload"))
    val media = pp(Multimodal.toPgm(d.filter(col("doc_id") === 0L)))
      .unionByName(pp(Multimodal.toWav(d.filter(col("doc_id") === 1L))))
    // Undamaged: both decode with real geometry.
    val clean = Multimodal.mediaInventory(spark, media).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(clean(0L) === (("pgm", true, Some(20L))))
    assert(clean(1L) === (("wav", true, Some(16L))))
    // Truncated to 8 bytes: the PGM claim (2-byte magic) survives and
    // quarantines — an inspectable row, NOT a task failure; the WAV
    // claim (form type at bytes 9-12) dies and falls back to the
    // histogram, which cannot fail.
    val damaged = media.select(
      col("doc_id"), substring(col("payload"), 1, 8).as("payload"))
    val inv = Multimodal.mediaInventory(spark, damaged).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(inv(0L) === (("pgm", false, None)))
    assert(inv(1L) === (("histogram", true, Some(-1L))))
  }

  test("collocations scores whole-bit PMI and prunes below minCount") {
    val docs = Seq(
      // "new york" x5 (york-new x4 falls below minCount and is pruned).
      (0L, "new york new york new york new york new york", "en", "s", 44L),
      // filler bigrams, each once — all pruned.
      (1L, "alpha beta gamma delta", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.collocations(docs, minCount = 5L, topK = 10).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("w1") === "new" && r.getAs[String]("w2") === "york")
    assert(r.getAs[Long]("c_xy") === 5L)
    assert(r.getAs[Long]("c_x") === 5L && r.getAs[Long]("c_y") === 5L)
    // bits(5) + bits(14) - bits(5) - bits(5) = 3 + 4 - 3 - 3 = 1
    assert(r.getAs[Long]("pmi_bits") === 1L)
  }

  test("importanceWeights scores by the exact whole-bit likelihood ratio; paths agree") {
    val docs = Seq(
      (0L, "alpha alpha beta", "en", "tgt", 16L),
      (1L, "alpha beta beta", "en", "tgt", 15L),
      (2L, "gamma gamma delta", "en", "raw", 17L),
      (3L, "alpha alpha alpha", "en", "raw", 17L), // raw doc that LOOKS target
      (4L, "gamma delta delta", "en", "raw", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Models: c_t = {alpha 3, beta 3}, T_t = 6; c_r = {gamma 3, delta 3,
    // alpha 3}, T_r = 9; V = 4. Per-token bits(c_t+1) − bits(T_t+V) −
    // bits(c_r+1) + bits(T_r+V) with both totals at 4 bits:
    // alpha 3−3 = 0, beta 3−1 = 2, gamma 1−3 = −2, delta 1−3 = −2.
    val out = TextAnalysis.importanceWeights(docs, "tgt").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight_bits")).toMap
    assert(out === Map(0L -> 2L, 1L -> 4L, 2L -> -6L, 3L -> 0L, 4L -> -6L))
    val shuffleJoin = TextAnalysis.importanceWeights(docs, "tgt", broadcastModel = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight_bits")).toMap
    assert(shuffleJoin === out, "broadcast and shuffle model paths must agree exactly")
  }

  test("charEntropy: whole-bit surprisal by hand on three tiny documents") {
    val docs = Seq(
      doc(0L, "aab"),  // n=3 bits=2: a 2·(2−2)=0, b 1·(2−1)=1 → 1 bit
      doc(1L, "ab"),   // n=2 bits=2: 1+1 = 2 bits (uniform = max)
      doc(2L, "aaaa")) // n=4 bits=3: 4·(3−3) = 0 bits (constant = min)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_chars_seen") === 3L)
    assert(out(0L).getAs[Long]("distinct_chars") === 2L)
    assert(out(0L).getAs[Long]("sum_bits") === 1L)
    assert(out(0L).getAs[Long]("millibits_per_char") === 333L) // 1000 div 3
    assert(out(1L).getAs[Long]("sum_bits") === 2L)
    assert(out(1L).getAs[Long]("millibits_per_char") === 1000L)
    assert(out(2L).getAs[Long]("sum_bits") === 0L)
    assert(out(2L).getAs[Long]("millibits_per_char") === 0L)
  }

  test("stupidBackoffScore: hand-computed tribits, backoff fires on unseen, paths agree") {
    // Model: "a b a b" + "a c" → bigrams (a,b)×2 (b,a)×1 (a,c)×1;
    // prefixes a:3 b:1; unigrams a:3 b:2 c:1, t=6.
    val model = Seq(doc(10L, "a b a b"), doc(11L, "a c"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val probe = Seq(doc(0L, "a b c"), doc(1L, "z z"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.stupidBackoffScore(probe, modelDocs = Some(model))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 0: (a,b) observed — r = ⌊2·2²⁰/3⌋ = 699050, bits(r³) = 59 →
    // −2 tribits (⌊3·log2(2/3)⌋). (b,c) unseen — c backs off to its
    // unigram: r = ⌊1·2²⁰/6⌋ = 174762, bits(r³) = 53 → 53−61−4 = −12.
    assert(out(0L).getAs[Long]("n_pairs") === 2L)
    assert(out(0L).getAs[Long]("n_backoff") === 1L)
    assert(out(0L).getAs[Long]("score_tribits") === -14L)
    assert(out(0L).getAs[Double]("mean_tribits") === -7.0)
    // doc 1: (z,z) unseen AND z is true OOV — add-one floor cu=1 → −12.
    assert(out(1L).getAs[Long]("n_pairs") === 1L)
    assert(out(1L).getAs[Long]("n_backoff") === 1L)
    assert(out(1L).getAs[Long]("score_tribits") === -12L)
    val shuffled = TextAnalysis
      .stupidBackoffScore(probe, modelDocs = Some(model), broadcastModel = false)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_tribits"))).toMap
    assert(shuffled === out.map { case (k, r) => k -> r.getAs[Long]("score_tribits") },
      "broadcast and shuffle model paths must agree exactly")
    // Self-model (no held-out split): every bigram of "a b a c" is
    // observed — (a,b) P=1/2 → −3, (b,a) P=1/1 → 0, (a,c) P=1/2 → −3.
    // No backoff ever fires when the model IS the scored corpus.
    val self = TextAnalysis.stupidBackoffScore(
        Seq(doc(10L, "a b a c")).toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().head
    assert(self.getAs[Long]("n_backoff") === 0L)
    assert(self.getAs[Long]("score_tribits") === -6L)
  }

  test("kneserNeyScore: hand-computed discount + continuation interpolation") {
    // Model "a b a c" → bigrams (a,b)=1 (b,a)=1 (a,c)=1; nb=3.
    // Prefixes: a (c1=2, n1f=2), b (c1=1, n1f=1). Contexts all ncw=1.
    val model = Seq(doc(10L, "a b a c")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val probe = Seq(doc(0L, "a b z c")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.kneserNeyScore(probe, modelDocs = Some(model)).collect().head
    // (a,b): a = (4·1−3)·3 + 3·2·1 = 9, b = 4·2·3 = 24 → P = 3/8,
    //   r = 393216 = 3·2¹⁷, r³ = 27·2⁵¹ ∈ [2⁵⁵, 2⁵⁶) → 56−61 = −5.
    // (b,z): bigram unseen, prefix b seen, z floors at ncw=1:
    //   a = 0·3 + 3·1·1 = 3, b = 4·1·3 = 12 → P = 1/4, r = 2¹⁸,
    //   r³ = 2⁵⁴ → 55−61 = −6 (exactly log2(1/64)/3 tribits... −6 = 3·log2(1/4)).
    // (z,c): prefix z unseen → pure continuation: a = 1, b = 3 → P = 1/3,
    //   r = 349525, r³ ∈ [2⁵⁵, 2⁵⁶) → −5.
    assert(out.getAs[Long]("n_pairs") === 3L)
    assert(out.getAs[Long]("n_unseen_bigram") === 2L)
    assert(out.getAs[Long]("n_unseen_prefix") === 1L)
    assert(out.getAs[Long]("score_tribits") === -16L)
  }

  test("kneserNeyScore: continuation probability demotes single-context words") {
    // "f" occurs 3× but ONLY after "san" (ncw=1); "b" occurs 3× after three
    // different words (ncw=3). After an unseen prefix, KN must prefer "b" —
    // the Francisco property a frequency-backoff model cannot express.
    val model = Seq(doc(10L, "san f san f san f u b v b w b"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val probe = Seq(doc(0L, "q f"), doc(1L, "q b"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.kneserNeyScore(probe, modelDocs = Some(model))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_tribits")).toMap
    assert(out(1L) > out(0L),
      s"multi-context continuation must outscore single-context: $out")
    val shuffled = TextAnalysis
      .kneserNeyScore(probe, modelDocs = Some(model), broadcastModel = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_tribits")).toMap
    assert(shuffled === out, "broadcast and shuffle model paths must agree exactly")
  }

  test("bm25MoreLikeThis matches a brute-force integer model and releases its cache") {
    val texts = Map(
      0L -> "red fox jumps over the lazy dog",
      1L -> "red fox sleeps all day long",
      2L -> "the lazy dog sleeps here",
      3L -> "quick red fox jumps high today",
      4L -> "dogs and foxes differ greatly",
      5L -> "red fox jumps over tall fences")
    val docs = texts.toSeq.map { case (id, t) => doc(id, t) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // Brute-force replica of the exact-integer scoring (Long division on
    // nonnegative values == Spark div == DuckDB //).
    def bigrams(s: String): Seq[String] =
      s.trim.split("\\s+").toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    val postings: Map[(Long, String), Long] = texts.toSeq
      .flatMap { case (id, t) => bigrams(t).map(b => (id, b)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val dl: Map[Long, Long] =
      postings.groupBy(_._1._1).map { case (id, m) => id -> m.values.sum }
    val dfm: Map[String, Long] =
      postings.groupBy(_._1._2).map { case (t, m) => t -> m.size.toLong }
    val nDocs = dl.size.toLong
    val a10 = (10L * dl.values.sum) / nDocs
    def bits(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    def score(q: Long, d: Long): (Long, Long) = {
      val shared = postings.keys.collect { case (`q`, t) if postings.contains((d, t)) => t }.toSeq
      val s = shared.map { t =>
        val tf = postings((d, t))
        (bits(nDocs) - bits(dfm(t))) *
          ((22L * tf * a10 * 1000000L) / (10L * tf * a10 + 3L * a10 + 90L * dl(d)))
      }.sum
      (s, shared.size.toLong)
    }
    val expected = for {
      q <- texts.keys.toSeq if q % 3L == 0L
      ranked = texts.keys.toSeq.filter(_ != q)
        .map(d => (d, score(q, d))).filter(_._2._2 > 0)
        .sortBy { case (d, (s, _)) => (-s, d) }.take(3)
      ((d, (s, m)), i) <- ranked.zipWithIndex
    } yield (q, d, i + 1, s, m)

    val before = spark.sparkContext.getPersistentRDDs.size
    val got = TextAnalysis.withBm25MoreLikeThis(docs, queryMod = 3L, topK = 3) {
      _.collect().map(r => (
        r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rnk"), r.getAs[Long]("score"), r.getAs[Long]("matched")))
    }
    assert(got.toSet === expected.toSet)
    assert(got.exists(_._4 > 0L), "scores must not degenerate to zero")
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "bracket must release the postings index")
  }

  test("unigram trainer: chars never pruned, vocab bounded, deterministic") {
    val corpus = Seq(
      doc(0L, "abab abab ab cd cd dab"),
      doc(1L, "abab cd ab"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vocab = TextAnalysis.unigramTrainVocab(corpus)
    val pieces = vocab.map(_._1)
    // Coverage: every corpus character survives every prune round.
    assert(Set("a", "b", "c", "d").subsetOf(pieces.toSet))
    // Multi-char pieces respect the keep bound; counts are nonnegative.
    assert(pieces.count(_.length >= 2) <= 24)
    assert(vocab.forall(_._2 >= 0L))
    // Output is sorted by piece and duplicate-free.
    assert(pieces === pieces.sorted && pieces.distinct === pieces)
    // Determinism: retraining reproduces the identical table.
    assert(TextAnalysis.unigramTrainVocab(corpus) === vocab)
  }

  test("unigram Viterbi picks min cost, then fewest pieces, then sep-first path") {
    import scala.jdk.CollectionConverters._
    def seg(w: String, costs: Map[String, Long]) = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      costs.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
      graft.expressions.UnigramEncode
        .segment(w, m, costs.keys.map(_.length).max).toSeq
    }
    // Cost wins outright: ab is cheap.
    assert(seg("abab", Map("a" -> 2L, "b" -> 2L, "ab" -> 1L)) === Seq("ab", "ab"))
    // Cost tie -> fewer pieces.
    assert(seg("ab", Map("a" -> 1L, "b" -> 1L, "ab" -> 2L)) === Seq("ab"))
    // (cost, np) tie -> lexicographically smallest SEP-joined path:
    // "a<sep>bc" < "ab<sep>c" because the separator sorts below ASCII.
    assert(seg("abc", Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "ab" -> 2L, "bc" -> 2L))
      === Seq("a", "bc"))
  }

  test("unigram Viterbi agrees with brute-force enumeration of all segmentations") {
    val costs = Map("a" -> 3L, "b" -> 4L, "c" -> 5L, "ab" -> 5L, "bc" -> 4L,
      "ca" -> 9L, "abc" -> 9L, "bca" -> 8L)
    val sep = graft.expressions.UnigramEncode.Sep
    def allSegs(w: String): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(3, w.length)).flatMap { l =>
        val h = w.substring(0, l)
        if (costs.contains(h)) allSegs(w.substring(l)).map(h +: _) else Seq.empty
      }
    val m = new java.util.HashMap[String, java.lang.Long]()
    costs.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    for (w <- Seq("abc", "abca", "bcabc", "abcabca", "cab", "aabbcc")) {
      val expect = allSegs(w)
        .map(p => (p.map(costs).sum, p.length, p.mkString(sep.toString)))
        .min
      val got = graft.expressions.UnigramEncode.segment(w, m, 3).toSeq
      assert((got.map(costs).sum, got.length, got.mkString(sep.toString)) === expect,
        s"word $w")
    }
  }

  test("unigram encode: conservation, vocab-only pieces, broadcast replay per TYPE") {
    val corpus = Seq(
      doc(0L, Seq.fill(80)("abab").mkString(" ")),
      doc(1L, Seq.fill(80)("dab cd").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vocab = TextAnalysis.unigramTrainVocab(corpus)
    val df = TextAnalysis.unigramEncodeWords(corpus, vocab)
    assert(df.count() === 240)
    val rows = df.collect()
    val vset = vocab.map(_._1).toSet
    rows.foreach { r =>
      val w = r.getAs[String]("w")
      val ps = r.getSeq[String](r.fieldIndex("pieces"))
      assert(ps.mkString("") === w, s"pieces must concatenate to $w")
      assert(ps.forall(vset), s"pieces of $w outside vocab")
    }
    // Same plan discipline as BPE encode: the Viterbi replay lives on
    // the broadcast distinct-type side, never the token stream.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    def replayNodes(p: SparkPlan): Seq[SparkPlan] =
      walk(p).filter(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.expressions.UnigramEncode])))
    val plan = df.queryExecution.executedPlan
    val join = walk(plan).collectFirst { case j: BroadcastHashJoinExec => j }
    assert(join.isDefined, s"no broadcast join in unigram encode plan:\n$plan")
    assert(replayNodes(join.get.left).isEmpty, s"replay on token side:\n$plan")
    assert(replayNodes(join.get.right).nonEmpty, s"no replay on vocab side:\n$plan")
    // Shuffle path returns identical encodings.
    val shuffled = TextAnalysis.unigramEncodeWords(corpus, vocab, broadcastVocab = false)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Long]("n_pieces")))
    val b2 = df.orderBy("doc_id", "pos").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Long]("n_pieces")))
    assert(shuffled.toSeq === b2.toSeq)
  }

  test("learned quality weights separate class-skewed tokens; scorer gates at 0") {
    // 'junk' appears only in y=false docs, 'good' only in y=true docs;
    // 'both' is balanced. 1/3-bit log-odds must separate them.
    val corpus = Seq(
      doc(0L, Seq.fill(30)("good both").mkString(" ")),
      doc(1L, Seq.fill(30)("good both").mkString(" ")),
      doc(2L, Seq.fill(30)("junk both").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val labels = Seq((0L, true), (1L, true), (2L, false)).toDF("doc_id", "y")
    val w = TextAnalysis.trainQualityWeights(corpus, labels)
      .collect().map(r => r.getAs[String]("w") -> r.getAs[Long]("weight_tribits")).toMap
    assert(w("good") > 0, s"good should score positive: $w")
    assert(w("junk") < 0, s"junk should score negative: $w")
    assert(w("good") > w("both") && w("both") > w("junk"))
    val scored = TextAnalysis.scoreQuality(corpus, TextAnalysis.trainQualityWeights(corpus, labels))
      .orderBy("doc_id").collect()
    assert(scored.map(_.getAs[Boolean]("pred")).toSeq === Seq(true, true, false))
    // Every doc has 60 tokens; score = 30*w(tok) + 30*w(both).
    assert(scored.map(_.getAs[Long]("n_tokens")).toSeq === Seq(60L, 60L, 60L))
    assert(scored(0).getAs[Long]("score_tribits") === 30L * w("good") + 30L * w("both"))
  }

  test("scoreQuality: unseen tokens contribute zero; broadcast and shuffle paths agree") {
    val train = Seq(doc(0L, "good good"), doc(1L, "junk junk"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val labels = Seq((0L, true), (1L, false)).toDF("doc_id", "y")
    val weights = TextAnalysis.trainQualityWeights(train, labels)
    val target = Seq(doc(7L, "unseen tokens only here"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.scoreQuality(target, weights).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("score_tribits") === 0L)
    assert(r(0).getAs[Boolean]("pred") === true) // 0 threshold is inclusive
    val both = Seq(doc(8L, "good junk unseen"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b = TextAnalysis.scoreQuality(both, weights).collect()(0).getAs[Long]("score_tribits")
    val sh = TextAnalysis.scoreQuality(both, weights, broadcastModel = false)
      .collect()(0).getAs[Long]("score_tribits")
    assert(b === sh)
  }

  test("chiSquareTerms: exact 2x2 chi2 by hand, degenerate margins score 0, direction flag") {
    // Presence tables (n_pos = n_neg = 2): spam {a=2,b=0}, ham {a=1,b=2},
    // eggs {a=1,b=1}, the {a=2,b=2} (in every doc — zero margin).
    val corpus = Seq(
      doc(1L, "spam the spam eggs"), doc(2L, "spam the ham"),
      doc(3L, "ham the eggs"), doc(4L, "ham the"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val labels = Seq((1L, true), (2L, true), (3L, false), (4L, false)).toDF("doc_id", "y")
    val out = TextAnalysis.chiSquareTerms(corpus, labels, minDf = 1L, topK = 10)
      .collect()
    val byTok = out.map(r => r.getAs[String]("t") -> r).toMap
    // spam: det = 2*2-0*0 = 4, den = 2*2*2*2 = 16 -> 1e6*4*16/16 = 4e6.
    assert(byTok("spam").getAs[Long]("chi2_micro") === 4000000L)
    assert(byTok("spam").getAs[Boolean]("enriched"))
    // ham: det = 1*0-2*1 = -2, den = 3*1*2*2 = 12 -> (1e6*4*4) div 12 = 1333333.
    assert(byTok("ham").getAs[Long]("chi2_micro") === 1333333L)
    assert(!byTok("ham").getAs[Boolean]("enriched"))
    // eggs: balanced, det = 0; the: zero margin (c+d = 0) — guard, not error.
    assert(byTok("eggs").getAs[Long]("chi2_micro") === 0L)
    assert(byTok("the").getAs[Long]("chi2_micro") === 0L)
    // Rank order (chi2 desc, token asc): spam, ham, then {eggs, the} at 0.
    assert(out.map(_.getAs[String]("t")).take(3).toSeq === Seq("spam", "ham", "eggs"))
    // minDf prunes below-threshold document frequencies.
    val pruned = TextAnalysis.chiSquareTerms(corpus, labels, minDf = 4L, topK = 10)
      .collect().map(_.getAs[String]("t")).toSet
    assert(pruned === Set("the"))
  }

  test("PNG codec: real zlib round-trip, Sub filter un-filtered, compression observed") {
    val text = ("abcdef" * 40) + "xyzw"  // 244 bytes -> w=40, trailing 4 dropped
    val corpus = Seq(doc(5L, text)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.decodeEach(Multimodal.toPng(corpus))(Multimodal.pngFeatures).collect()(0)
    assert(f.width === 40 && f.height === 2 && f.bit_depth === 8 && f.color_type === 2)
    assert(f.n_px === 80L)
    // Expected moments straight from the text bytes (image order).
    val bytes = text.getBytes("UTF-8").take(240).map(_ & 0xff)
    def chMean(ch: Int) = bytes.indices.collect { case i if i % 3 == ch => bytes(i) }.sum / 80.0
    assert(f.r_mean.get === chMean(0) && f.g_mean.get === chMean(1) && f.b_mean.get === chMean(2))
    assert(f.top_row_mean.get === bytes.take(120).sum / 120.0)
    assert(f.min_px.get === bytes.min && f.max_px.get === bytes.max)
    // REAL compression: highly repetitive text deflates well below raw.
    assert(f.raw_len === 2L * (1 + 3 * 40))
    assert(f.idat_len < f.raw_len, s"no compression: idat=${f.idat_len} raw=${f.raw_len}")
  }

  test("PNG decoder: CRC corruption, truncation, bad filters all throw; Up filter decodes") {
    val good = Multimodal.PngCodec.encode(("spark" * 20).getBytes("UTF-8"))
    // Flip one byte inside the IDAT data region: CRC must catch it.
    val corrupted = good.clone()
    corrupted(good.length - 20) = (corrupted(good.length - 20) ^ 0x5a).toByte
    intercept[Exception] { Multimodal.pngFeatures(0L, corrupted) }
    intercept[Exception] { Multimodal.pngFeatures(0L, good.take(good.length - 6)) }
    intercept[Exception] { Multimodal.pngFeatures(0L, "not a png at all".getBytes) }
    // Foreign file with an Up-filtered second row: build it by hand.
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]) = {
      val t = tag.getBytes("US-ASCII"); val c = new java.util.zip.CRC32
      c.update(t); c.update(data)
      be32(data.length.toLong) ++ t ++ data ++ be32(c.getValue)
    }
    val w = 2
    // Row 0 = (10,20,30),(40,50,60) None; row 1 stored as Up deltas of
    // (11,22,33),(44,55,66) -> raw deltas (1,2,3),(4,5,6).
    val raw = Array[Byte](0, 10, 20, 30, 40, 50, 60, 2, 1, 2, 3, 4, 5, 6)
    val d = new java.util.zip.Deflater(6); d.setInput(raw); d.finish()
    val buf = new Array[Byte](64); val out = new java.io.ByteArrayOutputStream
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    val png = sig ++ chunk("IHDR", be32(w.toLong) ++ be32(2L) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", out.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    val f = Multimodal.pngFeatures(9L, png)
    assert(f.top_row_mean.get === (10 + 20 + 30 + 40 + 50 + 60) / 6.0)
    // Overall means include the Up-reconstructed second row (11..66).
    assert(f.r_mean.get === (10 + 40 + 11 + 44) / 4.0)
    assert(f.max_px.get === 66)
  }

  test("pgmDHash: exact segment bits; a global brightness shift keeps the hash") {
    def strip(id: Long, px: Array[Int]): (Long, Array[Byte]) =
      (id, (s"P5\n${px.length} 1\n255\n".getBytes("UTF-8") ++ px.map(_.toByte)))
    // segs=3 over 6 px: segment sums (30, 40, 10).
    // bit0: 30 > 40 no; bit1: 40 > 10 yes -> hash 2.
    val base = Array(10, 20, 30, 10, 5, 5)
    val df = Seq(strip(1L, base), strip(2L, base.map(_ + 50)))
      .toDF("doc_id", "payload")
    val out = Multimodal.pgmDHash(spark, df, segs = 3).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out(1L).n_px === 6L)
    assert(out(1L).dhash === 2L)
    // +50 on every pixel shifts all segment means together: same bits.
    assert(out(2L).dhash === 2L)
    // Empty raster hashes to 0.
    val empty = Seq((3L, "P5\n0 1\n255\n".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.pgmDHash(spark, empty).collect().head.dhash === 0L)
  }

  test("vocabularyGrowth: exact tokens/new-types curve over doc-order halves") {
    // Halves: {d1 "a b", d2 "b c"} then {d3 "c d", d4 "a d e"}.
    // Bucket 0: 4 tokens, first-seen types a,b,c. Bucket 1: 5 more
    // tokens (cum 9), new types d,e (cum 5).
    val docs = Seq(
      (1L, "a b"), (2L, "b c"), (3L, "c d"), (4L, "a d e"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.vocabularyGrowth(docs, buckets = 2).orderBy("bucket")
      .collect().map(r => (
        r.getAs[Long]("bucket"), r.getAs[Long]("n_docs_in"),
        r.getAs[Long]("tokens_cum"), r.getAs[Long]("new_types"),
        r.getAs[Long]("types_cum")))
    assert(out.toSeq === Seq((0L, 2L, 4L, 3L, 3L), (1L, 2L, 9L, 2L, 5L)))
  }

  test("vocabularyGrowth: distributed rank branch equals the single-window branch, empty too") {
    // The branch is chosen by the scan's partition count against
    // defaultParallelism: one partition takes the single rank window, at
    // least defaultParallelism partitions the prefix-count path.
    val wide = spark.sparkContext.defaultParallelism * 2
    val text = concat_ws(" ", Seq(5, 11, 3).map(m => concat(lit("w"), (col("id") % m).cast("string"))): _*)
    val docs = spark.range(1, 41).select(
      col("id").as("doc_id"), text.as("text"), lit("en").as("lang"), lit("s").as("source"),
      length(text).cast("long").as("n_chars"))
    for (input <- Seq(docs, docs.filter(col("doc_id") > 1000))) {
      def curve(df: org.apache.spark.sql.DataFrame) =
        TextAnalysis.vocabularyGrowth(df, buckets = 4).orderBy("bucket").collect().toSeq
      val narrow = input.coalesce(1)
      val spread = input.repartition(wide)
      assert(narrow.rdd.getNumPartitions === 1)
      assert(spread.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
      val got = curve(spread)
      assert(got === curve(narrow))
      assert(got.length === (if (input eq docs) 4 else 0))
    }
  }

  test("tokenizerScorecard: totals, distinct pieces used, exact chars-per-piece ppm") {
    // 3 word occurrences, 8 chars, 5 pieces over 3 distinct pieces:
    // cpp = 8/5 -> 1600000 ppm exactly.
    val enc = Seq(
      ("abc", Seq("ab", "c"), 2L),
      ("abc", Seq("ab", "c"), 2L),
      ("dd", Seq("dd"), 1L))
      .toDF("w", "pieces", "n_pieces")
    val out = TextAnalysis.tokenizerScorecard(enc, "x").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("family") === "x")
    assert(r.getAs[Long]("n_words") === 3L)
    assert(r.getAs[Long]("n_chars") === 8L)
    assert(r.getAs[Long]("n_pieces") === 5L)
    assert(r.getAs[Long]("distinct_pieces") === 3L)
    assert(r.getAs[Long]("cpp_ppm") === 1600000L)
  }

  test("topNgrams: overlap-counted frequencies, deterministic tie-break, top-k cut") {
    val docs = Seq(
      (0L, "a b a b a"),   // "a b" x2, "b a" x2 (overlapping)
      (1L, "a b c"),       // "a b", "b c"
      (2L, "z")            // too short for bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(docs, 2, 2).collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("cnt")))
    // counts: "a b" 3, "b a" 2, "b c" 1 -> top2 = a b, b a.
    assert(out.toSeq === Seq(("a b", 3L), ("b a", 2L)))
    // k past the vocabulary: ties at cnt=1 come back phrase-ascending.
    val out3 = TextAnalysis.topNgrams(docs, 2, 3).collect()
      .map(r => r.getAs[String]("phrase"))
    assert(out3.toSeq === Seq("a b", "b a", "b c"))
  }

  test("phraseSearch: overlapping matches, repeated-word phrases, absent phrase") {
    val docs = Seq(
      (0L, "a a a b"),     // "a a" matches at 0 and 1 (overlap); "a b" at 2
      (1L, "b a b"),       // "a b" at 1; "a a" absent
      (2L, "")             // empty doc: no tokens match
    ).toDF("doc_id", "text")
    val phrases = Seq("a a", "a b", "q q q").toDF("phrase")
    val out = TextAnalysis.phraseSearch(docs, phrases).collect()
      .map(r => ((r.getAs[String]("phrase"), r.getAs[Long]("doc_id")),
        (r.getAs[Long]("n_matches"), r.getAs[Long]("first_pos")))).toMap
    assert(out(("a a", 0L)) === ((2L, 0L)))
    assert(out(("a b", 0L)) === ((1L, 2L)))
    assert(out(("a b", 1L)) === ((1L, 1L)))
    assert(!out.contains(("a a", 1L)))
    assert(out.keys.forall(_._1 != "q q q"))
    assert(out.size === 3)
  }

  test("luhnCheck validates the canonical card checksums, odd lengths included") {
    import spark.implicits._
    val df = Seq(
      (1L, "4111111111111111"), // the classic valid 16-digit test PAN
      (2L, "4111111111111112"), // off-by-one check digit — invalid
      (3L, "79927398713"),      // Wikipedia's 11-digit Luhn example, valid
      (4L, "79927398710"),      // same payload, wrong check digit
      (5L, "0000000000000000"))
      .toDF("doc_id", "cand")
    val out = TextAnalysis.luhnCheck(df, col("doc_id"), col("cand")).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_digits"), r.getAs[Long]("luhn_mod"), r.getAs[Boolean]("luhn_valid")))
      .toMap
    assert(out(1L) === ((16L, 0L, true)))
    assert(out(2L)._3 === false && out(2L)._2 === 1L)
    assert(out(3L) === ((11L, 0L, true)))
    assert(out(4L)._3 === false)
    assert(out(5L) === ((16L, 0L, true))) // all-zeros is trivially valid
  }

  test("bleuStats: clipped modified precision, every (pair, n) row, short-side NULLs") {
    val pairs = Seq(
      // The classic clipping case: candidate repeats "the cat" —
      // unigram matches clip at ref counts (the:2, cat:1).
      (0L, "the cat the cat on the mat", "the cat is on the mat"),
      // Shorter than n for n >= 3: totals 0, NULL precision.
      (1L, "a b", "a b"))
      .toDF("pair_id", "cand", "ref")
    val out = TextAnalysis.bleuStats(pairs).collect()
      .map(r => (r.getAs[Long]("pair_id"), r.getAs[Long]("n")) -> r).toMap
    assert(out.size === 8, "4 rows per pair, present even when empty")
    val u = out((0L, 1L))
    assert(u.getAs[Long]("cand_len") === 7L && u.getAs[Long]("ref_len") === 6L)
    assert(u.getAs[Long]("n_total") === 7L && u.getAs[Long]("n_match") === 5L)
    assert(u.getAs[Long]("prec_ppm") === 714285L)
    // ROUGE-1 recall: 5 clipped matches over 6 reference unigrams.
    assert(u.getAs[Long]("n_ref_total") === 6L)
    assert(u.getAs[Long]("rouge_recall_ppm") === 833333L)
    val b = out((0L, 2L))
    assert(b.getAs[Long]("n_total") === 6L && b.getAs[Long]("n_match") === 3L)
    assert(b.getAs[Long]("n_ref_total") === 5L && b.getAs[Long]("rouge_recall_ppm") === 600000L)
    val t = out((0L, 3L))
    assert(t.getAs[Long]("n_total") === 5L && t.getAs[Long]("n_match") === 1L)
    val q = out((0L, 4L))
    assert(q.getAs[Long]("n_total") === 4L && q.getAs[Long]("n_match") === 0L)
    assert(q.isNullAt(q.fieldIndex("prec_ppm")) === false && q.getAs[Long]("prec_ppm") === 0L)
    val s3 = out((1L, 3L))
    assert(s3.getAs[Long]("n_total") === 0L && s3.getAs[Long]("n_match") === 0L)
    assert(s3.isNullAt(s3.fieldIndex("prec_ppm")))
    assert(out((1L, 2L)).getAs[Long]("prec_ppm") === 1000000L)
  }

  test("wordpiece trainer: likelihood beats raw count, exact picounit scores, early stop") {
    // (a,##b) pair count 10 vs (c,##d) count 5 — but the DENOMINATORS
    // differ: a occurs 100 times (90 bare 'a' words), ##b only inside
    // 'ab'. score(a,##b) = 10·1e12/(100·10) = 1e10 < score(c,##d) =
    // 5·1e12/(10·5) = 1e11 — WordPiece merges (c,##d) first where raw-
    // count BPE would take (a,##b).
    val words = Seq.fill(10)("ab") ++ Seq.fill(90)("a") ++ Seq.fill(90)("b") ++
      Seq.fill(5)("cd") ++ Seq.fill(5)("c") ++ Seq.fill(5)("d")
    val corpus = Seq(doc(0L, words.mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val merges = TextAnalysis.wordpieceTrainMerges(corpus, numMerges = 8)
    assert(merges.map(m => (m._1, m._2, m._3, m._4)) ===
      Seq((0, "c", "##d", "cd"), (1, "a", "##b", "ab")))
    assert(merges(0)._5 === 5L && merges(0)._6 === 10L && merges(0)._7 === 5L)
    assert(merges(0)._8 === 100000000000L) // 5e12 / 50
    assert(merges(1)._8 === 10000000000L)  // 10e12 / 1000
    // Early stop: only 2 mergeable pairs existed despite numMerges = 8.
    assert(merges.length === 2)
    // Determinism.
    assert(TextAnalysis.wordpieceTrainMerges(corpus, numMerges = 8) === merges)
  }

  test("wordpiece trainer: ## continuation strips on merge, ties break lexicographically") {
    val corpus = Seq(doc(0L, "abc abc abc"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val merges = TextAnalysis.wordpieceTrainMerges(corpus, numMerges = 4)
    // Round 0: (a,##b) and (##b,##c) tie at score 1e12/3 — '#' < 'a'
    // picks (##b,##c), whose merged symbol keeps the LEFT ## prefix.
    assert(merges(0)._2 === "##b" && merges(0)._3 === "##c" && merges(0)._4 === "##bc")
    assert(merges(0)._8 === 1000000000000L / 3L)
    assert(merges(1)._2 === "a" && merges(1)._3 === "##bc" && merges(1)._4 === "abc")
    assert(merges.length === 2)
  }

  test("wordpiece greedy matcher: maximal munch, UNK on stall, empty word") {
    def seg(w: String, vocab: Seq[String]) = {
      val s = new java.util.HashSet[String]()
      vocab.foreach(s.add)
      val maxRaw = vocab.map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
      graft.expressions.WordpieceEncode.segment(w, s, maxRaw).toSeq
    }
    assert(seg("abc", Seq("a", "##b", "ab", "##c")) === Seq("ab", "##c"))
    // Greedy is NOT optimal: "abc"+"##d" (2 pieces) loses to nothing —
    // greedy takes the longest head even when a shorter head would
    // yield fewer total pieces elsewhere; here it IS "abc" then "##d".
    assert(seg("abcd", Seq("ab", "##cd", "a", "##b", "##c", "##d", "abc"))
      === Seq("abc", "##d"))
    // Initial vs continuation vocab entries are distinct namespaces.
    assert(seg("ba", Seq("a", "##b", "ab")) === Seq("[UNK]"))
    // Mid-word stall: 'a' matches, '##z' absent.
    assert(seg("az", Seq("a", "##b")) === Seq("[UNK]"))
    assert(seg("", Seq("a")) === Seq.empty)
  }

  test("wordpiece encode: conservation, prefix discipline, broadcast replay per TYPE") {
    val corpus = Seq(
      doc(0L, Seq.fill(80)("abab").mkString(" ")),
      doc(1L, Seq.fill(80)("dab cd").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val merges = TextAnalysis.wordpieceTrainMerges(corpus, numMerges = 6)
    val vocab = TextAnalysis.wordpieceVocab(corpus, merges)
    val df = TextAnalysis.wordpieceEncodeWords(corpus, vocab)
    assert(df.count() === 240)
    val vset = vocab.toSet
    df.collect().foreach { r =>
      val w = r.getAs[String]("w")
      val ps = r.getSeq[String](r.fieldIndex("pieces"))
      assert(ps.head == ps.head.stripPrefix("##"), "first piece is unprefixed")
      assert(ps.tail.forall(_.startsWith("##")), s"medial pieces of $w carry ##")
      assert(ps.head + ps.tail.map(_.stripPrefix("##")).mkString === w,
        s"pieces must reconstruct $w")
      assert(ps.forall(vset), s"pieces of $w outside vocab")
    }
    // The greedy replay must live on the broadcast distinct-type side.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val plan = df.queryExecution.executedPlan
    assert(walk(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "type-table join must broadcast")
    // An explicitly restricted vocabulary routes uncovered words to [UNK].
    val restricted = TextAnalysis.wordpieceEncodeWords(corpus, Seq("a", "##b", "ab"))
    val unk = restricted.filter(col("w") === "cd").select("pieces").head()
    assert(unk.getSeq[String](0) === Seq("[UNK]"))
  }

  test("JPEG codec: encode/decode round trip equals the plain-Scala DC model") {
    import spark.implicits._
    val texts = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog again and again! " * 3),
      2L -> ("z" * 64), // single flat block, extreme value
      3L -> ("a" * 63 + "Z" + "m" * 80)) // 2 blocks, a DC step between them
    val docs = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Multimodal.decodeEach(Multimodal.toJpeg(docs))(Multimodal.JpegCodec.decode)
      .collect().map(f => f.doc_id -> f).toMap
    texts.foreach { case (id, t) =>
      val nb = t.length / 64
      val dcs = (0 until nb).map { b =>
        val s = (0 until 64).map(i => t(64 * b + i).toInt.toLong).sum
        ((s - 8192L + 64L) / 128L) // truncating, the quantizer definition
      }
      val diffs = dcs.zip(0L +: dcs).map { case (d, p) => d - p }
      val cats = diffs.map(d => if (d == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(math.abs(d)))
      val dcLen = Map(0 -> 2, 1 -> 3, 2 -> 3, 3 -> 3, 4 -> 3, 5 -> 3,
        6 -> 4, 7 -> 5, 8 -> 6, 9 -> 7, 10 -> 8, 11 -> 9)
      val bits = cats.map(c => dcLen(c) + c + 4L).sum
      val f = got(id)
      assert(f.width === 8 * nb && f.height === 8 && f.n_blocks === nb.toLong)
      assert(f.dc_sum === dcs.sum && f.dc_min === dcs.min && f.dc_max === dcs.max,
        s"doc $id dc stats")
      assert(f.scan_bits === bits, s"doc $id scan bits")
      val recon = dcs.map(d => 64L * math.max(0L, math.min(255L, 128L + (16L * d + 4L) / 8L))).sum
      assert(f.recon_sum === recon, s"doc $id flat reconstruction")
    }
  }

  test("JPEG codec: restart intervals (DRI + cycling RSTn, DC predictor reset) round-trip") {
    val text = ("a" * 63 + "Z" + "m" * 64 + "q" * 70).getBytes("UTF-8") // 3 blocks
    val plainF = Multimodal.JpegCodec.decode(1L, Multimodal.JpegCodec.encode(text))
    val rst = Multimodal.JpegCodec.encode(text, restartInterval = 1)
    // The stream must really carry DRI and two restart markers.
    assert(rst.sliding(2).exists(a => (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xdd),
      "DRI segment missing")
    assert(rst.sliding(2).exists(a => (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xd0) &&
      rst.sliding(2).exists(a => (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xd1),
      "RST0/RST1 markers missing")
    val rstF = Multimodal.JpegCodec.decode(1L, rst)
    // Identical image content: dc/reconstruction stats match the plain
    // stream; scan_bits legitimately differ (every interval's first DC
    // diff re-encodes against a reset predictor).
    assert(rstF.n_blocks === plainF.n_blocks)
    assert(rstF.dc_sum === plainF.dc_sum && rstF.dc_min === plainF.dc_min &&
      rstF.dc_max === plainF.dc_max)
    assert(rstF.recon_sum === plainF.recon_sum)
    // A wrong-order restart marker must reject loudly.
    val idx = rst.indices.find(i =>
      (rst(i) & 0xff) == 0xff && (rst(i + 1) & 0xff) == 0xd0).get
    val corrupted = rst.clone()
    corrupted(idx + 1) = 0xd5.toByte
    val err = intercept[IllegalArgumentException] {
      Multimodal.JpegCodec.decode(1L, corrupted)
    }
    assert(err.getMessage.contains("RST"))
  }

  test("JPEG decoder: nonzero-AC foreign stream decodes through Huffman+IDCT") {
    // Splice a hand-written entropy stream (DC diff 0, one AC at zigzag
    // index 1, EOB) into a codec-produced single-block header: exercises
    // the AC run/size path and the general IDCT the DC-only gate never
    // reaches. Canonical codes for the embedded standard tables:
    // DC cat0 = '00' (2b); AC 0x01 = '00' (2b) + 1 magnitude bit; AC EOB
    // = '1010' (4b). Bit stream: 00 00 1 1010 -> 0x0D, pad 1s -> 0x7F.
    val base = Multimodal.JpegCodec.encode(Array.fill(64)('a'.toByte))
    // Locate the entropy segment: starts right after the SOS segment
    // (FF DA, len 8), ends at the EOI (FF D9) which terminates the file.
    val sosAt = base.indices.find(i =>
      (base(i) & 0xff) == 0xff && i + 1 < base.length && (base(i + 1) & 0xff) == 0xda).get
    val scanStart = sosAt + 2 + (((base(sosAt + 2) & 0xff) << 8) | (base(sosAt + 3) & 0xff))
    val header = base.slice(0, scanStart)
    val spliced = header ++ Array(0x0d.toByte, 0x7f.toByte, 0xff.toByte, 0xd9.toByte)
    val f = Multimodal.JpegCodec.decode(9L, spliced)
    assert(f.n_blocks === 1L && f.dc_sum === 0L && f.scan_bits === 9L)
    // Independent double-precision IDCT of the decoded coefficients
    // (DC=0; AC at natural index (u=1, v=0) dequantized to 1*16).
    var expect = 0L
    for (y <- 0 until 8; x <- 0 until 8) {
      val s = 16.0 * 0.7071067811865476 *
        math.cos((2 * x + 1) * 1 * math.Pi / 16) // u=1 basis, v=0 (C=1/sqrt2 on v)
      val px = math.max(0L, math.min(255L, math.round(s / 4.0) + 128L))
      expect += px
    }
    assert(f.recon_sum === expect, "general-IDCT reconstruction sum")
  }

  test("bilinearPlane: identity, exact midpoints, edge clamp, upscale, 2-D separability") {
    // Identity: same geometry returns the same pixels (num lands exactly
    // on each source center, remainder 0).
    val src = Array(10, 20, 30, 40, 50)
    assert(Multimodal.bilinearPlane(src, 5, 1, 5, 1).toSeq === src.toSeq)
    // 2x upscale of a 2-pixel row: centers at src positions -0.25, 0.25,
    // 0.75, 1.25 -> clamp, 3/4-1/4 mix, 1/4-3/4 mix, clamp.
    assert(Multimodal.bilinearPlane(Array(0, 100), 2, 1, 4, 1).toSeq ===
      Seq(0, 25, 75, 100))
    // 5 -> 3 non-integer downscale: x=1 samples source 7/6 ->
    // floor((5*20+5*30... ) ) exact fixed-point: num=(2x+1)*5-3, den=6.
    // x=0: num=2 -> i0=0,r=2 -> (4*10+2*20)/6=13; x=1: num=12 -> i0=2,r=0
    // -> 30; x=2: num=22 -> i0=3,r=4 -> (2*40+4*50)/6=46.
    assert(Multimodal.bilinearPlane(src, 5, 1, 3, 1).toSeq === Seq(13, 30, 46))
    // Separability: a 2-D gradient through both passes, hand-checked
    // corners (clamped) keep their values.
    val g = Array(
      0, 60,
      120, 255)
    val up = Multimodal.bilinearPlane(g, 2, 2, 4, 4)
    assert(up(0) === 0 && up(3) === 60 && up(12) === 120 && up(15) === 255)
    // Interior pixel (1,1): horizontal pass row0 -> (6*0+2*60)/8=15,
    // row1 -> (6*120+2*255)/8=153; vertical (6*15+2*153)/8=49.
    assert(up(4 * 1 + 1) === 49)
  }

  test("resizePgmTo / resizePpmTo: explicit-target bilinear round-trips through the codecs") {
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "ab", // upscale path (2 -> 48)
      3L -> ("x" * 100))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val pg = Multimodal.decodeEach(
        Multimodal.resize(spark, Multimodal.toPgm(docs), Codec.Pgm, Bilinear(48, 1)))(
        Multimodal.pgmFeatures)
      .collect().map(f => f.doc_id -> f).toMap
    assert(pg.size === 3)
    docs.select("doc_id", "text").as[(Long, String)].collect().foreach { case (id, t) =>
      val f = pg(id)
      assert(f.width === 48 && f.height === 1 && f.n_px === 48L)
      val bytes = t.getBytes("UTF-8").map(_ & 0xff)
      val expect = (0 until 48).map { ox =>
        val num = (2L * ox + 1) * bytes.length - 48
        if (num <= 0) bytes(0)
        else if (num >= (bytes.length - 1).toLong * 96) bytes.last
        else {
          val i0 = (num / 96).toInt; val r = num - i0 * 96
          (((96 - r) * bytes(i0) + r * bytes(i0 + 1)) / 96).toInt
        }
      }
      assert(f.mean_px.get === expect.sum.toDouble / 48.0, s"doc $id mean")
      assert(f.min_px.get === expect.min && f.max_px.get === expect.max, s"doc $id extremes")
    }
    // Color twin: constant-channel text pins channel independence (R
    // always 'a', G 'b', B 'c' -> means are exactly those bytes).
    val cdocs = Seq(4L -> ("abc" * 20)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val pp = Multimodal.decodeEach(
        Multimodal.resize(spark, Multimodal.toPpm(cdocs), Codec.Ppm, Bilinear(32, 2)))(
        Multimodal.ppmFeatures)
      .collect().head
    assert(pp.width === 32 && pp.height === 2 && pp.n_px === 64L)
    assert(pp.r_mean.get === 'a'.toInt.toDouble && pp.g_mean.get === 'b'.toInt.toDouble &&
      pp.b_mean.get === 'c'.toInt.toDouble)
    assert(pp.min_px.get === 'a'.toInt && pp.max_px.get === 'c'.toInt)
  }

  test("resampleWavTo: non-integer rate ratio, signed blends, drop rule, 16-bit round trip") {
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "ab", // 3*2/8 = 0 output samples -> drops
      3L -> "abc") // exactly one output sample (clamped blend)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Multimodal.decodeEach(
        Multimodal.resize(spark, Multimodal.toWav16(docs), Codec.Wav, Bilinear(3000)))(
        Multimodal.wavFeatures)
      .collect().map(f => f.doc_id -> f).toMap
    assert(got.keySet === Set(1L, 3L), "sub-sample doc must drop")
    docs.filter(col("doc_id") =!= 2L).select("doc_id", "text").as[(Long, String)]
      .collect().foreach { case (id, t) =>
        val amps = t.map(c => (c.toInt - 128) * 256)
        val n = amps.length
        val n2 = 3 * n / 8
        val expect = (0 until n2).map { j =>
          val num = (2L * j + 1) * n - n2
          val den = 2L * n2
          if (num <= 0) amps(0)
          else if (num >= (n - 1).toLong * den) amps(n - 1)
          else {
            val i0 = (num / den).toInt; val r = num - i0 * den
            (((den - r) * amps(i0) + r * amps(i0 + 1)) / den).toInt
          }
        }
        val f = got(id)
        assert(f.sample_rate === 3000 && f.bits_per_sample === 16 && f.n_channels === 1)
        assert(f.n_samples === n2.toLong, s"doc $id n_samples")
        assert(f.mean_amp.get === expect.sum.toDouble / n2, s"doc $id mean")
        assert(f.min_amp.get === expect.min && f.max_amp.get === expect.max, s"doc $id extremes")
      }
  }

  test("thumbnailMedia: every raster claim lands at the fixed target, audio at the fixed rate, rest passthrough") {
    import spark.implicits._
    type DF = org.apache.spark.sql.DataFrame
    def lake(rows: (Long, DF => DF)*): DF = {
      val base = Seq(
        (0L, "the quick brown fox jumps over the lazy dog and more text here!" * 2))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      rows.map { case (id, mk) =>
        mk(base.withColumn("doc_id", lit(id)))
          .select(col("doc_id"), col("payload"))
      }.reduce(_.unionByName(_))
    }
    val media = lake(
      1L -> (d => Multimodal.toPgm(d)),
      2L -> (d => Multimodal.toPpm(d)),
      3L -> (d => Multimodal.toBmp(d)),
      4L -> (d => Multimodal.toPng(d)),
      5L -> (d => Multimodal.toJpeg(d)),
      6L -> (d => Multimodal.toWav(d)),
      7L -> (d => Multimodal.toAvi(d)),
      8L -> (d => Multimodal.toMedia(d)))
    val thumbs = Multimodal.thumbnailMedia(spark, media, targetW = 24, targetH = 16)
    val routed = Multimodal.extractFeatures(spark, thumbs)
      .select(col("doc_id"), col("kind"),
        col("pgm.width").as("pgw"), col("ppm.width").as("ppw"),
        col("bmp.n_px").as("bpx"), col("png.n_px").as("gpx"),
        col("jpeg.width").as("jw"), col("jpeg.height").as("jh"),
        col("jpeg.n_blocks").as("jb"),
        col("wav.sample_rate").as("rate"), col("avi.n_frames").as("nf"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(routed(1L).getString(1) === "pgm" && routed(1L).getInt(2) === 24)
    assert(routed(2L).getString(1) === "ppm" && routed(2L).getInt(3) === 24)
    assert(routed(3L).getString(1) === "bmp" && routed(3L).getLong(4) === 384L)
    assert(routed(4L).getString(1) === "png" && routed(4L).getLong(5) === 384L)
    assert(routed(5L).getString(1) === "jpeg" && routed(5L).getInt(6) === 24 &&
      routed(5L).getInt(7) === 16 && routed(5L).getLong(8) === 6L)
    assert(routed(6L).getString(1) === "wav" && routed(6L).getInt(9) === 2000)
    // AVI thumbnails per frame: count preserved (128 text bytes → 8
    // frames of 16), every frame now exactly targetW bytes.
    assert(routed(7L).getString(1) === "avi" && routed(7L).getInt(10) === 8)
    val aviThumb = thumbs.filter(col("doc_id") === 7L)
      .select("payload").collect().head.getAs[Array[Byte]](0)
    val (thHdr, thFs) = Multimodal.AviDecoder.headerAndFrames(7L, aviThumb)
    assert(thHdr.width === 24L && thHdr.usPerFrame === 40000L)
    assert(thFs.forall(_._2.length === 24))
    assert(routed(8L).getString(1) === "histogram", "raw media must pass through")
  }

  test("resizeAviTo: per-frame bilinear to an explicit target, ragged tail gets its own ratio, zero-length frames survive") {
    // 22 chars → frames of 16 and 6; target 12 → 16→12 (non-integer 3/4
    // downscale) and 6→12 (upscale) under one kernel.
    val d = Seq((1L, "abcdefghijklmnopqrstuv", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val resized = Multimodal.resize(spark, Multimodal.toAvi(d), Codec.Avi, Bilinear(12))
    val payload = resized.select("payload").collect().head.getAs[Array[Byte]](0)
    val (hdr, fs) = Multimodal.AviDecoder.headerAndFrames(1L, payload)
    assert(hdr === Multimodal.AviHeader(40000L, 12L, 1L))
    assert(fs.map(_._2.length) === Seq(12, 12))
    // Frame 0 replays the shared bilinear kernel over bytes 'a'..'p'.
    val f0 = Multimodal.bilinearPlane(
      Array.tabulate(16)(i => 'a' + i), 16, 1, 12, 1).map(_.toByte).toSeq
    assert(fs.head._2.toSeq === f0)
    // Frame 1 upsamples the 6-byte tail 'q'..'v' to 12.
    val f1 = Multimodal.bilinearPlane(
      Array.tabulate(6)(i => 'q' + i), 6, 1, 12, 1).map(_.toByte).toSeq
    assert(fs(1)._2.toSeq === f1)
    // A zero-length frame (producible by the stride resize) stays a
    // zero-length chunk: the avih count keeps matching movi.
    val zeroFrame = Multimodal.resize(spark,
      Multimodal.resize(spark, Multimodal.toAvi(
        Seq((2L, "abcdefghijklmnopqr", "en", "s", 18L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")), Codec.Avi, Box(4)),
      Codec.Avi, Bilinear(5))
    val (h2, fs2) = Multimodal.AviDecoder.headerAndFrames(
      2L, zeroFrame.select("payload").collect().head.getAs[Array[Byte]](0))
    assert(h2.width === 5L)
    assert(fs2.map(_._2.length) === Seq(5, 0))
    // The output is still router-recognizable video.
    assert(Multimodal.extractFeatures(spark, resized)
      .collect().head.getAs[String]("kind") === "avi")
  }

  test("JPEG color: encodeColor/decodeColor replays the fixed-point transform per channel") {
    // Two solid 16×16 MCUs — every Y/Cb/Cr block flat, so the quantized
    // DC chain is exact-integer end to end.
    val mcus = Seq((10, 200, 30), (250, 5, 125))
    val w = 16 * mcus.size
    val h = 16
    val rgb = new Array[Int](3 * w * h)
    for (((r, g, b), m) <- mcus.zipWithIndex; yy <- 0 until h; xx <- 0 until 16) {
      val i = 3 * (yy * w + 16 * m + xx)
      rgb(i) = r; rgb(i + 1) = g; rgb(i + 2) = b
    }
    val p = Multimodal.JpegCodec.encodeColor(w, h, rgb)
    val f = Multimodal.JpegCodec.decodeColor(1L, p)
    def fwd(r: Int, g: Int, b: Int): (Int, Int, Int) = (
      (77 * r + 150 * g + 29 * b) / 256,
      128 + (128 * b - 43 * r - 85 * g) / 256,
      128 + (128 * r - 107 * g - 21 * b) / 256)
    def q(v: Int): Long = (64L * v - 8192L + 64L) / 128L
    val ys = mcus.map { case (r, g, b) => q(fwd(r, g, b)._1) }
    val cbs = mcus.map { case (r, g, b) => q(fwd(r, g, b)._2) }
    val crs = mcus.map { case (r, g, b) => q(fwd(r, g, b)._3) }
    assert(f.width === w && f.height === 16 && f.n_mcus === 2L)
    assert(f.y_dc_sum === 4 * ys.sum && f.y_dc_min === ys.min && f.y_dc_max === ys.max)
    assert(f.cb_dc_sum === cbs.sum && f.cb_dc_min === cbs.min && f.cb_dc_max === cbs.max)
    assert(f.cr_dc_sum === crs.sum && f.cr_dc_min === crs.min && f.cr_dc_max === crs.max)
    // The router-shape decode pools channels: 6 blocks per MCU.
    val pooled = Multimodal.JpegCodec.decode(1L, p)
    assert(pooled.n_blocks === 12L && pooled.width === w && pooled.height === 16)
    // Full RGB decode: flat blocks round-trip within the quantizer bound.
    val (dw, dh, px) = Multimodal.JpegCodec.decodeRgbPixels(1L, p)
    assert(dw === w && dh === h)
    for (m <- mcus.indices) {
      val i = 3 * (5 * w + 16 * m + 3) // an interior pixel of MCU m
      val (r0, g0, b0) = mcus(m)
      assert(math.abs(px(i) - r0) <= 20, s"R of MCU $m: ${px(i)} vs $r0")
      assert(math.abs(px(i + 1) - g0) <= 20, s"G of MCU $m: ${px(i + 1)} vs $g0")
      assert(math.abs(px(i + 2) - b0) <= 20, s"B of MCU $m: ${px(i + 2)} vs $b0")
    }
  }

  test("JPEG color: smooth gradient survives the lossy round trip, non-MCU-multiple geometry crops exactly") {
    val w = 40 // pads to 48 (edge replication), crops back on decode
    val h = 24 // pads to 32
    val rgb = Array.tabulate(3 * w * h) { i =>
      val pxi = i / 3
      val x = pxi % w
      val y = pxi / w
      (i % 3: @unchecked) match {
        case 0 => x * 5        // ≤ 195, no wrap — smooth planes
        case 1 => y * 9        // ≤ 207
        case 2 => x * 3 + y * 2 // ≤ 163
      }
    }
    val p = Multimodal.JpegCodec.encodeColor(w, h, rgb)
    val (dw, dh, out) = Multimodal.JpegCodec.decodeRgbPixels(1L, p)
    assert(dw === w && dh === h && out.length === 3 * w * h)
    val mae = (0 until 3 * w * h).map(i => math.abs(out(i) - rgb(i))).sum.toDouble / (3 * w * h)
    assert(mae < 16.0, s"mean abs error $mae exceeds the uniform-16 quantizer class")
  }

  test("JPEG color: stride resize and explicit-target thumbnail route through the color codec; router decodes color") {
    val d = Seq((1L, "abcdefghij", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.toJpegColor(d) // 3 MCUs, 48×16
    val f0 = Multimodal.decodeEach(media)(Multimodal.JpegCodec.decodeColor).collect().head
    assert(f0.width === 48 && f0.height === 16 && f0.n_mcus === 3L)
    // Stride 4×4: 48×16 → 12×4, still color.
    val fr = Multimodal.decodeEach(
      Multimodal.resize(spark, media, Codec.Jpeg, Box(4, 4)))(Multimodal.JpegCodec.decodeColor)
      .collect().head
    assert(fr.width === 12 && fr.height === 4 && fr.n_mcus === 1L)
    // Explicit-target 24×16 thumbnail, still color.
    val ft = Multimodal.decodeEach(
      Multimodal.resize(spark, media, Codec.Jpeg, Bilinear(24, 16)))(
      Multimodal.JpegCodec.decodeColor)
      .collect().head
    assert(ft.width === 24 && ft.height === 16 && ft.n_mcus === 2L)
    // The router's jpeg arm decodes color instead of throwing.
    val routed = Multimodal.extractFeatures(spark, media).collect().head
    assert(routed.getAs[String]("kind") === "jpeg")
    assert(Multimodal.mediaInventory(spark, media).collect()
      .head.getAs[Long]("geom") === 18L) // pooled blocks: 6 per MCU
  }

  test("JPEG color: restart markers reset all three DC predictors; stats equal the no-restart stream") {
    // 5 solid MCUs with a DRI of 2: RST fires twice mid-scan, the
    // per-component predictors reset, and the decoded per-channel DC
    // stats must equal the restart-free encoding of the same raster.
    val mcus = Seq((10, 200, 30), (250, 5, 125), (0, 0, 0), (255, 255, 255), (90, 40, 210))
    val w = 16 * mcus.size
    val h = 16
    val rgb = new Array[Int](3 * w * h)
    for (((r, g, b), m) <- mcus.zipWithIndex; yy <- 0 until h; xx <- 0 until 16) {
      val i = 3 * (yy * w + 16 * m + xx)
      rgb(i) = r; rgb(i + 1) = g; rgb(i + 2) = b
    }
    val plain = Multimodal.JpegCodec.decodeColor(
      1L, Multimodal.JpegCodec.encodeColor(w, h, rgb))
    val restarted = Multimodal.JpegCodec.decodeColor(
      1L, Multimodal.JpegCodec.encodeColor(w, h, rgb, restartInterval = 2))
    assert(restarted === plain)
    // And the full RGB decode agrees pixel-for-pixel.
    val (_, _, a) = Multimodal.JpegCodec.decodeRgbPixels(
      1L, Multimodal.JpegCodec.encodeColor(w, h, rgb))
    val (_, _, b) = Multimodal.JpegCodec.decodeRgbPixels(
      1L, Multimodal.JpegCodec.encodeColor(w, h, rgb, restartInterval = 2))
    assert(a.toSeq === b.toSeq)
  }

  test("JPEG decodeGrayPixels: flat stream reconstructs per-block constant raster") {
    val t = "a" * 63 + "Z" + "m" * 80 // 2 blocks with a DC step
    val (w, h, pix) = Multimodal.JpegCodec.decodeGrayPixels(
      1L, Multimodal.JpegCodec.encode(t.getBytes("UTF-8")))
    assert(w === 16 && h === 8 && pix.length === 128)
    val vs = (0 until 2).map { b =>
      val s = (0 until 64).map(i => t(64 * b + i).toLong).sum
      val dc = (s - 8192L + 64L) / 128L
      math.max(0L, math.min(255L, 128L + (16L * dc + 4L) / 8L)).toInt
    }
    for (y <- 0 until 8; x <- 0 until 16)
      assert(pix(y * 16 + x) === vs(x / 8), s"pixel ($x,$y)")
  }

  test("JPEG encodeGray: block-constant images round-trip pixel-exact; steps bounded by the quantizer") {
    // Block-constant: every AC is exactly zero, so decode takes the
    // exact integer flat path — output equals the DC-quantized constant.
    val w = 16; val h = 16
    val pix = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = (i / w) / 8
      Seq(40, 200, 130, 90)(2 * by + bx)
    }
    val (w2, h2, out) = Multimodal.JpegCodec.decodeGrayPixels(
      2L, Multimodal.JpegCodec.encodeGray(w, h, pix))
    assert(w2 === w && h2 === h)
    for (i <- pix.indices) {
      val s = 64L * pix(i)
      val dc = (s - 8192L + 64L) / 128L
      val v = math.max(0L, math.min(255L, 128L + (16L * dc + 4L) / 8L)).toInt
      assert(out(i) === v, s"pixel $i")
    }
    // A step-function block exercises the real AC path (forward DCT ->
    // quantize -> RLE-Huffman -> decode -> float IDCT); lossy, but the
    // error is bounded by the quantizer step.
    val step = Array.tabulate(64)(i => if (i % 8 < 4) 60 else 190)
    val (_, _, back) = Multimodal.JpegCodec.decodeGrayPixels(
      3L, Multimodal.JpegCodec.encodeGray(8, 8, step))
    val errs = step.zip(back).map { case (a, b) => math.abs(a - b) }
    assert(errs.max <= 32, s"max error ${errs.max} beyond quantizer bound")
    assert(errs.sum.toDouble / 64 <= 8.0, s"mean error ${errs.sum / 64.0}")
    // Odd geometry (not a multiple of 8) survives edge replication and
    // crops back to the declared size.
    val odd = Array.tabulate(10 * 3)(i => (i * 7) % 256)
    val (ow, oh, oback) = Multimodal.JpegCodec.decodeGrayPixels(
      4L, Multimodal.JpegCodec.encodeGray(10, 3, odd))
    assert(ow === 10 && oh === 3 && oback.length === 30)
  }

  test("resizeJpeg: decode -> decimate -> re-encode matches the exact DC model end to end") {
    import spark.implicits._
    val texts = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog again and again! " * 5),
      2L -> ("a" * 63 + "Z" + "m" * 64 + "q" * 70 + "x" * 130)) // 5 blocks: ragged output block
    val docs = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Multimodal.decodeEach(
        Multimodal.resize(spark, Multimodal.toJpeg(docs), Codec.Jpeg, Box(4)))(
        Multimodal.JpegCodec.decode)
      .collect().map(f => f.doc_id -> f).toMap
    texts.foreach { case (id, t) =>
      val nb = t.length / 64
      val vs = (0 until nb).map { b =>
        val s = (0 until 64).map(i => t(64 * b + i).toLong).sum
        val dc = (s - 8192L + 64L) / 128L
        math.max(0L, math.min(255L, 128L + (16L * dc + 4L) / 8L))
      }
      val onb = (nb + 3) / 4
      val dcs = (0 until onb).map { j =>
        val sum = 8L * (0 until 8).map(c => vs(math.min(8 * j + c, 2 * nb - 1) / 2)).sum
        (sum - 8192L + 64L) / 128L
      }
      val f = got(id)
      assert(f.width === 2 * nb && f.height === 8 && f.n_blocks === onb.toLong, s"doc $id geometry")
      assert(f.dc_sum === dcs.sum && f.dc_min === dcs.min && f.dc_max === dcs.max,
        s"doc $id resized dc stats")
    }
  }

  test("resize box on WAV labels the output at the decoded source rate / k") {
    // An 8 kHz fixture resampled to 44.1 kHz, then box-decimated by 4:
    // the output rate is 44100 / 4, not the fixture constant 8000 / 4.
    val t = "the quick brown fox jumps over the lazy dog"
    val d = Seq((1L, t, "en", "s", t.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val at44k = Multimodal.resize(spark, Multimodal.toWav16(d), Codec.Wav, Bilinear(44100))
    assert(Multimodal.decodeEach(at44k)(Multimodal.wavFeatures)
    .collect().head.sample_rate === 44100)
    val f = Multimodal.decodeEach(
      Multimodal.resize(spark, at44k, Codec.Wav, Box(4)))(Multimodal.wavFeatures).collect().head
    assert(f.sample_rate === 11025)
    assert(f.n_samples === (t.length * 44100L / 8000) / 4)
  }

  test("transformMedia and thumbnailMedia emit exactly what resize does, per codec") {
    type DF = org.apache.spark.sql.DataFrame
    def docs(id: Long, t: String): DF = Seq((id, t, "en", "s", t.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def pp(df: DF): DF = df.select(col("doc_id"), col("payload"))
    val long = "the quick brown fox jumps over the lazy dog and more text here!" * 2
    // (codec, the kernel thumbnailMedia applies to it by default, its
    // payloads) — transformMedia applies Box(4) to every codec. Docs 2
    // and 9 are sub-block under Box(4); doc 9 is also shorter than one
    // output sample at 2 kHz.
    val perCodec: Seq[(Multimodal.Codec, Multimodal.Kernel, DF)] = Seq(
      (Codec.Pgm, Bilinear(24, 16), pp(Multimodal.toPgm(docs(1L, long).unionByName(docs(2L, "abc"))))),
      (Codec.Ppm, Bilinear(24, 16), pp(Multimodal.toPpm(docs(3L, long)))),
      (Codec.Png, Bilinear(24, 16), pp(Multimodal.toPng(docs(4L, long)))),
      (Codec.Bmp, Bilinear(24, 16), pp(Multimodal.toBmp(docs(5L, long)))),
      (Codec.Jpeg, Bilinear(24, 16), pp(Multimodal.toJpeg(docs(6L, long)))
        .unionByName(pp(Multimodal.toJpegColor(docs(7L, "abcdefghij"))))),
      (Codec.Wav, Bilinear(2000), pp(Multimodal.toWav16(docs(8L, long).unionByName(docs(9L, "abc"))))),
      (Codec.Avi, Bilinear(24), pp(Multimodal.toAvi(docs(10L, long)))))
    def rows(df: DF): Seq[(Long, Seq[Byte])] = df.select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq
    val lake = perCodec.map(_._3).reduce(_ unionByName _)
    val boxed = rows(Multimodal.transformMedia(spark, lake))
    val thumbs = rows(Multimodal.thumbnailMedia(spark, lake))
    perCodec.foreach { case (codec, bilinear, payloads) =>
      val ids = payloads.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(boxed.filter(r => ids(r._1)) ===
        rows(Multimodal.resize(spark, payloads, codec, Box(4))), s"$codec box")
      assert(thumbs.filter(r => ids(r._1)) ===
        rows(Multimodal.resize(spark, payloads, codec, bilinear)), s"$codec bilinear")
    }
    assert(!boxed.exists(r => r._1 == 2L || r._1 == 9L), "sub-block payloads must drop")
    assert(thumbs.exists(_._1 == 2L) && !thumbs.exists(_._1 == 9L))
  }

  test("payload builders: golden payload md5 and meta per builder, null text included") {
    // Recorded from the builders' earlier interpreted hex-string pipelines:
    // synthesis through the codecs' own encoders must stay byte-identical.
    // Texts: empty and 3 bytes (a width-0 BMP), 17 bytes (WAV pad byte,
    // ragged odd AVI frame), 76 bytes of 1- to 4-byte UTF-8 (the JPEG
    // minimum), null.
    val texts = Seq[(Long, String)](
      0L -> "", 1L -> "abc", 2L -> "odd-length text!!", 3L -> ("Grüße 你好 🌍" * 4), 4L -> null)
    def golden(build: DataFrame => DataFrame, ids: Long*): Seq[String] =
      build(texts.filter(t => ids.contains(t._1)).toDF("doc_id", "text"))
        .select(col("doc_id"), md5(col("payload")), col("meta.*")).orderBy("doc_id")
        .collect().map(_.mkString("|")).toSeq
    val all = Seq(0L, 1L, 2L, 3L, 4L)
    assert(golden(Multimodal.toWav, all: _*) === Seq(
      "0|343a38895580ae4c65c3e585d12ff9ba|audio/wav|44|1",
      "1|8b4155ec3741def2877cb1debc8938ad|audio/wav|48|1",
      "2|2ab5af6b230a09e6d1ffb098a200c867|audio/wav|62|1",
      "3|9cc017f2483c2cfcb291e4e280a17695|audio/wav|120|1",
      "4|null|audio/wav|null|1"))
    assert(golden(Multimodal.toBmp, all: _*) === Seq(
      "0|76fbda3ef51ab78dea3483a55d5bf226|image/bmp|54|1",
      "1|76fbda3ef51ab78dea3483a55d5bf226|image/bmp|54|1",
      "2|3e87edbdaf79092ea8300170d29054d4|image/bmp|70|1",
      "3|3cd73a7dbcb468280812f75a431df44c|image/bmp|126|1",
      "4|null|image/bmp|null|1"))
    assert(golden(Multimodal.toWav16, all: _*) === Seq(
      "0|d9f5c6a48bfefddab36ca46559aaa670|audio/wav|44|1",
      "1|9dd28e780b29b07606818f63b8525c82|audio/wav|50|1",
      "2|6eba6116a3d3ade2e23469cee79b3918|audio/wav|78|1",
      "3|26f1d0621f68b5ab5328c7e801f97035|audio/wav|196|1",
      "4|null|audio/wav|null|1"))
    assert(golden(Multimodal.toWavMuLaw, all: _*) === Seq(
      "0|92da09d74b290b96f75d2ab825600c5c|audio/basic|44|1",
      "1|16e209315f19ece0bd0e9d8d70033d1b|audio/basic|48|1",
      "2|110c7b69206e3aa799d3ea6b7e020494|audio/basic|62|1",
      "3|18dac390ddcb48373a513911b04f90e6|audio/basic|120|1",
      "4|null|audio/basic|null|1"))
    assert(golden(Multimodal.toAvi(_, 4), all: _*) === Seq(
      "0|5dd3df52afeb86d3519c5f2d944e423b|video/avi|100|0",
      "1|19d52817cfbe852b50b35bb2c03034c7|video/avi|112|1",
      "2|75e3b8e0ba016045d161361549704aae|video/avi|158|5",
      "3|677514db288d48cd768750052f1f9440|video/avi|328|19",
      "4|null|video/avi|null|null"))
    assert(golden(Multimodal.toAvi(_, 16), all: _*) === Seq(
      "0|562e2d90f3c89de500b27c742e723815|video/avi|100|0",
      "1|67443c2e1065cbb59fc2ab3154309ff4|video/avi|112|1",
      "2|5b2ddf1e79830dd3d60648253fb84476|video/avi|134|2",
      "3|10650705c8ee0c92ea20648156a75ef5|video/avi|216|5",
      "4|null|video/avi|null|null"))
    // Frames are 64-character slices, n_frames the UTF-8 byte length / 64
    // (text 3: 40 characters in 76 bytes, so its 2nd frame is all spaces);
    // n_bytes is the text's length and null text an empty payload.
    assert(golden(Multimodal.toAnimatedPgm, all: _*) === Seq(
      "0|d41d8cd98f00b204e9800998ecf8427e|video/x-graft-anim-pgm|0|0",
      "1|f321b097b8a99a2e82f6a5a6213ab211|video/x-graft-anim-pgm|3|1",
      "2|a38bd99bf0a2537ef409e9566ba91943|video/x-graft-anim-pgm|17|1",
      "3|05045758273d446651b8ab940fa6b7e2|video/x-graft-anim-pgm|76|2",
      "4|d41d8cd98f00b204e9800998ecf8427e|video/x-graft-anim-pgm|null|null"))
    // The compressed codecs reject texts below their raster minimum; a
    // null text gives a null payload like the builders above.
    assert(golden(Multimodal.toPng, 2L, 3L, 4L) === Seq(
      "2|9f9b6b866dc5cee5adb7d7d1b034d8ee|image/png|79|1",
      "3|e2f71f770102b58073407663db6c3957|image/png|113|1",
      "4|null|image/png|null|1"))
    assert(golden(Multimodal.toJpeg, 3L, 4L) === Seq(
      "3|2e2da46f523e4f24861a525052a3732d|image/jpeg|310|1",
      "4|null|image/jpeg|null|1"))
    assert(golden(Multimodal.toJpegColor, 1L, 2L, 3L, 4L) === Seq(
      "1|119c39725416b06ed962e100826ed319|image/jpeg|596|1",
      "2|675b44396f161fcc812ad40aebff8e7c|image/jpeg|621|1",
      "3|856bbea86e4d03a9beadc7085d5c06cb|image/jpeg|756|1",
      "4|null|image/jpeg|null|1"))
    // Schema: doc_id keeps the input's nullability; n_frames is nullable
    // only where it is computed from the text (AVI's and the animated
    // PGM's frame counts).
    def nullability(df: DataFrame): Seq[(String, Boolean)] = {
      val meta = df.schema("meta").dataType.asInstanceOf[StructType]
      assert(meta.simpleString === "struct<format:string,n_bytes:bigint,n_frames:int>")
      df.schema.map(f => f.name -> f.nullable) ++ meta.map(f => s"meta.${f.name}" -> f.nullable)
    }
    val fx = texts.toDF("doc_id", "text")
    def expected(framesNullable: Boolean) = Seq(
      "doc_id" -> false, "payload" -> true, "meta" -> false,
      "meta.format" -> false, "meta.n_bytes" -> true, "meta.n_frames" -> framesNullable)
    assert(nullability(Multimodal.toAvi(fx)) === expected(framesNullable = true))
    assert(nullability(Multimodal.toAnimatedPgm(fx)) === expected(framesNullable = true))
    Seq[DataFrame => DataFrame](Multimodal.toWav, Multimodal.toBmp, Multimodal.toWav16,
      Multimodal.toWavMuLaw, Multimodal.toPng, Multimodal.toJpeg, Multimodal.toJpegColor)
      .foreach(b => assert(nullability(b(fx)) === expected(framesNullable = false)))
    assert(Multimodal.toBmp(fx.withColumn("doc_id", lit(null).cast("long")))
      .schema("doc_id").nullable)
  }

  // --- the media-kind table ----------------------------------------------

  /** A hand-cut truecolor PNG (CRCs real) of any geometry, including the
    * degenerate ones [[Multimodal.PngCodec.encodeRaster]] refuses.
    */
  private def rawPng(w: Int, h: Int, rows: Array[Byte]): Array[Byte] = {
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]) = {
      val t = tag.getBytes("US-ASCII")
      val c = new java.util.zip.CRC32
      c.update(t); c.update(data)
      be32(data.length.toLong) ++ t ++ data ++ be32(c.getValue)
    }
    val z = new java.util.zip.Deflater
    z.setInput(rows); z.finish()
    val buf = new Array[Byte](rows.length + 64)
    val idat = java.util.Arrays.copyOf(buf, z.deflate(buf))
    z.end()
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte) ++
      chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
  }

  /** Fixed payloads per kind: builder output over texts from empty to
    * multi-block, plus hand-cut edge cases — empty rasters, zero-sample
    * WAVs, zero-frame AVIs. Doc ids are unique across kinds.
    */
  private def lawPayloads: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val texts = Seq("", "ab", "abcdefg", "the quick brown fox",
      "Pack my box with five dozen liquor jugs. Sphinx of black quartz, judge my vow!",
      "x" * 130 + "yz" * 70)
    def docsFrom(base: Long, ts: Seq[String]) =
      ts.zipWithIndex.map { case (t, i) => (base + i, t) }.toDF("doc_id", "text")
    def pp(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"), col("payload"))
    def raw(base: Long, bs: Array[Byte]*) =
      bs.zipWithIndex.map { case (b, i) => (base + i, b) }.toDF("doc_id", "payload")
    def ascii(s: String) = s.getBytes("US-ASCII")
    val rgb = (0 until 12).map(i => (17 * i + 3).toByte).toArray
    Seq(
      "pgm" -> pp(Multimodal.toPgm(docsFrom(100, texts)))
        .unionByName(raw(150, ascii("P5\n3 2\n7\n") ++ Array[Byte](0, 7, 3, 5, 1, 6),
          ascii("P5\n4 0\n255\n"))),
      "ppm" -> pp(Multimodal.toPpm(docsFrom(200, texts)))
        .unionByName(raw(250, ascii("P6 2 2 255\n") ++ rgb, ascii("P6\n0 3\n255\n"))),
      "wav" -> pp(Multimodal.toWav(docsFrom(300, texts)))
        .unionByName(pp(Multimodal.toWav16(docsFrom(320, texts))))
        .unionByName(pp(Multimodal.toWavMuLaw(docsFrom(340, texts))))
        .unionByName(raw(360, Codec.Wav.encode(44100, Multimodal.Raster(0, 1, 1, Array.empty)),
          Codec.Wav.encode(11025, Multimodal.Raster(3, 1, 1, Array(-32768, 0, 32767))))),
      "avi" -> pp(Multimodal.toAvi(docsFrom(400, texts))),
      "bmp" -> pp(Multimodal.toBmp(docsFrom(500, texts)))
        .unionByName(raw(550, Codec.Bmp.encode(0, Multimodal.Raster(2, 2, 3, rgb.map(_ & 0xff))),
          Codec.Bmp.encode(0, Multimodal.Raster(0, 2, 3, Array.empty)))),
      "png" -> pp(Multimodal.toPng(docsFrom(600, texts.filter(_.length >= 6))))
        .unionByName(raw(650,
          rawPng(2, 2, Array[Byte](0) ++ rgb.take(6) ++ Array[Byte](2) ++ rgb.drop(6)),
          rawPng(2, 0, Array.empty), rawPng(0, 2, Array[Byte](0, 0)))),
      "jpeg" -> pp(Multimodal.toJpeg(docsFrom(700, texts.filter(_.length >= 64))))
        .unionByName(pp(Multimodal.toJpegColor(docsFrom(720, texts.filter(_.length >= 3))))),
      "histogram" -> pp(Multimodal.toMedia(docsFrom(800, texts))))
  }

  /** md5 over a frame's schema (with nullability) and its rows in `order`. */
  private def rowsMd5(df: org.apache.spark.sql.DataFrame, order: String*): String = {
    val rows = df.orderBy(order.map(col): _*).collect().map(_.toString)
    val text = (df.schema.json +: rows).mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("media-kind table laws: every kind's feature rows and the three routers match their goldens") {
    val payloads = lawPayloads
    val by = payloads.toMap
    val features: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "pgm" -> Multimodal.decodeEach(by("pgm"))(Multimodal.pgmFeatures).toDF(),
      "ppm" -> Multimodal.decodeEach(by("ppm"))(Multimodal.ppmFeatures).toDF(),
      "wav" -> Multimodal.decodeEach(by("wav"))(Multimodal.wavFeatures).toDF(),
      "avi" -> Multimodal.decodeEach(by("avi"))(Multimodal.aviFeatures).toDF(),
      "bmp" -> Multimodal.decodeEach(by("bmp"))(Multimodal.bmpFeatures).toDF(),
      "png" -> Multimodal.decodeEach(by("png"))(Multimodal.pngFeatures).toDF(),
      "jpeg" -> Multimodal.decodeEach(by("jpeg"))(Multimodal.JpegCodec.decode).toDF(),
      "jpeg_color" -> Multimodal.decodeEach(by("jpeg").filter(col("doc_id") >= 720L))(
        Multimodal.JpegCodec.decodeColor).toDF(),
      "histogram" -> Multimodal.decodeEach(by("histogram"))(Multimodal.histogramFeatures).toDF())
    val lake = payloads.map(_._2).reduce(_ unionByName _)
    val routers = Seq(
      "extractFeatures" -> Multimodal.extractFeatures(spark, lake),
      "mediaInventory" -> Multimodal.mediaInventory(spark, lake),
      "mediaTransformInventory" -> Multimodal.mediaTransformInventory(spark, lake))
    val got = features.map { case (k, df) => k -> rowsMd5(df, "doc_id") } ++
      routers.map { case (k, df) => k -> rowsMd5(df, "doc_id", "kind") }
    // Recorded before the per-format decode wrappers folded into the table.
    val golden = Seq(
      "pgm" -> "1a4b06d6ef5259d3da3ced60c5bff98a",
      "ppm" -> "80f96f4395158e7a99363472d406c392",
      "wav" -> "1c221fbbd5a8c5de6123f4c0270b5aef",
      "avi" -> "72b08bc413657d793e1f935c58cd30f2",
      "bmp" -> "b05ca546650d549175138b33e3673103",
      "png" -> "23f62552c8d37f0f98c0f212bc22ff72",
      "jpeg" -> "8aa754b1827bdcad4c0f26f86afd4ece",
      "jpeg_color" -> "1f24e5392bb1124291b6b900431154c7",
      "histogram" -> "47734b33f7add12e190309859c997e8a",
      "extractFeatures" -> "03571a2048eb9220d2d8dd2beb5d90ba",
      "mediaInventory" -> "1e3fd0c589590dac754ff431196e8da7",
      "mediaTransformInventory" -> "0ee19cac195f6a8773e1eb73c8b5fc8b")
    assert(got === golden)
    // Every kind and the fallback route, and none quarantines.
    val kinds = Multimodal.mediaInventory(spark, lake).collect()
    assert(kinds.map(_.getString(1)).toSet ===
      Set("pgm", "ppm", "wav", "avi", "bmp", "png", "jpeg", "histogram"))
    assert(kinds.forall(_.getBoolean(2)))
  }

  test("mediaInventory's geom equals the routed geometry of extractFeatures on every mixed-lake payload") {
    val docs = (0 until 48).map { i =>
      (i.toLong, Seq.tabulate(i * 7 % 97)(j => ('a' + (i * 31 + j * j) % 26).toChar).mkString)
    }.toDF("doc_id", "text")
    val lake = SparkEntry.mixedMedia(docs)
    val inv = Multimodal.mediaInventory(spark, lake)
    val routed = SparkEntry.routerGeometry(Multimodal.extractFeatures(spark, lake))
    val rows = inv.join(routed.withColumnRenamed("kind", "routed_kind")
        .withColumnRenamed("geom", "routed_geom"), "doc_id")
      .collect()
    assert(rows.length === 48)
    assert(rows.map(_.getAs[String]("kind")).toSet ===
      Set("pgm", "ppm", "wav", "avi", "bmp", "png", "jpeg", "histogram"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok"), r)
      assert(r.getAs[String]("kind") === r.getAs[String]("routed_kind"), r)
      assert(r.getAs[Long]("geom") === r.getAs[Long]("routed_geom"), r)
    }
  }

  test("PNG channel means stay exact past 2^31/255 pixels") {
    // 4096×2160 white: each channel sums to 255·8,847,360 > 2^31.
    val (w, h) = (4096, 2160)
    val png = Multimodal.PngCodec.encodeRaster(Array.fill[Byte](3 * w * h)(-1), w, h)
    val f = Multimodal.pngFeatures(1L, png)
    assert(f.n_px === w.toLong * h)
    assert(f.r_mean === Some(255.0) && f.g_mean === Some(255.0) && f.b_mean === Some(255.0))
    assert(f.top_row_mean === Some(255.0))
  }
}
