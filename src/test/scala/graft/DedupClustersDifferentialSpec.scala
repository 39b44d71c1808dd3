package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** Both sides of [[Dedup.dedupClusters]]' edge-count gate on the same
  * pairs: the driver union-find (default threshold, 0 rounds) and the
  * distributed pointer-doubling loop (`hotKeyThreshold` at or below the
  * symmetrized edge count, so hot and cold keys both occur) must return
  * identical rows under an identical schema — names, types and
  * nullability.
  */
class DedupClustersDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def bothSides(pairs: DataFrame): Seq[org.apache.spark.sql.Row] = {
    val edges = 2L * pairs.count()
    val (driver, driverRounds) = Dedup.dedupClustersWithIters(pairs)
    val (loop, loopRounds) =
      Dedup.dedupClustersWithIters(pairs, hotKeyThreshold = math.min(2L, edges))
    try {
      assert(driverRounds === 0, "default threshold must take the driver path")
      assert(loopRounds > 0, "a threshold at the edge count must take the loop")
      assert(driver.schema === loop.schema)
      val rows = driver.orderBy("doc_id").collect().toSeq
      assert(rows === loop.orderBy("doc_id").collect().toSeq)
      rows
    } finally spark.catalog.clearCache() // the loop's frame owns its labels cache
  }

  /** Disjoint chains, stars, cliques and isolated pairs over scattered
    * ids (negatives included), each pair randomly reversed, shuffled.
    */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((-500L to 500L).map(_ * 7919L)).iterator
    val comps = (0 until 12).flatMap { c =>
      val vs = Seq.fill(2 + rnd.nextInt(12))(ids.next())
      c % 4 match {
        case 0 => vs.sliding(2).map(p => (p(0), p(1))).toSeq
        case 1 => vs.tail.map(v => (vs.head, v))
        case 2 => for (a <- vs; b <- vs if a < b) yield (a, b)
        case _ => Seq((vs(0), vs(1)))
      }
    }
    rnd.shuffle(comps.map(p => if (rnd.nextBoolean()) p.swap else p))
  }

  test("seeded chains, stars, cliques and pairs: driver and loop agree") {
    for (seed <- 1L to 3L) {
      val pairs = randomGraph(seed)
      val rows = bothSides(pairs.toDF("doc_a", "doc_b"))
      assert(rows.length === pairs.flatMap(p => Seq(p._1, p._2)).distinct.length, s"seed $seed")
    }
    // Nullable id columns carry their nullability through both paths.
    val nullable = randomGraph(4L).map(p => (Option(p._1), Option(p._2))).toDF("doc_a", "doc_b")
    assert(nullable.schema.forall(_.nullable))
    assert(bothSides(nullable).nonEmpty)
  }

  test("self-loops, duplicate and reversed pairs, empty input") {
    val loops = bothSides(Seq((5L, 5L), (6L, 6L), (6L, 7L)).toDF("doc_a", "doc_b"))
    assert(loops.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Seq((5L, 5L, 1L), (6L, 6L, 2L), (7L, 6L, 2L)))
    val dups = bothSides(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L)).toDF("doc_a", "doc_b"))
    assert(dups.map(_.getLong(1)).distinct === Seq(1L))
    assert(bothSides(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("string ids take Spark's order: U+E000 sorts before U+1F600") {
    // UTF-16 `String.compareTo` puts the surrogate pair of U+1F600 first;
    // Spark's `min` (UTF-8 byte order = code point order) does not.
    val pua = "\uE000"
    val emoji = "\uD83D\uDE00"
    assert(emoji.compareTo(pua) < 0)
    val rows = bothSides(
      Seq((emoji, pua), ("b", "a"), ("a", "\u00e9"), ("x", "x")).toDF("doc_a", "doc_b"))
    val canon = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon(emoji) === pua)
    assert(canon("\u00e9") === "a")
    assert(canon("x") === "x")
  }

  test("a null pair end is rejected on both sides of the gate") {
    val pairs = Seq((1L, Some(2L)), (3L, None)).toDF("doc_a", "doc_b")
    for (threshold <- Seq(4000000L, 1L)) {
      val e = intercept[IllegalArgumentException](
        Dedup.dedupClustersWithIters(pairs, hotKeyThreshold = threshold))
      assert(e.getMessage.contains("null doc id"))
    }
  }
}
