package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Product quantization: seed-codebook contract, plain-Scala argmin
  * mirror of the packed-long assignment, Lloyd's update exactness,
  * encode/codes consistency, the ADC==exact degeneracy at full-resolution
  * codebooks, recall against the L2 brute-force baseline, and the plan
  * shapes (HashAggregate argmin, broadcast LUT, no nested loop). */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val vecs: Map[Long, Seq[Float]] =
    emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  // ---- plain-Scala mirrors of the engine arithmetic ----
  private def l2sqScala(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.size, b.size)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }
  private def d6Scala(a: Seq[Float], b: Seq[Float]): Long =
    BigDecimal(l2sqScala(a, b) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  private def codeOf(sub: Seq[Float], book: Seq[Seq[Float]]): Int =
    book.zipWithIndex.map { case (c, i) => (d6Scala(sub, c), i) }.min._2

  test("pqSeedBooks: md5-smallest seed rows, sliced, dense ids ascending") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8)
    assert(cb.dsub == 16 && cb.books.size == 4 && cb.books.forall(_.size == 8))
    // seed rows are exactly the kmeans iters=0 seed table, ascending id
    val kseeds = Similarity.kmeansTrain(emb, "vec_id", "embedding",
      nlist = 8, iters = 0).sortBy(_._1)
    assert(cb.seedIds == kseeds.map(_._1))
    for (s <- 0 until 4; c <- 0 until 8)
      assert(cb.books(s)(c) == kseeds(c)._2.slice(s * 16, s * 16 + 16),
        s"sub $s code $c is not the slice of seed ${cb.seedIds(c)}")
  }

  test("pqAssign errors on vectors past the packable bound instead of " +
    "silently mis-coding (shiftleft wrap at subspace L2^2 >= 2^42 micro)") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    // components ~1e5 in a 16-float subspace: L2^2 ~1.6e11 -> micro 1.6e17,
    // far past 2^42 ~ 4.4e12 — unnormalized feature vectors, not embeddings
    val huge = Seq((999999L, Seq.fill(64)(1e5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pqCodes(huge, "vec_id", "embedding", cb).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("packable bound")), ex.toString)
  }

  test("pqCodes == plain-Scala argmin over the codebook (all 500 vectors)") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val got = Similarity.pqCodes(emb, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == vecs.size * 4)
    for ((id, v) <- vecs; s <- 0 until 4) {
      val expect = codeOf(v.slice(s * 16, s * 16 + 16), cb.books(s))
      assert(got((id, s)) == expect.toLong, s"vec $id sub $s")
    }
  }

  test("pqEncode arrays agree with exploded codes, tinyint, sub-ordered") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val exploded = Similarity.pqCodes(emb, "vec_id", "embedding", cb)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getLong(2).toByte).toSeq }
    val packed = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(packed == exploded)
  }

  test("pqTrain one iteration == plain-Scala Lloyd step (micro-exact means)") {
    val cb0 = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val cb1 = Similarity.pqTrain(emb, "vec_id", "embedding", 64, 4, 8, iters = 1)
    // mirror: assign every slice with the argmin above, then the q40
    // micro-quantized mean per (sub, code, dim); empty codes carry
    for (s <- 0 until 4) {
      val members = vecs.toSeq.map { case (_, v) =>
        val sub = v.slice(s * 16, s * 16 + 16)
        (codeOf(sub, cb0.books(s)), sub)
      }.groupBy(_._1)
      for (c <- 0 until 8) {
        members.get(c) match {
          case Some(rows) =>
            val subs = rows.map(_._2)
            val expect = (0 until 16).map { d =>
              val micro = subs.map(v => BigDecimal(v(d).toDouble * 1e6)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
              (BigDecimal(micro.toDouble / subs.size)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP)
                .toLong / 1e6).toFloat
            }
            assert(cb1.books(s)(c) == expect, s"sub $s code $c (n=${subs.size})")
          case None =>
            assert(cb1.books(s)(c) == cb0.books(s)(c), s"sub $s code $c carry")
        }
      }
    }
  }

  test("ADC degeneracy: m=1, ksub=n on a subset == exact L2 brute force") {
    val sub = emb.filter(col("vec_id") < 50)
    val cb = Similarity.pqSeedBooks(sub, "vec_id", "embedding", 64, 1, 50)
    val codes = Similarity.pqCodes(sub, "vec_id", "embedding", cb)
    val q = sub.filter(col("vec_id") < 5)
    val adc = Similarity.pqAdcTopK(q, codes, "vec_id", "embedding", cb, k = 10)
      .withColumnRenamed("adist6", "dist6")
    val exact = Similarity.bruteForceL2TopK(q, sub, "vec_id", "embedding", k = 10)
    assert(adc.exceptAll(exact).isEmpty && exact.exceptAll(adc).isEmpty)
  }

  test("trained ADC recall@10 beats the seed codebook and a floor; training is deterministic") {
    // the synthetic embeddings are clusterless — PQ's worst case — so
    // recall wants fine subspaces: m=16, ksub=32 measures 0.455 trained
    // vs 0.27x seeded (a one-off m/ksub/iters sweep); everything is
    // deterministic, the floors only leave margin for fixture regeneration
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceL2TopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cb: Similarity.PqCodebook): Double = {
      val codes = Similarity.pqCodes(emb, "vec_id", "embedding", cb)
      val adc = Similarity.pqAdcTopK(q, codes, "vec_id", "embedding", cb, k = 10)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (adc & exact).size.toDouble / exact.size
    }
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", 64, 16, 32, iters = 2)
    val cb2 = Similarity.pqTrain(emb, "vec_id", "embedding", 64, 16, 32, iters = 2)
    assert(cb.books == cb2.books, "training is not deterministic")
    val trained = recallOf(cb)
    val seeded = recallOf(Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 16, 32))
    assert(trained >= 0.40, f"trained recall@10 = $trained%.3f")
    assert(trained > seeded, f"training did not help: $trained%.3f <= $seeded%.3f")
  }

  test("ivfPqProbe at nprobe = nlist == flat pqAdcTopK (cell restriction is a no-op)") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val seeds = Similarity.kmeansTrain(emb, "vec_id", "embedding", nlist = 8, iters = 0)
    val index = Similarity.ivfPqBuild(emb, "vec_id", "embedding", seeds, cb)
    val q = emb.filter(col("vec_id") < 5)
    val composed = Similarity.ivfPqProbe(index, q, "vec_id", "embedding", k = 5, nprobe = 8)
    val flat = Similarity.pqAdcTopK(q,
      Similarity.pqCodes(emb, "vec_id", "embedding", cb), "vec_id", "embedding", cb, k = 5)
    assert(composed.exceptAll(flat).isEmpty && flat.exceptAll(composed).isEmpty)
  }

  test("ivfPqAppend == full rebuild under the frozen seeds/codebooks, " +
    "at probe-all AND partial nprobe") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", 64, 16, 32, iters = 1)
    val seeds = Similarity.kmeansTrain(emb, "vec_id", "embedding", nlist = 8, iters = 1)
    val rebuilt = Similarity.ivfPqBuild(emb, "vec_id", "embedding", seeds, cb)
    val appended = Similarity.ivfPqAppend(
      Similarity.ivfPqBuild(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", seeds, cb),
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    // the code tables themselves are row-identical
    assert(appended.codes.exceptAll(rebuilt.codes).isEmpty &&
      rebuilt.codes.exceptAll(appended.codes).isEmpty)
    val q = emb.filter(col("vec_id") < 10)
    for (nprobe <- Seq(8, 3)) {
      val a = Similarity.ivfPqProbe(appended, q, "vec_id", "embedding", 5, nprobe)
      val b = Similarity.ivfPqProbe(rebuilt, q, "vec_id", "embedding", 5, nprobe)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"nprobe=$nprobe")
    }
  }

  test("ivfPqProbe partial nprobe: subset of probe-all, k rows per query, recall holds") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", 64, 16, 32, iters = 1)
    val seeds = Similarity.kmeansTrain(emb, "vec_id", "embedding", nlist = 8, iters = 1)
    val index = Similarity.ivfPqBuild(emb, "vec_id", "embedding", seeds, cb)
    val q = emb.filter(col("vec_id") < 20)
    def pairs(nprobe: Int) =
      Similarity.ivfPqProbe(index, q, "vec_id", "embedding", k = 10, nprobe = nprobe)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pairs(8)
    val half = pairs(4)
    // every query still fills k rows (cells hold plenty of candidates)
    assert(half.size == all.size)
    // partial probe agrees with probe-all on most of the shortlist — the
    // coarse quantizer only redirects the tail (deterministic fixture)
    assert((half & all).size.toDouble / all.size >= 0.5,
      s"overlap ${(half & all).size}/${all.size}")
  }

  test("plan: ivfPq probe is broadcast-only until the candidate aggregate") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val seeds = Similarity.kmeansTrain(emb, "vec_id", "embedding", nlist = 8, iters = 0)
    val index = Similarity.ivfPqBuild(emb, "vec_id", "embedding", seeds, cb)
    // persist the built index the way production would (write/read or
    // cache): the probe plan must then contain no corpus-sized exchange
    val mat = index.copy(codes = index.codes.persist())
    mat.codes.count()
    try {
      val plan = Similarity.ivfPqProbe(mat, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nprobe = 2)
        .queryExecution.executedPlan.toString
      // audit only the PROBE plan — everything above the cached index's
      // InMemoryRelation (the stored BUILD plan is inlined below it, and
      // legitimately contains the corpus x seed-table broadcast
      // nested-loop expansion)
      val probePart = plan.split("InMemoryRelation").head
      assert(!probePart.contains("CartesianProduct") &&
        !probePart.contains("NestedLoop"), plan)
      // exactly one shuffle: the (query, neighbor) distance aggregate —
      // probes and LUT arrive by broadcast
      val shuffles = "Exchange hashpartitioning".r.findAllIn(probePart).size
      assert(shuffles == 1, s"$shuffles shuffles\n$plan")
    } finally mat.codes.unpersist()
  }

  test("plan: assignment is a HashAggregate argmin off a broadcast codebook") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val plan = Similarity.pqCodes(emb, "vec_id", "embedding", cb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("plan: ADC probe never touches corpus vectors — LUT broadcast, no nested loop") {
    val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding", 64, 4, 8)
    val codes = Similarity.pqCodes(emb, "vec_id", "embedding", cb)
    val q = emb.filter(col("vec_id") < 5)
    val plan = Similarity.pqAdcTopK(q, codes, "vec_id", "embedding", cb, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("hardNegatives: band respected, self excluded, equals the " +
    "plain-Scala banded argmax") {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val q = emb.filter(col("vec_id") < 5)
    val got = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
        k = 3, loCos = 0.1, hiCos = 0.35).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.nonEmpty)
    for (((qid, _), (nid, c)) <- got) {
      assert(qid != nid && c >= 0.1 && c < 0.35, s"($qid,$nid,$c)")
    }
    for (qid <- 0L until 5L) {
      val expect = vecs.keys.filter(_ != qid).toSeq
        .map(nid => (nid, cos(vecs(qid), vecs(nid))))
        .filter { case (_, c) => c >= 0.1 && c < 0.35 }
        .sortBy { case (nid, c) => (-c, nid) }.take(3)
      val mine = (1 to 3).flatMap(r => got.get((qid, r)))
      assert(mine == expect, s"anchor $qid: $mine vs $expect")
    }
  }

  test("sq8: codes match a plain-Scala mirror, distances are exact " +
    "integers, and recall@5 vs the L2 brute force is high") {
    val stats = Similarity.sq8Train(emb, "embedding").collect()(0)
    val mins = stats.getSeq[Double](0)
    val maxs = stats.getSeq[Double](1)
    assert(mins.indices.forall(d => mins(d) <= maxs(d)))
    def codeOf(v: Seq[Float]): Seq[Int] = v.indices.map { d =>
      if (maxs(d) == mins(d)) 0
      else math.min(math.max(math.floor(
        (v(d).toDouble - mins(d)) * 256.0 / (maxs(d) - mins(d))).toLong,
        0L), 255L).toInt
    }
    val enc = Similarity.sq8Encode(emb, "vec_id", "embedding",
        Similarity.sq8Train(emb, "embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc.keySet == vecs.keySet)
    for ((id, v) <- vecs) assert(enc(id) == codeOf(v), s"vec $id")
    assert(enc.values.flatten.forall(c => c >= 0 && c <= 255))

    val q = emb.filter(col("vec_id") < 5)
    val sq = Similarity.sq8TopK(q, emb, "vec_id", "embedding", 5).collect()
    // exact symmetric distance recomputed from the mirrored codes
    for (r <- sq) {
      val exp = codeOf(vecs(r.getLong(0))).zip(codeOf(vecs(r.getLong(1))))
        .map { case (a, b) => (a - b).toLong * (a - b) }.sum
      assert(r.getLong(2) == exp)
    }
    val exact = Similarity.bruteForceL2TopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = sq.map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq
      .map(k => got(k).intersect(exact(k)).size.toDouble / 5).sum / exact.size
    assert(recall >= 0.8, s"sq8 recall@5 = $recall (8-bit quantization " +
      "should barely disturb the L2 ranking)")
  }
}
