package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Scale-path indices for simhash / sign-LSH near-dup:
  *  - Manku block-combination tables must return EXACTLY the all-pairs
  *    Hamming<=h set (the pigeonhole guarantee the scaladoc proves), and
  *    the band index is the one-block-per-table case of them;
  *  - the self-tuning band width must reproduce the pinned config at
  *    small corpus sizes and grow logarithmically after. */
class MankuSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  test("Manku 6/3 tables == all-pairs Hamming<=3 (exact recall + precision)") {
    val viaIndex = Dedup.simhashMankuPairs(docs, "doc_id", "text",
      blocks = 6, keyBlocks = 3, maxHamming = 3, bits = 60)
      .select("id_a", "id_b", "hamming")
    val d = docs.select(col("doc_id"), Dedup.simhash60(col("text")).as("sh"))
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val allPairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", Dedup.hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
    assert(viaIndex.exceptAll(allPairs).isEmpty, "index emitted a non-pair (precision)")
    assert(allPairs.exceptAll(viaIndex).isEmpty, "index missed a pair (recall)")
  }

  test("Manku guarantee bound is enforced") {
    intercept[IllegalArgumentException] {
      Dedup.simhashMankuPairs(docs, "doc_id", "text",
        blocks = 6, keyBlocks = 3, maxHamming = 4, bits = 60)
    }
  }

  test("deeper keys (6/4, h<=2) also match all-pairs at their bound") {
    val viaIndex = Dedup.simhashMankuPairs(docs, "doc_id", "text",
      blocks = 6, keyBlocks = 4, maxHamming = 2, bits = 60)
      .select("id_a", "id_b")
    val d = docs.select(col("doc_id"), Dedup.simhash60(col("text")).as("sh"))
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val allPairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Dedup.hamming(col("sh_a"), col("sh_b")) <= 2)
      .select("id_a", "id_b")
    assert(viaIndex.exceptAll(allPairs).isEmpty)
    assert(allPairs.exceptAll(viaIndex).isEmpty)
  }

  test("band index (4 bands, h<=3) == Manku tables of one block each (4/1)") {
    val band = Dedup.simhashBandPairs(docs, "doc_id", "text",
      bands = 4, maxHamming = 3, bits = 32)
    val manku = Dedup.simhashMankuPairs(docs, "doc_id", "text",
      blocks = 4, keyBlocks = 1, maxHamming = 3, bits = 32)
    assert(!band.isEmpty, "the test corpus must hold near-dup pairs")
    assert(band.exceptAll(manku).isEmpty && manku.exceptAll(band).isEmpty)
  }

  test("lshBandBitsFor: pinned width at test scale, log growth at cluster scale") {
    assert(Dedup.lshBandBitsFor(500) == 8)     // sf0.01 embeddings
    assert(Dedup.lshBandBitsFor(8000) == 8)    // floor edge
    assert(Dedup.lshBandBitsFor(1L << 20) == 15)
    assert(Dedup.lshBandBitsFor(1L << 30) == 25)
    assert(Dedup.lshBandBitsFor(1L << 40) == 35)
    // monotone non-decreasing
    val widths = Seq(1L, 100L, 10000L, 1000000L, 100000000L).map(Dedup.lshBandBitsFor(_))
    assert(widths == widths.sorted)
  }

  test("auto == pinned at test corpus size (q25 call-site equivalence)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val auto = Dedup.embeddingNearDupsAuto(e, "vec_id", "embedding", 0.4,
      corpusSize = e.count(), bands = 4)
    val pinned = Dedup.embeddingNearDupsBanded(e, "vec_id", "embedding", 0.4,
      bands = 4, bandBits = 8)
    assert(auto.exceptAll(pinned).isEmpty && pinned.exceptAll(auto).isEmpty)
  }
}
