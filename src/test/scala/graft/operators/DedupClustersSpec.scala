package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.obs.QueryJobs

/** Connected-components contraction (large-star/small-star, or the
  * driver finish on a small edge set) and the end-to-end dedup
  * clustering pipeline. */
class DedupClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(pairs: (Long, Long)*): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` with the broadcast threshold at -1, which keeps connected
    * components on its rounds; the prior state is restored exactly. */
  private def onRounds[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The cases below run once per path: the driver finish (these edge
    * sets are far below the default threshold) and the rounds. */
  private val paths: Seq[(String, (=> Unit) => Unit)] =
    Seq("" -> (body => body), " (rounds)" -> (body => onRounds(body)))

  /** One call: its schema and rows, whether the result is a local
    * relation (the driver finish returns one), and the first graft frame
    * of each job it ran, which names the method that started the job. */
  private case class Call(schema: StructType, rows: Set[Row], local: Boolean,
                          frames: Seq[String]) {
    def onDriver: Boolean = frames.exists(_.contains("componentsOnDriver"))
  }

  private def call(pairs: DataFrame): Call = {
    val ((schema, rows, local), jobs) = QueryJobs.of(spark) {
      val out = Dedup.connectedComponents(pairs)
      (out.schema, out.collect().toSet, out.isLocal)
    }
    Call(schema, rows, local, jobs.map(_.frame))
  }

  test("an edge set within the broadcast threshold finishes on the driver, " +
    "with the rounds' rows and schema") {
    for (pairs <- Seq(
      Seq((1L, 2L), (3L, 2L), (5L, 4L), (2L, 1L)).toDF("id_a", "id_b"),
      Seq((7, 9), (9, 8)).toDF("a", "b"))) {
      val (driver, rounds) = (call(pairs), onRounds(call(pairs)))
      assert(driver.onDriver && driver.local)
      assert(!rounds.onDriver && !rounds.local)
      // the entry count and one collect, against the same count plus at
      // least one round and its star-forest check
      assert(driver.frames.size < rounds.frames.size,
        s"${driver.frames.size} jobs on the driver path, ${rounds.frames.size} on the rounds")
      assert(driver.schema == rounds.schema && driver.rows == rounds.rows)
      // long ids stay long and int ids int
      assert(driver.schema.map(_.dataType).distinct == Seq(pairs.schema.head.dataType))
    }
  }

  test("string ids keep the rounds under the broadcast threshold") {
    val out = call(Seq(("b", "a"), ("c", "b"), ("e", "d")).toDF("x", "y"))
    assert(!out.onDriver && !out.local)
    assert(out.rows.map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("empty edge list yields empty mapping") {
    // on the driver, with the rounds' schema
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (driver, rounds) = (call(empty), onRounds(call(empty)))
    assert(driver.local && !rounds.local)
    assert(driver.rows.isEmpty && rounds.rows.isEmpty && driver.schema == rounds.schema)
  }

  for ((suffix, under) <- paths) {
    test(s"chain, clique, and separate components contract to min ids$suffix")(under {
      // chain 1-2-3-4 (worst case for naive propagation), clique {10,11,12},
      // pair {20,21}, reversed/duplicate edges
      val m = cc((2, 1), (2, 3), (4, 3), (10, 11), (11, 12), (12, 10),
        (21, 20), (20, 21), (3, 2))
      assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    })

    test(s"long path converges within the iteration bound$suffix")(under {
      val path = (0L until 40L).map(i => (i, i + 1))
      val m = cc(path: _*)
      assert(m.size == 41 && m.values.forall(_ == 0L))
    })

    test(s"star-forest check: one parent per child, no parent is a child$suffix")(under {
      def starForest(edges: (Long, Long)*) =
        Dedup.isStarForest(edges.toDF("u", "v"))
      // two stars, one edge duplicated
      assert(starForest((2, 1), (3, 1), (3, 1), (5, 4)))
      // node 3 has two parents, 1 and 2
      assert(!starForest((3, 1), (3, 2), (4, 1)))
      // parent 2 is also the child of 1
      assert(!starForest((2, 1), (3, 2)))
      // the path 2-3-4-5-1: its first round ends in {(3,1),(3,2),(4,2),(5,1)},
      // where no parent is a child but node 3 has two parents
      assert(cc((3, 4), (3, 2), (5, 1), (4, 5)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    })

    test(s"200 random graphs in one call match a driver-side union-find$suffix")(under {
      // each graph owns the id range [1000g, 1000g + 1000), so one
      // connectedComponents call checks them all at once
      val rnd = new scala.util.Random(20261019L)
      def shuffledIds(base: Long, n: Int): IndexedSeq[Long] =
        rnd.shuffle((0 until 1000).toIndexedSeq).take(n).map(base + _)
      val edges = (0 until 200).flatMap { g =>
        val base = g * 1000L
        val core: Seq[(Long, Long)] = g % 4 match {
          case 0 => // chain of up to 40 nodes with shuffled ids
            shuffledIds(base, 2 + rnd.nextInt(39)).sliding(2).map(p => (p(0), p(1))).toSeq
          case 1 => // star around a random centre
            val ids = shuffledIds(base, 2 + rnd.nextInt(15))
            ids.tail.map(ids.head -> _)
          case 2 => // clique
            val ids = shuffledIds(base, 2 + rnd.nextInt(7))
            ids.combinations(2).map(p => (p(0), p(1))).toSeq
          case _ => // sparse random graph, self-loops included
            val ids = shuffledIds(base, 2 + rnd.nextInt(30))
            Seq.fill(1 + rnd.nextInt(40))((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
        }
        // duplicate and reversed copies of some edges, and a self-loop
        val extra = core.filter(_ => rnd.nextInt(4) == 0)
          .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
        rnd.shuffle(core ++ extra :+ (base + 999L, base + 999L))
      }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges if a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.toList.map(x => x -> find(x)).toMap
      assert(cc(edges: _*) == expect)
    })

    test(s"ccAppend(build(even), odd) equals the full rebuild exactly$suffix")(under {
      // an affine functional graph u -> 13u+7 mod 60: even-residue edges
      // build small alternating fragments, odd-residue edges stitch them
      // into the full cycles — the append genuinely merges components
      val all = (0L until 60L).map(u => (u, (u * 13 + 7) % 60))
      val even = all.filter(_._1 % 2 == 0)
      val odd = all.filter(_._1 % 2 == 1)
      val base = Dedup.connectedComponents(even.toDF("id_a", "id_b"))
      val got = Dedup.ccAppend(base, odd.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == cc(all: _*))
      // sanity: the append DID merge (fewer components than the even build)
      val evenReps = base.select("rep").distinct().count()
      assert(got.values.toSet.size < evenReps)
    })

    test(s"ccAppend: empty delta is identity; empty base is a plain build; " +
      s"one delta edge bridges two prior components$suffix")(under {
      val base = Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
      val same = Dedup.ccAppend(base, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(same == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      val fresh = Dedup.ccAppend(
        Seq.empty[(Long, Long)].toDF("id", "rep"),
        Seq((5L, 6L)).toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fresh == Map(5L -> 5L, 6L -> 5L))
      val bridged = Dedup.ccAppend(base, Seq((3L, 10L)).toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bridged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
    })
  }

  test("dedupClusters maps singletons to themselves and flags keepers") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark query engines"),
      (4L, "unique text with no duplicate partner in this tiny corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupClusters(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true), (4L, 4L, true)))
    // exactly one keeper per cluster
  }

  test("clusterSizeProfile: histogram accounting reconciles exactly with " +
    "the mapping it audits") {
    val clusters = Seq(
      // one pair, one triple, three singletons
      (1L, 1L), (2L, 1L),
      (3L, 3L), (4L, 3L), (5L, 3L),
      (6L, 6L), (7L, 7L), (8L, 8L)).toDF("id", "rep")
    val prof = Dedup.clusterSizeProfile(clusters)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(prof == Map(
      1L -> ((3L, 3L, 0L)), 2L -> ((1L, 2L, 1L)), 3L -> ((1L, 3L, 2L))))
    // invariants on real data: docs reconcile, drops == docs - clusters
    val real = Dedup.dedupClusters(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text", threshold = 0.5)
    val p = Dedup.clusterSizeProfile(real.select("id", "rep")).collect()
    assert(p.map(_.getLong(2)).sum == real.count())
    assert(p.map(_.getLong(3)).sum ==
      real.count() - real.filter(org.apache.spark.sql.functions.col("keep")).count())
  }

  test("keepBestPerCluster keeps exactly one member per cluster — the " +
    "highest score, smallest id on ties — and matches dedupClusters' " +
    "clustering") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val best = Dedup.keepBestPerCluster(docs, "doc_id", "text",
      score = col("n_chars"), threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(best.length == docs.count())
    // one keeper per rep, and it is the (score desc, id asc) argmax
    for ((rep, members) <- best.groupBy(_._2)) {
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $rep has ${keepers.length} keepers")
      val expect = members.minBy(m => (-m._3, m._1))
      assert(keepers.head._1 == expect._1,
        s"cluster $rep kept ${keepers.head._1}, expected ${expect._1}")
    }
    // the clustering itself is dedupClusters' (only the policy differs)
    val reps = Dedup.dedupClusters(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(best.forall { case (id, rep, _, _) => reps(id) == rep })
  }
}
