package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The scale-adaptive entry spread: round-robin repartition fires only
  * in the latency regime (input smaller than cores × maxPartitionBytes,
  * where the scan cannot feed every core); bigger inputs keep their
  * natural split layout — the unconditional form used to shuffle the
  * whole payload at any scale. */
class SpreadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def isSpread(df: org.apache.spark.sql.DataFrame): Boolean =
    Spread.scan(df).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.nonEmpty

  test("fires on a small scan (latency regime)") {
    assert(isSpread(spark.range(1000).toDF("id")))
  }

  /** Shrink maxPartitionBytes so the byte-estimate branch reads "big",
    * restoring the prior state exactly (unset if it was never set — a
    * plain conf.get-with-default restore would permanently set the key). */
  private def inBigEstimateRegime[A](body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1") // threshold = cores × 1 byte
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("keeps the natural layout once the scan already feeds every core") {
    // range splits across defaultParallelism slices: the split-count
    // probe confirms the scan feeds every core, so no spread
    inBigEstimateRegime { assert(!isSpread(spark.range(1000).toDF("id"))) }
  }

  test("big-estimate input arriving as fewer splits than cores spreads anyway") {
    // a LogicalRDD's size is non-estimable (defaultSizeInBytes, huge) —
    // the byte test alone would silently never spread it; the partition
    // probe sees 2 splits < cores and fires the spread (the same hole
    // covers few huge unsplittable files)
    import spark.implicits._
    val rdd = spark.sparkContext.parallelize(Seq(1L, 2L, 3L, 4L), 2)
    val logicalRdd = spark.createDataset(rdd).toDF("id")
    assert(isSpread(logicalRdd))
  }

  test("big-estimate plan with a shuffle operator is never probed (keeps layout)") {
    // materializing the RDD of a shuffle-bearing plan would execute its
    // query stages under AQE — the probe is restricted to shuffle-free
    // plans, so an aggregated input in the big regime keeps its layout
    inBigEstimateRegime {
      assert(!isSpread(spark.range(1000).toDF("id").groupBy("id").count()))
    }
  }

  /** Spark jobs run while `Spread.scan` decides (the probe must never
    * execute its input). */
  private def probeJobs(df: org.apache.spark.sql.DataFrame): Int =
    graft.obs.QueryJobs.of(spark)(Spread.scan(df))._2.size

  test("big-estimate plan with a scalar subquery is never probed") {
    // the subquery hides in an expression, not a child: materializing
    // the RDD would run its aggregate job on the driver
    inBigEstimateRegime {
      val df = spark.sql(
        "SELECT id FROM range(1000) WHERE id > (SELECT max(id) - 500 FROM range(10))")
      assert(probeJobs(df) == 0)
    }
  }

  test("big-estimate typed groupByKey/mapGroups input is never probed") {
    // MapGroups plans a shuffle of its own: the probe would run it
    val s = spark
    import s.implicits._
    inBigEstimateRegime {
      val df = spark.range(1000).as[Long]
        .groupByKey((x: Long) => x % 10)
        .mapGroups((k: Long, it: Iterator[Long]) => k + it.size)
        .toDF("id")
      assert(probeJobs(df) == 0)
    }
  }

  test("big-estimate input cached over an aggregate is never probed") {
    // an unfilled cache is a leaf hiding its plan: AQE would fill it
    inBigEstimateRegime {
      val df = spark.range(1000).toDF("id").groupBy("id").count().cache()
      try assert(probeJobs(df) == 0) finally df.unpersist()
    }
  }

  test("spread output fans the parallelism out to every core") {
    val n = Spread.scan(spark.range(1000).toDF("id")).rdd.getNumPartitions
    assert(n === spark.sparkContext.defaultParallelism)
  }

  test("streaming frames keep the unconditional spread (no batch-stats probe)") {
    // batch statistics are undefined on a streaming source — probing them
    // throws; the streaming near-dup operators must keep working
    val stream = spark.readStream.format("rate").load().toDF("ts", "value")
    val spread = Spread.scan(stream)
    assert(spread.isStreaming)
    assert(spread.queryExecution.logical.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.nonEmpty)
  }
}
