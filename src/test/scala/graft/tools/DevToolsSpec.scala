package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.obs.QueryJobs

class DevToolsSpec extends AnyFunSuite {

  test("QueryJobs reads each of 50 back-to-back one-job actions as exactly 1 job behind a slow listener") {
    val sc = TestSpark.spark.sparkContext
    // a slow listener on the same queue holds back event delivery, so a
    // read that does not drain the bus misses or misbills jobs
    val slow = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    val jobs = QueryJobs.attach(TestSpark.spark)
    try {
      jobs.take()
      val counts = (1 to 50).map { _ =>
        sc.parallelize(1 to 10, 2).count()
        jobs.take().size
      }
      assert(counts.forall(_ == 1), s"per-action job counts: ${counts.mkString(",")}")
    } finally {
      jobs.close()
      sc.removeSparkListener(slow)
    }
  }

  test("Scale.parse rejects an unknown leg, listing the valid ones") {
    val e = intercept[IllegalArgumentException](
      Scale.parse(Array("dag,noSuchLeg", "sfDir", "1")))
    assert(e.getMessage.contains("noSuchLeg"))
    for (leg <- Scale.legs) assert(e.getMessage.contains(leg.name))
    val (legs, sfDir, mults) = Scale.parse(Array("dag,lineFilter", "sfDir", "1", "4"))
    assert(legs.map(_.name) == Seq("dag", "lineFilter") && sfDir == "sfDir" &&
      mults == Seq(1, 4))
  }
}
