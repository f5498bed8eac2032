package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase

class RunSpec extends SparkTestBase {

  test("profile: a job's call site is its result stage's name, and AQE's " +
      "query-stage jobs are labelled as such") {
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val group = "runspec-sites"
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          sites.add(Run.jobSite(js))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // counted by the shared helper, whose sentinel job drains the bus
      jobsIn(group) {
        sc.parallelize(1 to 10, 2).count()
        spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count()
          .collect()
      }
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val got = sites.asScala.toSeq
    assert(got.nonEmpty && !got.contains("?"), s"sites: $got")
    assert(got.exists(_.startsWith("AQE stage job")), s"sites: $got")
    assert(got.head.matches("count at RunSpec.scala:\\d+"), s"sites: $got")
  }
}
