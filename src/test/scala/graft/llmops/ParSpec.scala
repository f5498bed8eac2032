package graft.llmops

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext

/** Set from inside a Spark task; a singleton, so the executor threads
  * of the local session share it with the test thread. */
object ParSpecLatch {
  val started = new CountDownLatch(1)
}

class ParSpec extends graft.SparkTestBase {
  import spark.implicits._

  test("Par.run: a failing task cancels its sibling's running Spark job") {
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("parspec").toString
    // a parquet write, as the index appends run under Par.run, whose
    // tasks block in a slow UDF until killed (or 120 s, past Par's 60 s
    // pool-shutdown wait). No exchange, so its one job is the write's
    // own: AQE, which cancels its query stages when the driver thread
    // is interrupted, plays no part
    val slow = () => spark.range(0, 4, 1, 4).map { x =>
      ParSpecLatch.started.countDown()
      val t0 = System.nanoTime()
      while (!TaskContext.get().isInterrupted() &&
          System.nanoTime() - t0 < 120L * 1000 * 1000 * 1000)
        Thread.sleep(20)
      x
    }.write.mode("overwrite").parquet(out)
    @volatile var failedAt = 0L
    val failing = () => {
      assert(ParSpecLatch.started.await(60, TimeUnit.SECONDS),
        "the slow job never started")
      failedAt = System.nanoTime()
      throw new IllegalStateException("sibling failed")
    }
    val e = intercept[IllegalStateException](Par.run(Seq(slow, failing)))
    assert(e.getMessage == "sibling failed")
    val rethrowS = (System.nanoTime() - failedAt) / 1e9
    assert(rethrowS < 30, s"Par.run rethrew $rethrowS s after the failure")
    // the job end reaches the status store through the listener bus,
    // so allow it a moment
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
  }
}
