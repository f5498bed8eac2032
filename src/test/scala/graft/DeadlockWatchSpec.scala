package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.locks.ReentrantLock

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

class DeadlockWatchSpec extends AnyFunSuite {

  test("a deadlock on two ReentrantLocks is reported with its threads " +
      "and locks, and Verify's dump names the running query") {
    val (a, b) = (new ReentrantLock(), new ReentrantLock())
    val bothHeld = new CountDownLatch(2)
    def locker(name: String, first: ReentrantLock, second: ReentrantLock) =
      new Thread(() => {
        try {
          first.lockInterruptibly()
          try {
            bothHeld.countDown()
            bothHeld.await()
            second.lockInterruptibly()
            second.unlock()
          } finally first.unlock()
        } catch { case _: InterruptedException => }
      }, name)
    val t1 = locker("graft-test-locker-1", a, b)
    val t2 = locker("graft-test-locker-2", b, a)
    val hit = Promise[DeadlockWatch.Report]()
    val watch = DeadlockWatch.start(everyMs = 100)(r => hit.trySuccess(r))
    t1.start(); t2.start()
    try {
      val r = Await.result(hit.future, 60.seconds)
      val names = r.threads.map(_.getThreadName).toSet
      assert(names == Set("graft-test-locker-1", "graft-test-locker-2"))
      assert(r.summary.contains("ReentrantLock"), r.summary)
      assert(r.summary.contains("held by 'graft-test-locker-"), r.summary)
      // full stacks: the frames below lockInterruptibly reach the
      // locker's own lambda
      assert(r.stacks.contains("lockInterruptibly"), r.stacks)
      assert(r.stacks.contains("DeadlockWatchSpec"), r.stacks)

      val out = java.nio.file.Files.createTempDirectory("graft-deadlock")
      out.toFile.deleteOnExit()
      Verify.onDeadlock(out.toString, "q60_running",
        Seq("q01_earlier" -> "AnalysisException: no such column"), r)
      val errs = java.nio.file.Files.readString(out.resolve("_errors.json"))
      assert(errs.startsWith("{\"q01_earlier\": \"AnalysisException"), errs)
      assert(errs.contains("\"q60_running\": \"DriverDeadlock: "), errs)
      assert(errs.contains("graft-test-locker-1"), errs)
      assert(java.nio.file.Files.exists(out.resolve("oracle_sql.json")))
    } finally {
      t1.interrupt(); t2.interrupt()
      watch.interrupt()
      t1.join(10000); t2.join(10000); watch.join(10000)
    }
    assert(!t1.isAlive && !t2.isAlive && !watch.isAlive)
  }

  test("no deadlock, no report; interrupting the watch ends it") {
    val calls = new CountDownLatch(1)
    val watch = DeadlockWatch.start(everyMs = 50)(_ => calls.countDown())
    assert(!calls.await(500, TimeUnit.MILLISECONDS))
    watch.interrupt()
    watch.join(10000)
    assert(!watch.isAlive)
  }
}
