package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import graft.services.{Downloader, FileResult, LocalFileDownloader, PageFetcher}

/** Process-wide service counters. Spark runs in local mode, so the
  * task-side copies of the decorators below share these statics with
  * the Spark driver; one client thread means a before/after delta is
  * one op.
  */
object ServiceCounters {
  val fetchCalls = new AtomicLong
  val fetchHits = new AtomicLong
  val fetchNanos = new AtomicLong
  val downloadCalls = new AtomicLong
  val downloadBytes = new AtomicLong
  val downloadNanos = new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "fetch_calls" -> fetchCalls.get, "fetch_hits" -> fetchHits.get,
    "fetch_nanos" -> fetchNanos.get, "download_calls" -> downloadCalls.get,
    "download_bytes" -> downloadBytes.get,
    "download_nanos" -> downloadNanos.get)
}

/** Serves `https://ir.<co>.example/<page>` from `<siteRoot>/<co>/<page>`
  * and counts every call, hit and nanosecond.
  */
final class DiskPageFetcher(siteRoot: String) extends PageFetcher {
  private val Url = "https://ir\\.([a-z]+)\\.example/([A-Za-z0-9_.-]+)".r

  override def fetch(url: String): Option[String] = {
    val t0 = System.nanoTime()
    val page = url match {
      case Url(co, name) =>
        val p = Paths.get(siteRoot, co, name)
        if (Files.isRegularFile(p)) Some(new String(Files.readAllBytes(p), "UTF-8"))
        else None
      case _ => None
    }
    ServiceCounters.fetchCalls.incrementAndGet()
    if (page.isDefined) ServiceCounters.fetchHits.incrementAndGet()
    ServiceCounters.fetchNanos.addAndGet(System.nanoTime() - t0)
    page
  }
}

/** [[LocalFileDownloader]] with call, byte and time counters. */
final class CountingDownloader extends Downloader {
  private val inner = new LocalFileDownloader

  override def download(url: String, destDir: String, filename: String): FileResult = {
    val t0 = System.nanoTime()
    val r = inner.download(url, destDir, filename)
    ServiceCounters.downloadCalls.incrementAndGet()
    if (r.ok) ServiceCounters.downloadBytes.addAndGet(r.size)
    ServiceCounters.downloadNanos.addAndGet(System.nanoTime() - t0)
    r
  }
}
