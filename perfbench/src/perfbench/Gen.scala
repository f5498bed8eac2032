package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes: the same seed gives byte-identical inputs, and the
  * expected outputs (planted reports, duplicate groups) come from the
  * generator's own bookkeeping, never from a program run.
  */
object Gen {

  /** A vocabulary of `size` distinct lowercase pseudo-words, drawn with
    * Zipf(`s`) popularity: rank r has weight 1 / r^s.
    */
  final class Zipf(size: Int, s: Double, rng: Random) {
    val words: Array[String] = {
      val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < size)
        seen += Seq.fill(2 + rng.nextInt(3))(syl(rng.nextInt(syl.size))).mkString
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, size - 1)
    }
    def word(r: Random): String = words(rank(r.nextDouble()))
    def text(r: Random, minLen: Int, maxLen: Int): String =
      Seq.fill(minLen + r.nextInt(maxLen - minLen + 1))(word(r)).mkString(" ")
  }

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  // ---- etl_reports: investor-relations sites on local disk ---------------

  /** One planted document link: `broken` links point at a file that is
    * never written; `latest` marks the company's latest-quarter reports,
    * the set the pipeline must select.
    */
  final case class DocLink(company: String, url: String, text: String,
                           year: Int, quarter: Int, latest: Boolean,
                           broken: Boolean, md5: String, bytes: Long)

  final case class Sites(companies: Seq[(String, String, String)],
                         docs: Seq[DocLink], pages: Int, missingPages: Int) {
    def planted: Seq[DocLink] = docs.filter(_.latest)
  }

  /** Anchor texts for internal pages with their quarterly-keyword hit
    * counts (the crawl's promising-link score; hrefs carry no keyword).
    */
  private val promisingTexts = Seq(
    "Quarterly Results" -> 3, "Financial Results and Earnings" -> 3,
    "Earnings Presentation" -> 2, "Annual Report and 10-K" -> 2,
    "SEC Filings" -> 1, "Investor Overview" -> 1)
  private val plainTexts = Seq("About Us", "Contact", "Leadership",
    "Governance", "Careers", "Newsroom Archive")
  private val docKinds = Seq(
    ("Earnings Release", "pdf"), ("Earnings Presentation", "pdf"),
    ("Financial Supplement", "xlsx"), ("Shareholder Letter", "pdf"),
    ("Prepared Remarks", "pdf"), ("Form 10-Q", "pdf"))

  private val quarterWords = Map(1 -> "First", 2 -> "Second", 3 -> "Third",
    4 -> "Fourth")

  /** `n` company sites of one fixed shape under `root`: pages at `https://ir.<co>.example/...`
    * are served from `root/sites/<co>/` by [[DiskPageFetcher]]; documents
    * are relative `file:docs/<co>/...` links, resolved against the
    * JVM's working directory (the run root), so no digits of the
    * checkout path leak into the year/quarter parser.
    */
  def sites(root: Path, n: Int, seed: Long): Sites = {
    val rng = new Random(seed)
    val companies = (0 until n).map { i =>
      val co = s"co${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
      (co, co.toUpperCase, s"https://ir.$co.example/index.html")
    }
    val docs = mutable.ArrayBuffer.empty[DocLink]
    var pages = 0
    var missing = 0
    companies.foreach { case (co, _, _) =>
      val siteDir = root.resolve(s"sites/$co")
      val docDir = root.resolve(s"docs/$co")
      Files.createDirectories(siteDir)
      Files.createDirectories(docDir)
      val latestYear = 2024 + rng.nextInt(3)
      val latestQ = 1 + rng.nextInt(4)
      def prev(y: Int, q: Int, back: Int): (Int, Int) = {
        val idx = y * 4 + (q - 1) - back
        (idx / 4, idx % 4 + 1)
      }
      var docSeq = 0
      val texts = mutable.Set.empty[String]
      // a doc link for (year, quarter); writes its bytes unless broken
      def doc(year: Int, q: Int, latest: Boolean, broken: Boolean): DocLink = {
        val (kind, ext) = docKinds(rng.nextInt(docKinds.size))
        docSeq += 1
        val name = s"$co-doc${('a' + docSeq / 26).toChar}${('a' + docSeq % 26).toChar}.$ext"
        val base =
          if (rng.nextBoolean()) s"Q$q $year $kind"
          else s"${quarterWords(q)} Quarter $year $kind"
        // link texts are unique per company: the download file name
        // derives from the text, and two equal names would overwrite
        val seen = texts.count(_.startsWith(base))
        val text = if (seen == 0) base else s"$base Part ${('A' + seen).toChar}"
        texts += text
        val rel = s"docs/$co/$name"
        val (md5, size) =
          if (broken) ("", 0L)
          else {
            val bytes = new Array[Byte](8192 + rng.nextInt(57344))
            rng.nextBytes(bytes)
            Files.write(root.resolve(rel), bytes)
            (md5Hex(bytes), bytes.length.toLong)
          }
        val d = DocLink(co, s"file:$rel", text, year, q, latest, broken, md5, size)
        docs += d
        d
      }
      def anchor(href: String, text: String) = s"""<a href="$href">$text</a>"""
      def docAnchor(d: DocLink) = anchor(d.url, d.text)
      def oldDocs(k: Int): Seq[DocLink] = (1 to k).map { _ =>
        val (y, q) = prev(latestYear, latestQ, 1 + rng.nextInt(7))
        doc(y, q, latest = false, broken = rng.nextInt(6) == 0)
      }
      // six promising subpages; the crawl fetches the top 5 by
      // (score desc, href asc), so the sixth is never read
      val prom = rng.shuffle(promisingTexts).zipWithIndex.map {
        case ((t, score), i) => (s"https://ir.$co.example/p${('a' + i).toChar}.html", t, score)
      }
      val fetched = prom.sortBy { case (h, _, s) => (-s, h) }.take(5).map(_._1).toSet
      // one fetched promising link points at a page that does not exist
      val absent = Set(rng.shuffle(fetched.toSeq.sorted).head)
      val plain = rng.shuffle(plainTexts).take(3).zipWithIndex.map {
        case (t, i) => (s"https://ir.$co.example/s${('a' + i).toChar}.html", t)
      }
      val external = Seq(
        anchor(s"https://twitter.com/$co", "Follow us"),
        anchor(s"https://events.q4inc.com/$co/webcast", "Webcast"),
        anchor("javascript:void(0)", "Menu"),
        anchor(s"mailto:ir@$co.example", "Email IR"),
        anchor("#top", "Back to top"))
      def page(body: Seq[String]): String =
        s"<html><head><title>$co investor site</title></head><body>\n" +
          rng.shuffle(body).mkString("\n") + "\n</body></html>\n"
      def write(href: String, html: String): Unit = {
        Files.write(siteDir.resolve(href.substring(href.lastIndexOf('/') + 1)),
          html.getBytes(UTF_8))
        pages += 1
      }
      // index: links to every page plus one latest and one old report
      val indexDocs = Seq(doc(latestYear, latestQ, latest = true, broken = false)) ++
        oldDocs(1)
      write(s"https://ir.$co.example/index.html", page(
        prom.map { case (h, t, _) => anchor(h, t) } ++
          plain.map { case (h, t) => anchor(h, t) } ++
          external ++ indexDocs.map(docAnchor)))
      prom.foreach { case (h, _, _) =>
        if (absent(h)) missing += 1
        else {
          // reports on pages the crawl never fetches are not planted
          val reach = fetched(h)
          val latest = (0 until 2).map(_ =>
            doc(latestYear, latestQ, latest = reach, broken = rng.nextInt(5) == 0))
          write(h, page(latest.map(docAnchor) ++ oldDocs(3).map(docAnchor) ++
            Seq(anchor(s"https://ir.$co.example/index.html", "Home")) ++ external.take(2)))
        }
      }
      // leaf pages hold reports too, but score 0 and are never crawled
      plain.foreach { case (h, _) =>
        val hidden = doc(latestYear, latestQ, latest = false, broken = false)
        write(h, page(Seq(docAnchor(hidden), anchor(s"https://ir.$co.example/index.html", "Home"))))
      }
    }
    Sites(companies, docs.toSeq, pages, missing)
  }

  // ---- corpus_curation: a corpus with planted duplicates -----------------

  /** `nearPairs` are (lower id, higher id) of each planted near-duplicate. */
  final case class Corpus(docs: Seq[(Long, String)], uniqueDocs: Int,
                          nearPairs: Set[(Long, Long)])

  /** `n` docs: about 2% exact copies and 4% near copies (one or two word
    * substitutions, word-3-gram Jaccard above 0.78) of distinct bases;
    * ids are shuffled so a copy can sort before its base.
    */
  def corpus(n: Int, vocab: Zipf, seed: Long): Corpus = {
    val rng = new Random(seed)
    val nExact = n / 50
    val nNear = n / 25
    val nBase = n - nExact - nNear
    val base = Array.fill(nBase)(vocab.text(rng, 50, 90))
    val picks = rng.shuffle((0 until nBase).toVector).take(nExact + nNear)
    val exactSrc = picks.take(nExact)
    val nearSrc = picks.drop(nExact)
    val near = nearSrc.map { b =>
      val w = base(b).split(' ')
      // distinct positions: a second substitution at the first one's
      // place could restore the base word and plant an exact copy
      rng.shuffle((10 until w.length - 10).toVector).take(1 + rng.nextInt(2)).foreach { pos =>
        var sub = vocab.word(rng)
        while (sub == w(pos)) sub = vocab.word(rng)
        w(pos) = sub
      }
      w.mkString(" ")
    }
    val texts = base.toSeq ++ exactSrc.map(base(_)) ++ near
    val ids = rng.shuffle((0L until n.toLong).toVector)
    val nearPairs = nearSrc.indices.map { i =>
      val a = ids(nearSrc(i))
      val b = ids(nBase + nExact + i)
      (math.min(a, b), math.max(a, b))
    }.toSet
    Corpus(ids.zip(texts), nBase + nNear, nearPairs)
  }

  // ---- index_serve: clustered unit vectors -------------------------------

  /** Unit vectors in two-level clusters: `k` coarse centers, each with
    * `subs` sub-centers at distance about `subSpread`, points at about
    * `spread` from their sub-center. A point's nearest neighbours are
    * mostly its sub-cluster, so ANN recall depends on how well the
    * index tells sub-clusters apart.
    */
  final class Clusters(dim: Int, k: Int, subs: Int, subSpread: Double,
                       spread: Double, rng: Random) {
    private def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    private def near(c: Array[Double], by: Double, r: Random): Array[Double] =
      unit(c.map(_ + by * r.nextGaussian() / math.sqrt(dim)))
    private val centers = Array.fill(k)(unit(Array.fill(dim)(rng.nextGaussian())))
      .flatMap(c => Array.fill(subs)(near(c, subSpread, rng)))
    def vector(r: Random): Array[Float] =
      near(centers(r.nextInt(centers.length)), spread, r).map(_.toFloat)
  }
}
