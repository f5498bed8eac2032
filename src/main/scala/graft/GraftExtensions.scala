package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expr.ResolveUrl
import graft.html.{CleanHtml, ExtractLinks, ExtractTables}
import graft.llmops.{CompressionRatio, MinHashSignature, SimHash, SimHash128, WinnowFingerprints, WordNgrams}

/** Registers the engine's custom expressions for SQL use, and the
  * [[graft.plans.RewriteWindowTopK]] optimizer rule (rank-window top-k
  * → bounded-heap aggregate; disable with
  * `spark.graft.rewriteWindowTopK=false`):
  *
  * {{{
  * val spark = graft.Graft.session()  // registers these extensions
  * spark.sql("SELECT resolve_url(href, base), simhash64(text) FROM t")
  * }}}
  *
  * A session built elsewhere opts in with
  * `.withExtensions(new GraftExtensions)` on its builder.
  * Injection keeps everything session-scoped — no global registry
  * mutation, so multiple sessions with different extension sets coexist
  * (matters on shared clusters).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    e.injectFunction((FunctionIdentifier("resolve_url"),
      info("resolve_url", "resolve_url(href, base) - RFC 3986 URL resolution"),
      (args: Seq[Expression]) => ResolveUrl(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("clean_html"),
      info("clean_html", "clean_html(html) - strip script/style/svg/comments"),
      (args: Seq[Expression]) => CleanHtml(args.head)))
    e.injectFunction((FunctionIdentifier("extract_links"),
      info("extract_links", "extract_links(html) - generator of anchor rows"),
      (args: Seq[Expression]) => ExtractLinks(args.head)))
    e.injectFunction((FunctionIdentifier("extract_tables"),
      info("extract_tables", "extract_tables(html) - generator of table rows"),
      (args: Seq[Expression]) => ExtractTables(args.head)))
    e.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(text[, shingle, hashes])"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => MinHashSignature(t, 5, 128)
        case Seq(t, s, n) => MinHashSignature(t,
          s.eval().asInstanceOf[Int], n.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "minhash_signature(text[, shingleSize, numHashes])")
      }))
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash fingerprint"),
      (args: Seq[Expression]) => SimHash(args.head)))
    e.injectFunction((FunctionIdentifier("simhash128"),
      info("simhash128", "simhash128(text) - 128-bit SimHash (two seeded halves)"),
      (args: Seq[Expression]) => SimHash128(args.head)))
    e.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(text, n) - distinct word n-grams"),
      (args: Seq[Expression]) => args match {
        case Seq(t, n) => WordNgrams(t, n.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException("word_ngrams(text, n)")
      }))
    e.injectFunction((FunctionIdentifier("compression_ratio"),
      info("compression_ratio",
        "compression_ratio(text) - deflate size / raw size repetition signal"),
      (args: Seq[Expression]) => CompressionRatio(args.head)))
    e.injectFunction((FunctionIdentifier("canonical_url"),
      info("canonical_url",
        "canonical_url(url) - visited-set canonical form (lowercased " +
          "scheme/host, default ports and fragments dropped, dot-segments " +
          "resolved, tracking params removed, query sorted)"),
      (args: Seq[Expression]) => graft.expr.CanonicalUrl(args.head)))
    e.injectFunction((FunctionIdentifier("pdf_text"),
      info("pdf_text", "pdf_text(binary) - extracted PDF text, null if corrupt"),
      (args: Seq[Expression]) => graft.llmops.PdfTextExpr(args.head)))
    e.injectFunction((FunctionIdentifier("image_dhash"),
      info("image_dhash",
        "image_dhash(binary) - 64-bit perceptual dHash, null if undecodable"),
      (args: Seq[Expression]) => graft.llmops.ImageDHash(args.head)))
    e.injectFunction((FunctionIdentifier("audio_energy_hash"),
      info("audio_energy_hash",
        "audio_energy_hash(binary) - 64-bit energy dHash, null if undecodable"),
      (args: Seq[Expression]) => graft.llmops.AudioEnergyHash(args.head)))
    e.injectFunction((FunctionIdentifier("collect_top_k"),
      info("collect_top_k",
        "collect_top_k(id, score, k) - bounded-heap exact per-group top-k " +
          "(array of (id, score) structs, score desc / id asc)"),
      (args: Seq[Expression]) => args match {
        case Seq(id, s, k) if k.foldable && k.eval() != null =>
          k.eval() match {
            case n: Number => graft.llmops.CollectTopK(id, s, n.intValue())
            case _ => throw new IllegalArgumentException(
              "collect_top_k(id, score, k) with literal non-null numeric k")
          }
        case _ => throw new IllegalArgumentException(
          "collect_top_k(id, score, k) with literal non-null numeric k")
      }))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float arrays " +
          "(0.0 when either is a zero vector)"),
      (args: Seq[Expression]) =>
        graft.llmops.CosineSim(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - inner product of two float arrays " +
          "(the ADC family's ranking metric)"),
      (args: Seq[Expression]) =>
        graft.llmops.DotProduct(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("freq_items"),
      info("freq_items",
        "freq_items(item, k) - Misra-Gries heavy-hitters summary " +
          "(array of (item, est) structs; est in [true-n/(k+1), true])"),
      (args: Seq[Expression]) => args match {
        case Seq(item, k) if k.foldable && k.eval() != null =>
          k.eval() match {
            case n: Number => graft.llmops.MisraGries(item, n.intValue())
            case _ => throw new IllegalArgumentException(
              "freq_items(item, k) with literal non-null numeric k")
          }
        case _ => throw new IllegalArgumentException(
          "freq_items(item, k) with literal non-null numeric k")
      }))
    e.injectFunction((FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch",
        "kmv_sketch(hash, k) - bottom-k distinct-hash sketch " +
          "(ascending array of the k smallest distinct longs)"),
      (args: Seq[Expression]) => args match {
        case Seq(h, k) if k.foldable && k.eval() != null =>
          k.eval() match {
            case n: Number => graft.llmops.KmvMinK(h, n.intValue())
            case _ => throw new IllegalArgumentException(
              "kmv_sketch(hash, k) with literal non-null numeric k")
          }
        case _ => throw new IllegalArgumentException(
          "kmv_sketch(hash, k) with literal non-null numeric k")
      }))
    e.injectFunction((FunctionIdentifier("tdigest"),
      info("tdigest",
        "tdigest(value, compression) - mergeable t-digest quantile " +
          "sketch (array of (mean, weight) centroids ascending by mean)"),
      (args: Seq[Expression]) => args match {
        case Seq(v, c) if c.foldable && c.eval() != null =>
          c.eval() match {
            case n: Number => graft.llmops.TDigestAgg(v, n.intValue())
            case _ => throw new IllegalArgumentException(
              "tdigest(value, compression) with literal non-null numeric compression")
          }
        case _ => throw new IllegalArgumentException(
          "tdigest(value, compression) with literal non-null numeric compression")
      }))
    e.injectFunction((FunctionIdentifier("tdigest_quantile"),
      info("tdigest_quantile",
        "tdigest_quantile(digest, q) - interpolated quantile estimate " +
          "from a tdigest() value"),
      (args: Seq[Expression]) => args match {
        case Seq(d, q) if q.foldable && q.eval() != null =>
          q.eval() match {
            case n: Number => graft.llmops.TDigestQuantile(d, n.doubleValue())
            case n: org.apache.spark.sql.types.Decimal => // SQL 0.5 literal
              graft.llmops.TDigestQuantile(d, n.toDouble)
            case _ => throw new IllegalArgumentException(
              "tdigest_quantile(digest, q) with literal non-null numeric q")
          }
        case _ => throw new IllegalArgumentException(
          "tdigest_quantile(digest, q) with literal non-null numeric q")
      }))
    e.injectFunction((FunctionIdentifier("nfc_norm"),
      info("nfc_norm", "nfc_norm(text) - Unicode NFC canonical composition"),
      (args: Seq[Expression]) => graft.expr.NfcNormalize(args.head)))
    e.injectFunction((FunctionIdentifier("nfkc_norm"),
      info("nfkc_norm",
        "nfkc_norm(text) - Unicode NFKC compatibility composition " +
          "(ligatures, fullwidth forms, fractions folded)"),
      (args: Seq[Expression]) => graft.expr.NfkcNormalize(args.head)))
    e.injectFunction((FunctionIdentifier("strip_accents"),
      info("strip_accents",
        "strip_accents(text) - remove combining marks (NFD-strip-NFC)"),
      (args: Seq[Expression]) => graft.expr.StripAccents(args.head)))
    e.injectFunction((FunctionIdentifier("clean_text"),
      info("clean_text",
        "clean_text(text) - strip C0/DEL controls, collapse whitespace, trim"),
      (args: Seq[Expression]) => graft.expr.CleanText(args.head)))
    e.injectFunction((FunctionIdentifier("robots_allowed"),
      info("robots_allowed",
        "robots_allowed(robots_txt, agent, url) - RFC 9309 crawl verdict"),
      (args: Seq[Expression]) =>
        graft.expr.RobotsAllowed(args(0), args(1), args(2))))
    e.injectFunction((FunctionIdentifier("robots_crawl_delay"),
      info("robots_crawl_delay",
        "robots_crawl_delay(robots_txt, agent) - matching group's " +
          "Crawl-delay seconds, null when undeclared"),
      (args: Seq[Expression]) =>
        graft.expr.RobotsCrawlDelay(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("robots_sitemaps"),
      info("robots_sitemaps",
        "robots_sitemaps(robots_txt) - the file's Sitemap: URLs"),
      (args: Seq[Expression]) => graft.expr.RobotsSitemaps(args.head)))
    e.injectFunction((FunctionIdentifier("extract_sitemap"),
      info("extract_sitemap",
        "extract_sitemap(xml) - generator of sitemap url/sitemap entries"),
      (args: Seq[Expression]) => graft.expr.ExtractSitemap(args.head)))
    // "sentences" would shadow Spark's built-in locale tokenizer —
    // register under a distinct name
    e.injectFunction((FunctionIdentifier("split_sentences"),
      info("split_sentences",
        "split_sentences(text) - rule-based sentence segmentation " +
          "to array<string> (abbreviation-guarded boundaries)"),
      (args: Seq[Expression]) => graft.llmops.SentencesExpr(args.head)))
    e.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text[, k, w]) - winnowing fingerprint array"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => WinnowFingerprints(t, 8, 12)
        case Seq(t, k, w) => WinnowFingerprints(t,
          k.eval().asInstanceOf[Int], w.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "winnow_fingerprints(text[, k, w])")
      }))
  }
}
