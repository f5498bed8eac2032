package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines, expressed as
  * pure Catalyst column pipelines (codegen-eligible, no UDFs) so they
  * scale: every function here is a narrow map — no shuffle — and can be
  * mirrored exactly in ANSI SQL for the DuckDB oracle.
  */
object TextFuncs {

  /** Inclusive BMP codepoint ranges of no-space scripts — the ONE
    * source of truth (the regex class below and the
    * [[NgramKernels]] char predicate both derive from it; round-10's
    * hand-duplicated copy in Ngrams.scala was a drift risk): Thai
    * (0E00–0E7F), Lao (0E80–0EFF), Myanmar (1000–109F), Khmer
    * (1780–17FF), Hiragana/Katakana (3040–30FF), CJK Extension A
    * (3400–4DBF), CJK Unified Ideographs (4E00–9FFF), CJK
    * Compatibility Ideographs (F900–FAFF). Kept sorted ascending —
    * [[isNoSpaceScript]] fast-exits below the first range, so Latin
    * text pays one comparison per char.
    *
    * Segmentation note: for kana/CJK one-codepoint-per-token is the
    * UAX#29 word-break rule; for Thai/Lao/Khmer/Myanmar true word
    * segmentation needs a dictionary, so char-level tokens are a
    * deliberate approximation — uniform, deterministic, and enough
    * for BM25/langId/vocab to see signal instead of one giant token
    * (the exact q169 failure mode X140 fixed for zh).
    */
  val noSpaceScriptRanges: Array[(Char, Char)] = Array(
    '฀' -> '๿', // Thai
    '຀' -> '໿', // Lao
    'က' -> '႟', // Myanmar
    'ក' -> '៿', // Khmer
    '぀' -> 'ヿ', // Hiragana / Katakana
    '㐀' -> '䶿', // CJK Extension A
    '一' -> '鿿', // CJK Unified Ideographs
    '豈' -> '﫿') // CJK Compatibility Ideographs

  /** [[noSpaceScriptRanges]] as a Java-regex char-class body. The
    * DuckDB oracle mirrors the same ranges as an RE2 `\x{....}` class
    * (see the q22/q169 oracle SQL).
    */
  val noSpaceScriptClass: String =
    noSpaceScriptRanges
      .map { case (a, b) => f"\\u${a.toInt}%04x-\\u${b.toInt}%04x" }
      .mkString

  /** Char-level predicate over [[noSpaceScriptRanges]] — the form the
    * codegen n-gram/shingle kernels call per character. Latin text
    * exits on the first comparison.
    */
  def isNoSpaceScript(c: Char): Boolean = {
    if (c < noSpaceScriptRanges(0)._1) return false
    var i = 0
    while (i < noSpaceScriptRanges.length) {
      val r = noSpaceScriptRanges(i)
      if (c <= r._2) return c >= r._1
      i += 1
    }
    false
  }

  /** JVM kernel for [[isolateNoSpaceScripts]]: single char-scan, and —
    * the part that matters at corpus scale — returns the INPUT STRING
    * UNCHANGED (same reference, zero allocation) when no no-space
    * codepoint occurs. The round-10 `regexp_replace` form put a
    * java.util.regex pass in front of EVERY tokenizing operator
    * (BM25 index builds, vocab, TF-IDF, langId), which the round-11
    * interleaved A/B measured as the q136-family build regression
    * (~1.4×); Latin-script text — the overwhelming mass — now pays
    * one range comparison per char and allocates nothing.
    */
  def isolateNoSpaceScriptsJvm(s: String): String = {
    if (s == null) return null
    val n = s.length
    var i = 0
    while (i < n && !isNoSpaceScript(s.charAt(i))) i += 1
    if (i == n) return s
    val sb = new java.lang.StringBuilder(n + 64)
    sb.append(s, 0, i)
    while (i < n) {
      val c = s.charAt(i)
      if (isNoSpaceScript(c)) {
        sb.append(' '); sb.append(c); sb.append(' ')
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Isolate every no-space-script codepoint as its own
    * whitespace-delimited token (UAX#29-lite word-break: one ideograph
    * = one token). Identity on text containing none of those
    * codepoints, so plain-whitespace oracle mirrors stay exact on
    * Latin-script corpora. Codegen scalar over
    * [[isolateNoSpaceScriptsJvm]]; semantics identical to
    * `regexp_replace(text, "([ranges])", " $1 ")`, which remains the
    * DuckDB oracle mirror.
    */
  def isolateNoSpaceScripts(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      IsolateNoSpaceScripts(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text)))

  /** Script-aware tokenization (lowercased): whitespace split after
    * isolating no-space-script (CJK/kana) codepoints. Every lexical
    * operator (BM25, vocab training, TF-IDF embeddings, PMI, language
    * ID, boilerplate) inherits this seam, so unspaced Chinese/Japanese
    * text yields one token per ideograph instead of one giant token —
    * without it BM25 silently matches nothing and langId scores 0 on
    * real CJK input.
    */
  def tokens(text: Column): Column =
    split(lower(trim(isolateNoSpaceScripts(text))), "\\s+")

  /** [[tokens]] with a pluggable no-space-script [[Segmenter]] — the
    * production seam for real Thai/Lao/Khmer word boundaries (see the
    * Segmenter scaladoc). `Segmenter.CharLevel` takes the dedicated
    * codegen kernel path and is bit-identical to the 1-arg overload.
    */
  def tokens(text: Column, seg: Segmenter): Column = seg match {
    case Segmenter.CharLevel => tokens(text)
    case s => split(lower(trim(Segmenter.segmentText(text, s))), "\\s+")
  }

  /** Token count — whitespace tokenizer. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** [[tokenCount]] under a pluggable [[Segmenter]]. */
  def tokenCount(text: Column, seg: Segmenter): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text, seg)))

  /** A BPE-ish subword proxy: counts word chunks of ≤ 4 chars, the
    * standard ~4-chars-per-token heuristic, as ceil(len/4) per word.
    */
  def approxBpeTokenCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))

  /** GPT-2-style pretokenizer pattern: contractions, letter runs,
    * digit runs, punctuation runs (lowercased input, so no upper
    * class). Shared verbatim with the DuckDB oracle.
    */
  val bpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9']+"

  /** BPE-ish regex pretokenization (the merge step is model-specific;
    * the pretokenizer split is what data pipelines count).
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpePattern), lit(0))

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  /** Stopword sets used by the language-ID heuristic. Tiny n-gram-free
    * heuristic: score = stopword hits per language, argmax wins,
    * "und" (undetermined) when nothing hits. The zh and th entries are
    * single codepoints by design — [[tokens]] isolates no-space-script
    * codepoints one-per-token, so the most frequent characters ARE the
    * high-frequency "words" the tokenizer emits.
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "et"),
    "th" -> Seq("า", "น", "ร", "เ", "อ", "ก", "ง", "ม"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不"))

  /** Stopword occurrence count (with multiplicity) for one language. */
  def langHitsFromTokens(toks: Column, lang: String): Column =
    size(filter(toks,
      t => array_contains(array(langStopwords(lang).map(lit): _*), t)))

  /** Heuristic language ID over the declared stopword sets: the language
    * with the most stopword occurrences wins; ties break alphabetically
    * (first-match-wins `>=` chain); zero hits → "und". Defined so the
    * exact same logic is expressible in ANSI SQL for the oracle.
    *
    * Takes a token array so callers tokenize once — the split is the
    * expensive part and Catalyst does not CSE it across the five
    * per-language filters.
    */
  def langIdFromTokens(toks: Column): Column = {
    val langs = langStopwords.keys.toSeq.sorted
    val hits = langs.map(l => l -> langHitsFromTokens(toks, l)).toMap
    val allZero = hits.values.reduce(_ + _) === 0
    val chain = langs.init.zipWithIndex.foldLeft(when(allZero, "und")) {
      case (acc, (l, i)) =>
        val rest = langs.drop(i + 1).map(hits)
        acc.when(rest.map(r => hits(l) >= r).reduce(_ && _), l)
    }
    chain.otherwise(langs.last)
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Quality-scoring signals (length, punctuation density, stopword
    * ratio, mean word length) combined into [0,1].
    */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^.,;:!?'\"()-]", "")) /
        length(text).cast("double"))

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val en = array(langStopwords("en").map(lit): _*)
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => array_contains(en, t))) /
        size(toks).cast("double"))
  }

  def meanWordLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0L), (acc, w) => acc + length(w)) /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: reasonable length band, some
    * stopwords, words neither too short nor too long, low punctuation
    * noise. Deterministic and SQL-mirrorable.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(50, 20000), 0.25).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) >= 0.01, 0.25).otherwise(0.0)
    val mwl = meanWordLen(text)
    val wordOk = when(mwl.between(2.0, 12.0), 0.25).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.1, 0.25).otherwise(0.0)
    lenOk + stopOk + wordOk + punctOk
  }

  /** Repair hyphenated line wraps (X210): `exam-\nple` → `example` —
    * the dominant text artifact of PDF/column extraction (the X83 PDF
    * path emits them verbatim), which otherwise splits one word into
    * two tokens and poisons BM25/vocab/dedup shingles downstream.
    * A letter-hyphen-newline-letter join (optional trailing/leading
    * spaces around the newline); pure `regexp_replace`, RE2-safe (no
    * lookaround), so the DuckDB oracle mirrors it verbatim. Known
    * limit, identical in both engines: matches are non-overlapping
    * left-to-right, so a 1-letter line between two wraps keeps its
    * second hyphen — real prose lines are longer.
    */
  def dehyphenate(text: Column): Column =
    regexp_replace(text,
      "(\\p{L})-[ \\t]*\\n[ \\t]*(\\p{L})", "$1$2")

  /** Unwrap single line breaks into spaces (X210), preserving
    * paragraph breaks (`\n\n` stays): [[dehyphenate]] first, then
    * join `X\nY` for non-newline X,Y. Same RE2-safe non-overlapping
    * caveat (1-character lines), identical in both engines.
    */
  def unwrapLines(text: Column): Column =
    regexp_replace(dehyphenate(text),
      "([^\\n])\\n([^\\n])", "$1 $2")

  /** Character n-gram shingles (lowercased, whitespace-collapsed). */
  def charShingles(text: Column, n: Int): Column = {
    val t = regexp_replace(lower(trim(text)), "\\s+", " ")
    val limit = greatest(length(t) - lit(n - 1), lit(1))
    array_distinct(
      transform(sequence(lit(1), limit), i => substring(t, i, lit(n))))
  }

  /** Word n-grams joined with a space (distinct, first-seen order).
    * Delegates to the [[NgramKernels]] codegen Expression; the
    * higher-order-function formulation it replaces is kept as
    * [[wordNgramsHof]] and pinned equivalent by TextFuncsSpec.
    */
  def wordNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      WordNgrams(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text), n))

  /** [[wordNgrams]] under a pluggable [[Segmenter]]: the kernel
    * shingles the SAME token space `tokens(text, seg)` produces, so
    * n-gram dedup/decontamination stay consistent with the lexical
    * operators when a real word segmenter is plugged in.
    */
  def wordNgrams(text: Column, n: Int, seg: Segmenter): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      WordNgrams(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(text), n, seg))

  /** Reference HOF formulation of [[wordNgrams]] (the shape the DuckDB
    * oracles mirror) — retained to pin kernel equivalence in tests.
    */
  def wordNgramsHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val limit = greatest(size(toks) - lit(n - 1), lit(1))
    array_distinct(
      transform(sequence(lit(1), limit),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Exact n-gram Jaccard similarity between two texts. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = wordNgrams(a, n)
    val sb = wordNgrams(b, n)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  // --- PII scrubbing ---------------------------------------------------
  // Patterns are deliberately RE2-compatible (no lookaround, no
  // backreferences) so the DuckDB oracle can run them verbatim.

  // (?i) rather than widened classes: redaction runs on RAW text, so
  // Bob@Example.COM must match too. RE2 supports the inline flag, so
  // the DuckDB oracle can still run the pattern verbatim.
  val emailPattern: String = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern: String = "\\b\\d{3}-\\d{4}\\b"
  val ipPattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, phone numbers, and IPv4 addresses with typed
    * placeholder tags. Order matters (emails first — an email never
    * contains a phone, but the IP pattern could bite into a dotted
    * hostname, so hostnames are consumed by the email pass first).
    * A narrow map over the text column — no shuffle, codegen'd.
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, emailPattern, "<EMAIL>")
    val p = regexp_replace(e, phonePattern, "<PHONE>")
    regexp_replace(p, ipPattern, "<IP>")
  }

  // --- Credit-card detection with Luhn validation (X213) ---------------
  // Regex-only card redaction has a brutal false-positive rate (any
  // 16-digit id, order number, or timestamp run matches); the public
  // standard check is Luhn mod-10 (ISO/IEC 7812), which every real
  // card number passes and ~90 % of random digit runs fail. The whole
  // operator is BUILTIN composition — regexp_extract_all for
  // candidates, an `aggregate` HOF for the checksum, `replace` folded
  // over the valid matches — so it stays inside whole-stage codegen
  // and the DuckDB oracle replays the identical arithmetic.

  /** 13–19 digits with optional single space/dash separators,
    * word-bounded. RE2-safe (no lookaround).
    */
  val cardPattern: String = "\\b\\d(?:[ -]?\\d){12,18}\\b"

  /** Luhn mod-10 checksum over a digits-only string: double every
    * second digit from the RIGHT, fold >9 by subtracting 9, sum ≡ 0
    * (mod 10). Also gates length to the 13–19 card band. Pure
    * expression arithmetic — callers pass separator-stripped digits.
    */
  def luhnValid(digits: Column): Column = {
    val rev = reverse(digits)
    val n = length(rev)
    val total = aggregate(sequence(lit(1), n), lit(0),
      (acc, i) => {
        val dd = substr(rev, i, lit(1)).cast("int")
        acc + when(i % 2 === 0,
          when(dd * 2 > 9, dd * 2 - 9).otherwise(dd * 2)).otherwise(dd)
      })
    n.between(13, 19) && (total % 10 === 0)
  }

  /** Raw card-shaped candidate substrings (separators kept). */
  def cardCandidates(text: Column): Column =
    regexp_extract_all(text, lit(cardPattern), lit(0))

  /** Candidates that pass Luhn (raw form, separators kept). */
  def validCards(text: Column): Column =
    filter(cardCandidates(text),
      c => luhnValid(regexp_replace(c, "[ -]", "")))

  /** Replace every Luhn-VALID card-shaped run with `<CARD>`; invalid
    * candidates (random digit runs) stay untouched — the precision
    * regex-only redaction cannot have. Replacement happens at WORD
    * BOUNDARIES, not as a plain substring fold: a valid card's digit
    * sequence occurring INSIDE a longer digit run (a 20+-digit id
    * containing the card's digits) was never a candidate and must not
    * be rewritten. Splicing the candidate into a regex is safe by
    * construction — `cardPattern` admits only digits, spaces, and
    * dashes, none of which is a regex metacharacter outside a class.
    * A narrow map, no shuffle.
    */
  def redactCards(text: Column): Column =
    aggregate(validCards(text), text,
      (acc, c) => regexp_replace(acc,
        concat(lit("\\b"), c, lit("\\b")), lit("<CARD>")))

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(phonePattern), lit(0)))
  def ipCount(text: Column): Column =
    size(regexp_extract_all(text, lit(ipPattern), lit(0)))

  // --- Encoding-damage signals (X157) -----------------------------------
  // A 100 TB web corpus carries text that survived a wrong decode
  // somewhere upstream; the damage is invisible to length/stopword
  // heuristics (mojibake is still "words") but poisons tokenizers and
  // dedup. Three narrow codegen'd counters — no shuffle, each exactly
  // mirrorable in RE2 for the oracle.

  /** U+FFFD replacement characters — the decoder already gave up. */
  def replacementCharCount(text: Column): Column =
    regexp_count(text, lit("�"))

  /** C0/C1 control characters excluding tab/newline/CR — binary spill
    * or a transport-layer mangle, never intentional prose.
    */
  def controlCharCount(text: Column): Column =
    regexp_count(text,
      lit("[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F\\u007F-\\u009F]"))

  /** Canonical UTF-8-read-as-cp1252 digraph markers ("Ã©" for é,
    * "â€" opening the curly-quote/dash family, "Â " for a non-breaking
    * space, …). A practical detector for the single most common decode
    * error, not a decoder: the alternation lists the high-frequency
    * markers so the count is exact, deterministic, and replayable.
    */
  def mojibakeCount(text: Column): Column =
    regexp_count(text,
      lit("Ã©|Ã¤|Ã¶|Ã¼|" +
        "Ã±|Ã¡|Ã³|Ã¨|" +
        "Â |Â |â€"))

  /** Damaged characters per input character, in [0, 1]: the gate
    * signal (a few scattered hits are quoting/noise; a high ratio is
    * a mis-decoded document). Empty text → 0.
    */
  def encodingDamageRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (replacementCharCount(text) + controlCharCount(text) +
        mojibakeCount(text)).cast("double") / length(text))

  // --- Readability (X163) -----------------------------------------------
  // Flesch Reading Ease as an audience-level signal: children's
  // content, encyclopedic prose, and legal/technical boilerplate
  // separate cleanly, which makes it a curriculum/mixture feature the
  // length/stopword heuristics don't capture. The syllable counter is
  // the standard vowel-group heuristic, stated exactly so the oracle
  // replays it: every [aeiouy]+ run counts one syllable, and a word
  // with no vowel run ("tv", "7") counts one.

  /** Sentence count: terminal-punctuation runs, floored at 1 (prose
    * with no terminal punct is one sentence, not a division by zero).
    */
  def sentenceCountApprox(text: Column): Column =
    greatest(lit(1), regexp_count(text, lit("[.!?]+")))

  /** Vowel-group syllable count over the whole text (per-word floor
    * of 1 applied via the no-vowel-word correction).
    */
  def syllableCountApprox(text: Column): Column = {
    val vg = regexp_count(lower(text), lit("[aeiouy]+"))
    val novowel = size(filter(tokens(text),
      t => t =!= "" && !t.rlike("[aeiouy]")))
    vg + novowel
  }

  /** Flesch Reading Ease: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words); null on empty text (no prose to score).
    * ~90+ reads as elementary, ~60 plain prose, <30 academic/legal.
    */
  def fleschReadingEase(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    when(w === 0, lit(null).cast("double")).otherwise(
      lit(206.835) -
        lit(1.015) * (w / sentenceCountApprox(text)) -
        lit(84.6) * (syllableCountApprox(text) / w))
  }

  // --- Budget truncation (X179) -----------------------------------------

  /** Head+tail token truncation: keep the first `headTokens` and last
    * `tailTokens` whitespace tokens with a marker between — the
    * long-document convention for fixed token budgets (intros carry
    * topic, endings carry conclusions/boilerplate signals; a pure
    * head-cut loses the second). Contract, stated exactly: documents
    * at or under budget pass VERBATIM (bit-identical, not rejoined);
    * truncated documents re-join tokens with single spaces (original
    * inter-token whitespace is not preserved — the budget path is a
    * normalization path). Case is preserved — truncation is not
    * tokenization. A pure scalar projection, codegen'd, no shuffle.
    */
  def truncateTokens(text: Column, headTokens: Int, tailTokens: Int,
                     marker: String = " ... "): Column = {
    require(headTokens >= 1 && tailTokens >= 1,
      "head and tail budgets must be >= 1")
    val toks = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, text)
      .when(size(toks) <= headTokens + tailTokens, text)
      .otherwise(concat(
        array_join(slice(toks, 1, headTokens), " "),
        lit(marker),
        array_join(slice(toks, -tailTokens, tailTokens), " ")))
  }

  // --- Repetition filters (Gopher-style quality signals) ---------------

  /** Word n-grams WITH multiplicity (no distinct) — the denominator for
    * repetition ratios.
    */
  def wordNgramsAll(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val limit = greatest(size(toks) - lit(n - 1), lit(1))
    transform(sequence(lit(1), limit), i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Fraction of word occurrences that repeat an earlier word:
    * 1 − |distinct words| / |words|. High values flag keyword-stuffed
    * or template text.
    */
  def duplicateWordFraction(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(lit(1.0) - size(array_distinct(toks)) /
        size(toks).cast("double"))
  }

  /** Non-blank lines of a document, for the line-shape signals. */
  private def nonBlankLines(text: Column): Column =
    filter(split(text, "\n"), l => trim(l) =!= "")

  /** Fraction of non-blank lines that repeat an earlier line — the
    * FineWeb/Gopher "fraction of duplicated lines" signal: high values
    * mark listings, chat logs, and scraper echo, not prose. 0.0 for
    * line-less docs.
    */
  def duplicateLineFraction(text: Column): Column = {
    val ls = nonBlankLines(text)
    when(size(ls) === 0, 0.0)
      .otherwise(lit(1.0) - size(array_distinct(ls)) /
        size(ls).cast("double"))
  }

  /** Fraction of non-blank lines ending in terminal punctuation
    * (. ! ? " ') — prose sentences end with it, navigation/menu lines
    * do not (the FineWeb "line ends with punctuation" filter, after
    * C4's heuristic). 0.0 for line-less docs.
    */
  def terminalPunctLineFraction(text: Column): Column = {
    val ls = nonBlankLines(text)
    val punct = filter(ls, l =>
      trim(l).rlike("[.!?\"']$"))
    when(size(ls) === 0, 0.0)
      .otherwise(size(punct) / size(ls).cast("double"))
  }

  /** Fraction of word n-grams that repeat an earlier n-gram — the
    * classic duplicate-n-gram repetition signal.
    */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    val grams = wordNgramsAll(text, n)
    when(size(grams) === 0, 0.0)
      .otherwise(lit(1.0) - size(array_distinct(grams)) /
        size(grams).cast("double"))
  }

  /** Within-document repetition statistics — the positional Gopher
    * repetition rules (Rae et al. 2021, Table A1: "fraction of
    * characters in the most frequent n-gram" for small n, "fraction
    * of characters in duplicated n-grams" for large n), in exact
    * integer token space so flags are deterministic (thresholds
    * rescale; the char variants just weight by word length). One row
    * per document with ≥ n tokens:
    * (id, n_tokens, top_gram_cnt, dup_gram_occurrences,
    * dup_token_cover) — top_gram_cnt = occurrences of the most
    * frequent word n-gram; dup_token_cover = distinct token positions
    * inside n-grams occurring ≥ `minCount` times (overlaps UNIONED,
    * the part [[duplicateNgramFraction]]'s blunt distinct-ratio
    * cannot express).
    *
    * Relational shape — the within-doc sibling of
    * [[Dedup.duplicateSpanStats]]: slim (id, pos, gram) rows through
    * one (id, gram) count and a join-back on the same key; text never
    * shuffles and nothing is quadratic in document length. (The HOF
    * alternative — count each distinct gram by filtering the gram
    * array — is O(len²) per row and dies on exactly the long template
    * documents this rule exists to flag.)
    */
  def repetitionStats(docs: DataFrame, n: Int = 2, minCount: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(n >= 1, s"n-gram length n=$n must be >= 1")
    val occ = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__nt", size(col("__toks")))
      // sequence(1, x) with x < 1 runs DESCENDING — guard short docs out
      .filter(col("__nt") >= n)
      .select(col(idCol), col("__nt"),
        posexplode(transform(sequence(lit(1), col("__nt") - (n - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
          .as(Seq("__pos", "__g")))
      .localCheckpoint() // one tokenize scan for both consumers (q95 pattern)
    val cnts = occ.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__c"), first(col("__nt")).as("__ntg"))
    val top = cnts.groupBy(col(idCol))
      .agg(first(col("__ntg")).as("n_tokens"),
        max(col("__c")).as("top_gram_cnt"))
    val dup = occ
      .join(cnts.filter(col("__c") >= minCount)
        .select(col(idCol), col("__g")), Seq(idCol, "__g"))
      .select(col(idCol), col("__pos"),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__pos")).as("dup_gram_occurrences"),
        countDistinct(col("__p")).as("dup_token_cover"))
    top.join(dup, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("top_gram_cnt"),
        coalesce(col("dup_gram_occurrences"), lit(0L))
          .as("dup_gram_occurrences"),
        coalesce(col("dup_token_cover"), lit(0L)).as("dup_token_cover"))
  }

  /** Cross-document line-level boilerplate removal — the CCNet /
    * RefinedWeb line-dedup stage: a LINE that appears verbatim in
    * `minDocs`-or-more distinct documents is navigation, a cookie
    * banner, or a copyright footer, not content, and is dropped from
    * every document; each document's remaining lines keep their order.
    * The complement of [[Dedup.dropDuplicateSpans]] (n-gram spans
    * inside reflowed prose) — boilerplate that is LINE-structured is
    * caught here in one pass with no sketching.
    *
    * Relational shape: slim (id, pos, line-hash) rows through one
    * distinct-doc count per hash and a join-back on the hash; the
    * count table carries 16 bytes per DISTINCT line, documents
    * reassemble with one sort_array per row. Blank lines are
    * structure, not boilerplate — never counted, always kept
    * (documents that end up all-boilerplate return "" rather than
    * disappearing: dropping rows is [[Corpus.clean]]'s decision, not
    * a rewrite stage's).
    */
  def dropBoilerplateLines(docs: DataFrame, minDocs: Int = 2,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    val others = docs.columns.filter(c => c != idCol && c != textCol)
    val lines = docs
      .select(col(idCol) +: others.map(col) :+
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")): _*)
      .withColumn("__h", xxhash64(col("__line"), length(col("__line"))))
    val boiler = lines
      .filter(trim(col("__line")) =!= "")
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val rebuilt = lines
      .join(boiler, Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__line")))),
        s => s.getField("__line")), "\n").as(textCol))
    // join back to the input ids so an all-boilerplate document
    // returns "" instead of disappearing
    docs.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
      .select(docs.columns.map(col): _*)
  }

  /** Class-based TF-IDF cluster labeling (SURVEY §2.10 X130) — the
    * BERTopic-style c-TF-IDF move: after clustering (X60 semantic
    * clusters, or any grouping column), each cluster labels itself
    * with the terms that DISTINGUISH it — term frequency within the
    * cluster weighted by ln(nClusters / clusterDf), where clusterDf
    * counts the CLUSTERS containing the term, so corpus-wide
    * stopwords (present in every cluster) score exactly zero and
    * cluster-specific vocabulary dominates. The human-readable half
    * of corpus exploration: cluster sizes say how big, these terms
    * say WHAT.
    *
    * Scale shape: one tokenize scan reduces to slim (cluster, term,
    * tf) rows; the cluster-df and nClusters aggregates run over that
    * reduced frame (nClusters broadcasts as a 1-row cross join); the
    * top-k rank window partitions by cluster over slim scored rows —
    * bounded by a cluster's distinct vocabulary, never the corpus.
    *
    * @return (cluster, rk, term, tf, score), rk 1-based by
    *         (score desc, term asc)
    */
  def clusterTerms(docs: DataFrame, clusterCol: String, k: Int,
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      // null cluster = unclustered noise (e.g. outlier points a
      // density clusterer refuses): excluded, so it neither labels
      // itself nor inflates nClusters in every term's idf
      .filter(col(clusterCol).isNotNull)
      .select(col(clusterCol).as("cluster"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cdf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("__cdf"))
    val nClusters = tf.select(col("cluster")).distinct()
      .agg(count(lit(1)).as("__nc"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("term"))
    tf.join(cdf, Seq("term"))
      .crossJoin(broadcast(nClusters))
      .withColumn("score",
        col("tf") * log(col("__nc").cast("double") / col("__cdf")))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("cluster"), col("rk"), col("term"), col("tf"),
        col("score"))
  }

  /** Log-odds distinctive terms (X197; Monroe, Colaresi & Quinn 2008,
    * "Fightin' Words", uniform Dirichlet prior) — each group's terms
    * scored by the Z-STATISTIC of their log-odds against the rest of
    * the corpus. The inferential upgrade over [[clusterTerms]]'
    * c-TF-IDF: raw frequency ratios over-reward rare terms (one
    * mention in a small group looks infinitely distinctive); the
    * prior shrinks small counts and the variance term
    * 1/(y+α) + 1/(y'+α) turns the score into evidence, so a term
    * must be both SKEWED and SUPPORTED to rank. The source-forensics
    * question ("what does this crawl slice talk about that the
    * others don't") answered with error bars.
    *
    * δ = ln[(y+α)/(nᵍ+αV−y−α)] − ln[(y'+α)/(nʳ+αV−y'−α)],
    * z = δ / sqrt(1/(y+α) + 1/(y'+α)) — all from one token scan
    * reduced to slim (group, term, count) rows; group totals and the
    * vocabulary size broadcast; the top-k window runs per group over
    * its own vocabulary.
    *
    * @return (group, rk, term, n_group, n_rest, z) — z 4dp, rk by
    *         (z desc, term)
    */
  def distinctiveTerms(docs: DataFrame, byCol: String, k: Int = 5,
                       alpha: Double = 0.01, minCount: Long = 2,
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && alpha > 0, "k >= 1, alpha > 0")
    val counts = docs.filter(col(byCol).isNotNull)
      .select(col(byCol).as("group"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("group"), col("term"))
      .agg(count(lit(1)).as("y"))
    val gTot = counts.groupBy(col("group"))
      .agg(sum(col("y")).as("ng"))
    val tTot = counts.groupBy(col("term"))
      .agg(sum(col("y")).as("yg"))
    val global = counts.agg(sum(col("y")).as("nn"),
      countDistinct(col("term")).as("vv"))
    val scored = counts
      .join(broadcast(gTot), Seq("group"))
      .join(tTot, Seq("term"))
      .crossJoin(broadcast(global))
      .withColumn("yr", col("yg") - col("y"))
      .withColumn("nr", col("nn") - col("ng"))
      .withColumn("delta",
        log((col("y") + alpha) /
          (col("ng") + lit(alpha) * col("vv") - col("y") - alpha)) -
        log((col("yr") + alpha) /
          (col("nr") + lit(alpha) * col("vv") - col("yr") - alpha)))
      .withColumn("z", round(col("delta") /
        sqrt(lit(1.0) / (col("y") + alpha) +
          lit(1.0) / (col("yr") + alpha)), 4))
      .filter(col("y") >= minCount)
    val w = Window.partitionBy(col("group"))
      .orderBy(col("z").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("group"), col("rk"), col("term"),
        col("y").as("n_group"), col("yr").as("n_rest"), col("z"))
  }

  /** Zipf rank-frequency fit (SURVEY §2.10 X139) — the corpus-health
    * one-liner: natural text follows freq ∝ rank^s with s ≈ −1
    * (Zipf's law); an OLS fit of ln(freq) on ln(rank) over the
    * vocabulary head summarizes distributional sanity in three
    * numbers. Template spam flattens the slope (many equal-frequency
    * boilerplate terms), OCR noise and aggressive dedup steepen it,
    * and a low r² says the corpus is not natural-language-shaped at
    * all — a cheap drift tripwire between corpus versions.
    *
    * Scale shape: one tokenize scan → word counts; the head is a
    * TakeOrdered (deterministic (count desc, word asc)); the rank
    * window and the closed-form OLS (slope = cov/var, r² = corr²)
    * run over ≤ topN pre-aggregated rows.
    *
    * @return one row: (n_points, slope, intercept, r2)
    */
  def zipfFit(docs: DataFrame, topN: Int = 200,
              textCol: String = "text"): DataFrame = {
    // fewer than 2 DISTINCT terms (or a perfectly flat head of one
    // point) has zero ln-rank variance: the fit columns come back
    // null and n_points says why — the caller's degenerate-corpus
    // signal, preferred over an extra counting pass just to throw
    require(topN >= 3, "need topN >= 3")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(topN)
    val ranked = counts
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("term"))))
      .select(log(col("rank").cast("double")).as("lx"),
        log(col("c").cast("double")).as("ly"))
    ranked.agg(
      count(lit(1)).as("n_points"),
      (covar_pop(col("lx"), col("ly")) / var_pop(col("lx")))
        .as("slope"),
      (avg(col("ly")) - covar_pop(col("lx"), col("ly")) /
        var_pop(col("lx")) * avg(col("lx"))).as("intercept"),
      (corr(col("lx"), col("ly")) * corr(col("lx"), col("ly")))
        .as("r2"))
  }

  /** Per-source unigram-distribution divergence from the corpus
    * (X158): KL(source ‖ corpus) over the top-`topV` corpus
    * vocabulary with add-one smoothing — the scalar that ranks which
    * ingest source drifted (a crawl seed gone off-topic, a boilerplate
    * regression, a language shift) BEFORE any model sees the data.
    * Complements [[Dsir]] (which reweights toward a target) by
    * measuring, not correcting; 0 = indistinguishable from the
    * corpus-wide mix, growing without bound as a source concentrates
    * on vocabulary the corpus spreads out.
    *
    * Smoothing makes every cell finite and the statistic exactly
    * replayable: p_s(w) = (n_sw + 1)/(N_s + V), q(w) = (n_w + 1)/
    * (N + V), KL = Σ_vocab p_s·ln(p_s/q) — all counts integers, the
    * vocabulary deterministic ((count desc, term) order).
    *
    * Scale shape: one explode pass reduces to (source, term, n) with
    * map-side combine; the vocabulary is a broadcast `topV`-row
    * semi-join gate; the KL sum runs over the |sources|·V dense cell
    * grid (both factors construction-bounded, never data-scaled) so
    * zero cells — where a source MISSES corpus-common vocabulary, the
    * dominant drift evidence — are genuinely present.
    *
    * @return (source, n_hits, kl) — n_hits = the source's vocabulary
    *         token count (the evidence mass behind its KL)
    */
  def sourceDivergence(docs: DataFrame, topV: Int = 200,
                       sourceCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    require(topV >= 2, "need topV >= 2")
    val toks = docs
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("n_w"))
      .orderBy(col("n_w").desc, col("term")).limit(topV)
      .localCheckpoint(true)
    val bySrc = toks.join(broadcast(vocab.select("term")), "term")
      .groupBy("source", "term").agg(count(lit(1)).as("n_sw"))
    val srcTot = bySrc.groupBy("source").agg(sum(col("n_sw")).as("ns"))
    // dense |sources|·V grid: absent cells are the drift signal
    val cells = srcTot.crossJoin(broadcast(vocab))
      .join(bySrc, Seq("source", "term"), "left")
      .withColumn("n_sw", coalesce(col("n_sw"), lit(0L)))
    val corpus = vocab.agg(sum(col("n_w")).as("nc"),
      count(lit(1)).as("v"))
    cells.crossJoin(broadcast(corpus))
      .withColumn("p", (col("n_sw") + 1).cast("double") /
        (col("ns") + col("v")))
      .withColumn("q", (col("n_w") + 1).cast("double") /
        (col("nc") + col("v")))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_hits"),
        sum(col("p") * log(col("p") / col("q"))).as("kl"))
  }

  /** PMI collocation mining (SURVEY §2.10 X137) — pointwise mutual
    * information over co-occurrence within a ±`window` token span:
    * PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) = n_ab/P
    * (pair mass) and p(a) = n_a/N (occurrence mass) — the classic
    * collocation statistic (Church & Hanks 1990) that surfaces
    * multiword units ("machine learning") and systematic associations
    * a bag-of-words view misses. Feeds tokenizer-vocabulary decisions
    * (which bigrams deserve a merge) and corpus drift checks (an
    * association that vanishes between versions is a content shift).
    *
    * Scale shape: the vocabulary prunes FIRST (top-`topV` corpus
    * words, deterministic (count desc, word asc) order), so positions
    * materialize only for vocabulary hits; co-occurrence is a
    * per-document self-join banded to `window` positions — bounded by
    * a doc's vocab-hit count × window, never length²; pairs key as
    * (least, greatest) so (a,b) and (b,a) accumulate together; the
    * `minCount` floor keeps the output the statistically meaningful
    * head, not the long noise tail.
    *
    * @return (term_a, term_b, n_ab, pmi) with term_a < term_b and
    *         n_ab ≥ minCount
    */
  def pmiPairs(docs: DataFrame, topV: Int = 500, window: Int = 3,
               minCount: Int = 5, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(topV >= 2 && window >= 1 && minCount >= 1,
      "need topV >= 2, window >= 1, minCount >= 1")
    val words = docs.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val vocab = words.groupBy(col("term"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("term")).limit(topV)
      .select(col("term"))
    // four consumers (totals, the per-term counts, both sides of the
    // co-occurrence self-join): pin so the corpus tokenizes ONCE
    val hits = words.join(broadcast(vocab), Seq("term"))
      .localCheckpoint(false)
    val totals = hits.agg(count(lit(1)).as("__N")).withColumn("__j", lit(1))
    val na = hits.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    val b = hits.select(col(idCol), col("pos").as("__pb"),
      col("term").as("__tb"))
    val pairsAll = hits
      .join(b, Seq(idCol.toString))
      .filter(col("__pb") > col("pos") &&
        col("__pb") <= col("pos") + window)
      .select(least(col("term"), col("__tb")).as("term_a"),
        greatest(col("term"), col("__tb")).as("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("n_ab"))
    // the pair mass P normalizes over ALL co-occurrences — computing
    // it after the minCount floor would inflate every PMI and make the
    // values shift as minCount changes; the floor applies only to
    // which rows are REPORTED
    val pTot = pairsAll.agg(sum(col("n_ab")).as("__P"))
      .withColumn("__j", lit(1))
    val pairs = pairsAll.filter(col("n_ab") >= minCount)
    pairs
      .join(na.select(col("term").as("term_a"), col("n_t").as("__na")),
        Seq("term_a"))
      .join(na.select(col("term").as("term_b"), col("n_t").as("__nb")),
        Seq("term_b"))
      .withColumn("__j", lit(1))
      .join(broadcast(totals), Seq("__j"))
      .join(broadcast(pTot), Seq("__j"))
      .select(col("term_a"), col("term_b"), col("n_ab"),
        log((col("n_ab").cast("double") / col("__P")) /
          ((col("__na").cast("double") / col("__N")) *
            (col("__nb").cast("double") / col("__N")))).as("pmi"))
  }

  /** Character-distribution entropy in BITS per document — the
    * two-sided quality tripwire the length/stopword heuristics miss:
    * templated/repetitive text sits LOW (a page of "aaaa…" → 0),
    * binary spill / base64 / hex dumps sit HIGH (uniform over an
    * alphabet of k chars → log2 k, ≈ 6 bits for base64), while
    * natural prose lands ≈ 4.0–4.5 bits of unigram char entropy.
    *
    * Identity used: H = −Σ (k/n)·log2(k/n) = (ln n − Σ k·ln k / n) /
    * ln 2 — so the whole statistic is two map-side-combinable sums
    * over slim (id, char, count) rows; text never shuffles. Docs with
    * empty/null text emit no row (entropy of nothing is undefined,
    * not 0 — absence is the honest answer).
    *
    * @return (idCol, n_chars, char_entropy)
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode(split(col(textCol), "")).as("__c"))
      .filter(col("__c") =!= "")
      .groupBy(col(idCol), col("__c"))
      .agg(count(lit(1)).as("__k"))
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("n_chars"),
        sum(col("__k") * log(col("__k"))).as("__sklnk"))
      .select(col(idCol), col("n_chars"),
        ((log(col("n_chars")) - col("__sklnk") / col("n_chars")) /
          math.log(2.0)).as("char_entropy"))

  /** Monolingual line segments of a (possibly code-mixed) document —
    * the CCNet move at line granularity: web pages routinely mix
    * languages (an English nav around German prose, quoted passages,
    * bilingual docs), and a document-level language id either drops
    * the whole page or keeps the noise. Each line classifies with the
    * shared [[langIdFromTokens]] heuristic and CONSECUTIVE same-label
    * lines merge into one segment, so downstream per-language
    * pipelines (quality gates, dedup, mixing quotas) operate on
    * monolingual units. Blank/unclassifiable lines label "und" and
    * form their own segments — a deterministic, honest boundary
    * (dropping or re-attaching them is the caller's policy).
    *
    * Output: one row per segment — (idCol, seg_idx, lang, n_lines,
    * seg_text), seg_idx ordered by position in the document.
    *
    * Scale shape: posexplode to slim (id, pos, line) rows; language
    * is a pure projection; runs form via the gaps-and-islands rank
    * difference (pos − row_number within (doc, lang)) — both windows
    * partition by doc, bounded by a document's line count, never
    * global; reassembly is one groupBy with an in-group sort. The
    * oracle (q146) replays the entire rule relationally.
    */
  def lineLangSegments(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lang", langId(col("__line")))
    val wLang = Window.partitionBy(col(idCol), col("__lang"))
      .orderBy(col("__pos"))
    val segs = lines
      .withColumn("__grp", col("__pos") - row_number().over(wLang))
      .groupBy(col(idCol), col("__lang"), col("__grp"))
      .agg(min(col("__pos")).as("__start"),
        count(lit(1)).as("n_lines"),
        array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), "\n").as("seg_text"))
    val wSeg = Window.partitionBy(col(idCol)).orderBy(col("__start"))
    segs
      .withColumn("seg_idx", row_number().over(wSeg).cast("int"))
      .select(col(idCol), col("seg_idx"), col("__lang").as("lang"),
        col("n_lines"), col("seg_text"))
  }
}

/** `isolate_no_space_scripts(text)` — the script-aware tokenizer
  * seam's pre-split as a codegen scalar (see
  * [[TextFuncs.isolateNoSpaceScriptsJvm]]): no-space-script
  * codepoints (CJK/kana/Thai/Lao/Khmer/Myanmar) become standalone
  * whitespace-delimited tokens; Latin-only strings pass through by
  * reference. [[graft.expr.NormFuncs]]' expression arrangement.
  */
case class IsolateNoSpaceScripts(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.unsafe.types.UTF8String

  override def prettyName: String = "isolate_no_space_scripts"
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val out = TextFuncs.isolateNoSpaceScriptsJvm(s)
    if (out eq s) input else UTF8String.fromString(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""String graft_in_${ev.value} = $c.toString();
         |String graft_out_${ev.value} =
         |  graft.llmops.TextFuncs.isolateNoSpaceScriptsJvm(graft_in_${ev.value});
         |${ev.value} = (graft_out_${ev.value} == graft_in_${ev.value})
         |  ? $c : UTF8String.fromString(graft_out_${ev.value});""".stripMargin)

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : IsolateNoSpaceScripts = copy(child = c)
}
