package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis and fingerprinting functions for large-scale corpus
  * pipelines (dedup, quality filtering, language ID).
  *
  * The n-gram tokenizer follows the reference's address tokenizer
  * (spark-jobs .../service/SmartAddressBuildService.scala:135-153: clean
  * `[^a-z ]`, split on whitespace, emit word 2-grams then 3-grams).
  * Everything else (simhash/minhash/winnowing/lang-ID/quality) is the
  * standard public toolbox a training-data pipeline needs on top.
  *
  * Design: whatever is expressible as Column math (codegen'd) is; only the
  * hash-based signatures are UDFs, and those are per-row bounded-cost pure
  * functions (no state, no shuffles) so they scale linearly.
  */
object TextFunctions {

  /** Deterministic train/valid/test assignment from a stable id (q53's
    * salted-md5 first nibble: 12/16 train, 2/16 valid, 2/16 test) — the
    * SINGLE source of truth; the leakage checks (q55/q56) are only
    * meaningful if they use exactly this split.
    */
  def splitAssign(id: Column): Column = {
    val h = substring(md5(concat(lit("split:"), id.cast("string"))), 1, 1)
    when(h.isin("c", "d"), "valid")
      .when(h.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** Lowercase + strip everything but `[a-z ]` (reference clean step). */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(c), "[^a-z ]", " ")

  /** Whitespace tokens of a cleaned string. Pure Column. */
  def tokens(c: Column): Column =
    filter(split(trim(normalizeText(c)), "\\s+"), t => length(t) > 0)

  /** Adjacent-token bigram strings "w1 w2" from a token array — ONE
    * definition of the bigram-LM feature for every consumer (the corpus
    * LM artifact, the frozen streaming reference, per-batch stream
    * scoring, DSIR features): a tokenizer or key-format change lands in
    * all of them or none. Self-guarding like wordNgrams: fewer than two
    * tokens yield an empty array, never a negative slice length.
    */
  def tokenBigrams(t: Column): Column =
    when(size(t) < 2, array().cast("array<string>")).otherwise(
      zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))

  /** Word n-grams as "w1 w2 ... wn" strings. Pure Column math
    * (transform over sequence) — no UDF.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Compiled twin of `tokens(c)` for the per-row UDF paths: lowercase,
    * strip to [a-z ], split on whitespace runs, drop empties — in ONE
    * char scan. The regex pipeline it replaces
    * (`toLowerCase.replaceAll("[^a-z ]", " ").trim.split("\\s+")`) pays
    * TWO `Pattern.compile`s per row (String.replaceAll and String.split
    * both compile their pattern on every call) plus two full-string
    * copies; on the dedup/shingle hot paths that is the dominant per-row
    * cost. Bit-equal by construction: ASCII letters lowercase by offset;
    * the only non-ASCII codepoints whose String.toLowerCase lands in
    * [a-z] are U+212A (KELVIN SIGN → 'k') and U+0130 (LATIN CAPITAL I
    * WITH DOT ABOVE — the one one-to-many lowercase mapping, "i̇",
    * whose combining dot the [^a-z ] strip turns into a token break, so
    * it contributes 'i' then a boundary); every other codepoint maps to
    * a separator under both forms. Differentially spec-pinned against
    * the regex pipeline over an adversarial corpus in TextFunctionsSpec.
    */
  def tokenizeScala(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    val n = text.length
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      i += Character.charCount(cp)
      var lc = -1
      var breakAfter = false
      if (cp >= 'a' && cp <= 'z') lc = cp
      else if (cp >= 'A' && cp <= 'Z') lc = cp + 32
      else if (cp > 127) {
        if (cp == 0x130) { lc = 'i'; breakAfter = true }
        else {
          val l = Character.toLowerCase(cp)
          if (l >= 'a' && l <= 'z') lc = l
        }
      }
      if (lc >= 0) {
        sb.append(lc.toChar)
        if (breakAfter) { out += sb.toString; sb.setLength(0) }
      } else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** Single-pass compiled word-n-gram shingling. Semantically identical to
    * `wordNgrams(tokens(c), n)` but ~10× faster on the hot dedup paths:
    * Catalyst's higher-order functions are interpreted and CollapseProject
    * re-inlines the token subexpression into every lambda element, making
    * the Column version O(tokens²) regex work per row.
    */
  def wordNgramsScala(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = tokenizeScala(text)
    if (toks.length < n) return Array.empty
    val out = new Array[String](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def wordNgramsUdf(n: Int) = udf((s: String) => wordNgramsScala(s, n))

  /** [[wordNgramsScala]] from an ALREADY-tokenized array — bit-equal
    * grams when the array came from [[tokens]] (the Column tokenizer and
    * wordNgramsScala's inline tokenize perform the identical clean →
    * split → drop-empties steps), so a staged tokenized corpus (the
    * lexdocs artifact) can shingle without re-running the text regexes.
    */
  def wordNgramsFromTokens(toks: Seq[String], n: Int): Array[String] = {
    if (toks == null || toks.length < n) return Array.empty
    toks.sliding(n).map(_.mkString(" ")).toArray
  }

  def wordNgramsFromTokensUdf(n: Int) =
    udf((t: Seq[String]) => wordNgramsFromTokens(t, n))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(split(trim(c), "\\s+"))

  /** BPE-ish token count: words + standalone punctuation marks. */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "in", "to", "is", "on", "for")

  /** Fraction of whitespace tokens that are stopwords. */
  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    when(size(t) === 0, 0.0).otherwise(
      size(filter(t, x => x.isin(Stopwords: _*))) / size(t).cast("double"))
  }

  /** Fraction of non-space chars that are not alphanumeric. */
  def punctRatio(c: Column): Column = {
    val nonSpace = length(regexp_replace(c, "\\s", ""))
    when(nonSpace === 0, 0.0).otherwise(
      length(regexp_replace(c, "[A-Za-z0-9\\s]", "")) / nonSpace.cast("double"))
  }

  /** Composite document quality score in [0,1]: rewards mid-length docs,
    * low punctuation, some-but-not-all stopwords. Deterministic Column math.
    */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val lenScore = least(nTok / lit(20.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(c) * 4, lit(1.0))
    val stopScore = least(stopwordRatio(c) * 5, lit(1.0))
    round((lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3), 6)
  }

  /** The 10 stopwords packed as ints (each is ≤ 3 [a-z] chars, so
    * (c1<<16)|(c2<<8)|c3-style packing is collision-free across lengths —
    * every char ≥ 0x61): lets the fused metrics scan test stopword
    * membership without materializing token strings. */
  private val StopPacked: Set[Int] =
    Stopwords.map(w => w.foldLeft(0)((a, c) => (a << 8) | c)).toSet

  /** One-pass compiled twin of (stopwordRatio, punctRatio, qualityScore)
    * for the per-source quality REPORT (q25): the Column forms repeat
    * the interpreted tokenizer/regex subtrees per metric (CollapseProject
    * re-inlines them — the wordNgramsScala rationale), so a report that
    * wants all three pays the tokenize ~5×. Bit-identical by
    * construction — identical regexes, identical IEEE op order,
    * space-only trim where Spark's trim() is space-only, codepoint
    * lengths, and Spark Round's exact BigDecimal(double) HALF_UP — and
    * pinned row-for-row against the Column forms in TextFunctionsSpec.
    * Returns null for null text (the Column forms' null propagation).
    * The DECISION consumers (q61's floor, q69's ranking, q100's gate)
    * keep the Column qualityScore — they compute it once per row anyway.
    */
  def qualityMetricsScala(text: String)
      : Option[(Double, Double, Double, Double)] = {
    // all four inputs (normalized-token stopword census, non-space and
    // punct codepoint counts, raw \s+ token count over the 0x20-trimmed
    // text) in ONE char scan: the previous form (kept verbatim as
    // [[qualityMetricsReference]], the differential spec's oracle) paid
    // four String.replaceAll/split calls per row — each a Pattern.compile
    // plus a full-string copy. Semantics replicated exactly: space-only
    // trim (Spark trim() is 0x20-only), split("\\s+", -1) token law
    // (empty → 1; else #whitespace-runs + 1 — a leading run yields the
    // leading "" element, a trailing run the kept-by-limit--1 trailing
    // one), Java-regex \s = ASCII [ \t\n\x0B\f\r], codepoint counts
    // (lone surrogates count 1 each, pairs once — same as codePointCount
    // over the regex-stripped string), and the tokenizeScala lowercase
    // law for the normalized tokens. Differentially pinned against the
    // reference over an adversarial corpus in TextFunctionsSpec, and
    // bit-pinned against the Column forms in QueriesSpec.
    if (text == null) return None
    val n = text.length
    // 0x20-trim bounds for the raw tokenCount
    var b = 0; var e = n
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    var nonSpace = 0 // codepoints outside \s
    var punct = 0 // codepoints outside [A-Za-z0-9\s]
    var nTokNorm = 0 // normalized-tokenizer tokens
    var nStop = 0 // ... of which stopwords
    var wsRuns = 0 // maximal \s+ runs inside [b, e)
    var prevWs = false
    var tokLen = 0 // current normalized token: length ...
    var packed = 0 // ... and packed chars (meaningful while tokLen <= 3)
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      val w = Character.charCount(cp)
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!ws) {
        nonSpace += 1
        if (!((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
            (cp >= '0' && cp <= '9'))) punct += 1
      }
      if (i >= b && i < e) {
        if (ws) { if (!prevWs) wsRuns += 1; prevWs = true }
        else prevWs = false
      }
      // normalized tokenizer (the tokenizeScala lowercase law)
      var lc = -1
      var breakAfter = false
      if (cp >= 'a' && cp <= 'z') lc = cp
      else if (cp >= 'A' && cp <= 'Z') lc = cp + 32
      else if (cp > 127) {
        if (cp == 0x130) { lc = 'i'; breakAfter = true }
        else {
          val l = Character.toLowerCase(cp)
          if (l >= 'a' && l <= 'z') lc = l
        }
      }
      if (lc >= 0) {
        tokLen += 1
        if (tokLen <= 3) packed = (packed << 8) | lc
      }
      if ((lc < 0 || breakAfter || i + w >= n) && tokLen > 0) {
        nTokNorm += 1
        if (tokLen <= 3 && StopPacked.contains(packed)) nStop += 1
        tokLen = 0; packed = 0
      }
      i += w
    }
    val stopR = if (nTokNorm == 0) 0.0 else nStop.toDouble / nTokNorm
    val punctR = if (nonSpace == 0) 0.0 else punct.toDouble / nonSpace
    val nTok = (if (e == b) 1 else wsRuns + 1).toDouble
    val lenScore = math.min(nTok / 20.0, 1.0)
    val punctScore = 1.0 - math.min(punctR * 4, 1.0)
    val stopScore = math.min(stopR * 5, 1.0)
    // Spark Round(double, 6): scala BigDecimal(double) (canonical
    // Double.toString value) setScale HALF_UP — replicated verbatim
    val q = BigDecimal(lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // nTok rides along (4th slot) for consumers that pair the quality
    // score with the raw token count (q109's length-quality Pearson) —
    // an integer-valued double, exactly tokenCount(c).cast("double")
    Some((stopR, punctR, q, nTok))
  }

  /** The pre-fusion regex form of [[qualityMetricsScala]], kept verbatim
    * as the differential spec's oracle (TextFunctionsSpec pins the fused
    * scan equal to this over an adversarial corpus; QueriesSpec pins
    * both against the Column forms over the spec corpus). Not called on
    * any query path. */
  private[graft] def qualityMetricsReference(text: String)
      : Option[(Double, Double, Double, Double)] = {
    if (text == null) return None
    // stopwordRatio over the normalized tokens ([a-z ] clean: every
    // whitespace is already a plain space, so Java trim == space trim)
    val toks = text.toLowerCase.replaceAll("[^a-z ]", " ").trim
      .split("\\s+").filter(_.nonEmpty)
    val stopSet = Stopwords.toSet
    val stopR =
      if (toks.length == 0) 0.0
      else toks.count(stopSet.contains).toDouble / toks.length
    // punctRatio: codepoint counts after the same regex strips
    def cps(s: String): Int = s.codePointCount(0, s.length)
    val nonSpace = cps(text.replaceAll("\\s", ""))
    val punctR =
      if (nonSpace == 0) 0.0
      else cps(text.replaceAll("[A-Za-z0-9\\s]", "")).toDouble / nonSpace
    // tokenCount splits the SPACE-trimmed raw text (Spark trim() trims
    // 0x20 only — NOT Java String.trim, which also eats \t\n)
    var b = 0; var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    val nTok = text.substring(b, e).split("\\s+", -1).length.toDouble
    val lenScore = math.min(nTok / 20.0, 1.0)
    val punctScore = 1.0 - math.min(punctR * 4, 1.0)
    val stopScore = math.min(stopR * 5, 1.0)
    val q = BigDecimal(lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Some((stopR, punctR, q, nTok))
  }

  val qualityMetricsUdf = udf((text: String) => qualityMetricsScala(text))

  // ---------------------------------------------------------------- hashing

  /** FNV-1a 64-bit hash (deterministic across JVMs, no seed). */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit simhash over an already-tokenized document: lets callers that
    * have tokenized once (e.g. to filter zero-token docs) feed the same
    * array here instead of paying the regex tokenization twice per row.
    */
  def simhash64FromTokens(toks: Seq[String]): Long = {
    val v = new Array[Int](64)
    toks.foreach { t =>
      if (t.nonEmpty) {
        val h = fnv1a64(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 64-bit simhash over whitespace tokens of the normalized text.
    * tokenizeScala drops the empty tokens the old split kept, which
    * simhash64FromTokens skipped anyway (`if (t.nonEmpty)`). */
  def simhash64(text: String): Long =
    simhash64FromTokens(tokenizeScala(text))


  /** Null (dropped) for zero-token docs instead of a separate size()
    * filter: keeps the tokenize → hash chain a SINGLE projection — a
    * size(tokens) predicate alongside a simhash(tokens) projection
    * evaluates the regex tokenizer twice per row (filter and project are
    * separate expression trees; codegen CSE does not span them).
    */
  val simhashNonEmptyUdf = udf((toks: Seq[String]) =>
    if (toks.isEmpty) None else Some(simhash64FromTokens(toks)))

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** MinHash signature: for each of `numHashes` seeded affine permutations,
    * the min over the doc's shingle hashes. Input = array of shingles.
    * Seeds are fixed → deterministic across runs/executors.
    */
  def minhashSignature(shingles: Seq[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val base = shingles.map(fnv1a64)
    var i = 0
    while (i < numHashes) {
      // splitmix64-derived per-i multiplier/addend: public mixing constants
      val a = 0x9e3779b97f4a7c15L * (i + 1) | 1L
      val b = 0xbf58476d1ce4e5b9L * (i + 7)
      var m = Long.MaxValue
      base.foreach { h =>
        val v = (a * h + b) ^ (h >>> 31)
        if (v < m) m = v
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  def minhashUdf(numHashes: Int) =
    udf((sh: Seq[String]) => minhashSignature(if (sh == null) Seq.empty else sh, numHashes))

  /** LSH band keys: signature split into `bands` bands of `rows` hashes;
    * each band hashed to one bucket key "band:hash".
    */
  def lshBandKeys(sig: Seq[Long], bands: Int, rows: Int): Seq[String] = {
    (0 until bands).map { b =>
      val slice = sig.slice(b * rows, (b + 1) * rows)
      s"$b:${fnv1a64(slice.mkString(","))}"
    }
  }

  def lshBandsUdf(bands: Int, rows: Int) =
    udf((sig: Seq[Long]) => lshBandKeys(sig, bands, rows))

  /** Winnowing document fingerprint (Schleimer et al. 2003, public):
    * rolling k-gram hashes, min per window of w, distinct mins = fingerprint
    * set. Deterministic.
    */
  private val NonAz = java.util.regex.Pattern.compile("[^a-z]")

  def winnowingFingerprints(text: String, k: Int, w: Int): Array[Long] = {
    // precompiled pattern: String.replaceAll compiles its regex per call
    val s = NonAz.matcher(text.toLowerCase).replaceAll("")
    if (s.length < k) return Array(fnv1a64(s))
    val hashes = (0 to s.length - k).map(i => fnv1a64(s.substring(i, i + k))).toArray
    if (hashes.length <= w) return Array(hashes.min)
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var i = 0
    while (i + w <= hashes.length) {
      var m = Long.MaxValue
      var j = i
      while (j < i + w) { if (hashes(j) < m) m = hashes(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  def winnowingUdf(k: Int, w: Int) = udf((s: String) => winnowingFingerprints(s, k, w))

  // ---------------------------------------------------------------- lang-ID

  /** Tiny trigram-profile language identifier (public n-gram LM heuristic).
    * Profiles = most frequent character trigrams per language from public
    * frequency lists; score = count of profile trigram hits per language,
    * normalized; ties broken alphabetically. Returns ISO code or "und".
    */
  private val LangProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "ing", "ent", "ion", "her", "for", "tha", "nth", "int", "ere", "tio", "ter", "est", "ers", "ati", "hat", "ate", "all", "eth", "hes", "ver", "his", "oft", "ith", "fth", "sth", "oth", "res", "ont"),
    "es" -> Set("de ", " de", "os ", "la ", " la", "el ", " el", "que", "ue ", " qu", "ent", "en ", " en", "es ", "nte", " co", "as ", "los", " lo", "do ", "ión", "ci", "aci", "ado", "con", "sta", " es", "res", "ore", "a d"),
    "de" -> Set("en ", "er ", "ch ", "der", " de", "die", "ie ", "sch", "ein", "che", "ich", "den", "in ", "te ", " ei", "ung", "nde", " un", "gen", "und", " di", "ine", "ver", "ter", "hen", "er", " ge", "ng ", "nd ", "ht "),
    "fr" -> Set("es ", "de ", " de", "le ", " le", "ent", "la ", " la", "et ", " et", "ion", "re ", "e d", "e l", " co", "ne ", "ons", "nt ", "tio", "on ", "que", " qu", "ue ", "ur ", "les", " pa", "ait", "eur", "our", "ant"),
    "zh" -> Set.empty // han-script detection below
  )

  def langIdScala(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val hanCount = text.count(c => Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN)
    if (hanCount * 2 > text.length) return "zh"
    val s = text.toLowerCase
    val grams = (0 to s.length - 3).map(i => s.substring(i, i + 3))
    if (grams.isEmpty) return "und"
    val scores = LangProfiles.toSeq
      .filter(_._2.nonEmpty)
      .map { case (lang, prof) => (lang, grams.count(prof.contains)) }
    val best = scores.filter(_._2 > 0).sortBy { case (l, n) => (-n, l) }
    best.headOption.map(_._1).getOrElse("und")
  }

  val langIdUdf = udf(langIdScala _)

  /** A language's 3-gram profile rendered as a SQL IN-list — the q26
    * oracle builds its scoring from THIS map, so the DuckDB check can
    * never drift from the UDF's profiles.
    */
  def langProfileSql(lang: String): String =
    LangProfiles(lang).toSeq.sorted
      .map(s => "'" + s.replace("'", "''") + "'").mkString(", ")

  // ------------------------------------------------------------------ BPE

  /** A word as its initial BPE symbol sequence: characters + end-of-word
    * marker (Sennrich et al. 2016, public algorithm).
    */
  def bpeInitialSymbols(word: String): Seq[String] =
    word.map(_.toString) :+ "</w>"

  /** One BPE merge applied greedily left-to-right: every adjacent
    * (left, right) occurrence becomes the concatenated symbol. Pure,
    * per-row bounded — the per-iteration UDF of the trainer loop.
    */
  def bpeApplyMerge(syms: Seq[String], left: String, right: String): Seq[String] = {
    if (syms == null || syms.length < 2) return syms
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += left + right
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Encode one word with a learned merge table: initial symbols, then
    * every merge applied in training order (how a trained BPE tokenizer
    * segments unseen text). Per-row bounded: O(merges × word length).
    */
  def bpeEncodeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(bpeInitialSymbols(word)) {
      case (syms, (l, r)) => bpeApplyMerge(syms, l, r)
    }
}
