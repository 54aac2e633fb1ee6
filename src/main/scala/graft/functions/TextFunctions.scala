package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis primitives for large-scale training-data
  * pipelines. Everything here is pure Catalyst expression composition
  * (built-ins + higher-order array functions) — no UDFs, no driver-side
  * work — so every operator scales linearly, survives whole-stage codegen
  * where eligible, and runs identically on batch and streaming frames.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Codepoint classes of scripts with NO whitespace word boundaries —
    * every codepoint is its own token under script mode. CJK: Han
    * (U+4E00–9FFF), Hiragana+Katakana (U+3040–30FF), Hangul syllables
    * (U+AC00–D7AF). Southeast-Asian no-space scripts (r15 verdict: the
    * "Thai half" of CJK/Thai): Thai (U+0E00–0E7F), Lao (U+0E80–0EFF),
    * Myanmar (U+1000–109F), Khmer (U+1780–17FF). Written as literal
    * range endpoints so the identical character class pastes into the
    * DuckDB (RE2) oracle — package-visible so the declared-query oracles
    * interpolate THIS string rather than a drift-prone copy. */
  private[graft] val NoSpaceClass =
    "一-鿿぀-ヿ가-힯" +               // Han, Kana, Hangul
      "฀-๿຀-໿" + // Thai, Lao
      "က-႟ក-៿"   // Myanmar, Khmer

  /** Script-aware tokenization: codepoints of no-whitespace-boundary
    * scripts (Han/Kana/Hangul + Thai/Lao/Myanmar/Khmer) become
    * SINGLE-CHARACTER tokens; every other non-space run stays one word
    * token, so Latin/Cyrillic/Arabic text tokenizes as before. The
    * multilingual-corpus fix for the `split("\\s+")` default, under which
    * a CJK or Thai document reads as ~1 giant token per clause and every
    * token-based operator (LM quality, Gopher rules, token budgets, PMI,
    * line/span dedup) silently misgrades it. Single-char fallback is the
    * deliberate dial for the SEA scripts too: combining vowels/tone marks
    * count as their own tokens, a consistent (if fertile) unit — the
    * trained unigram segmenter is the quality upgrade path. One
    * `regexp_extract_all` — row-local, codegen'd, and exactly
    * re-derivable in DuckDB's RE2. Divergence from whitespace mode on
    * pure-ASCII text: no empty tokens (leading whitespace yields "" under
    * `split`), which only matters for empty/whitespace-only strings. */
  def tokensScript(text: Column): Column =
    regexp_extract_all(text, lit(s"[$NoSpaceClass]|[^\\s$NoSpaceClass]+"), lit(0))

  /** Grapheme-cluster upgrade of [[tokensScript]] — the quality rung for
    * the SEA scripts' documented single-char dial: a no-space-script
    * codepoint PLUS its trailing combining marks (`\p{M}*` — the
    * `\X`-equivalent for these scripts via codepoint classes) is ONE
    * token, so a Thai syllable like สวั (base + SARA A + MAI HAN-AKAT)
    * stops counting its vowel/tone marks as separate tokens. Latin and
    * whitespace-delimited text is untouched (the second alternative is
    * script mode's, and marks inside a word run were already part of the
    * run). Spacing vowels that Unicode classes as letters (e.g. Thai
    * SARA AM U+0E33, category Lo) stay their own token — the remaining
    * dial the trained unigram segmenter closes. `\p{M}` means the same
    * general category in Java regex and DuckDB's RE2, so the oracle
    * re-derives the identical clusters. */
  def tokensGrapheme(text: Column): Column =
    regexp_extract_all(text, lit(s"[$NoSpaceClass]\\p{M}*|[^\\s$NoSpaceClass]+"), lit(0))

  /** Mode-dispatched tokenization: `"whitespace"` (the default
    * everywhere), `"script"` ([[tokensScript]]) or `"grapheme"`
    * ([[tokensGrapheme]]). */
  def tokens(text: Column, mode: String): Column = mode match {
    case "whitespace" => tokens(text)
    case "script"     => tokensScript(text)
    case "grapheme"   => tokensGrapheme(text)
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer mode '$other' (expected whitespace|script|grapheme)")
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Mode-dispatched token count — see [[tokens(text:Column,mode:String)*]]. */
  def tokenCount(text: Column, mode: String): Column =
    size(tokens(text, mode)).cast("long")

  /** BPE-ish sub-token count: alphabetic runs, digit runs and punctuation
    * each count as one token (a cheap, deterministic proxy for a learned
    * BPE vocabulary — good enough for length budgeting at corpus scale). */
  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Mean token length, exact in integer arithmetic:
    * single-space-joined text has sum(len(token)) = len - (n-1). */
  def avgTokenLen(text: Column): Column = {
    val n = size(tokens(text))
    ((length(text) - n + lit(1)).cast("double") / n.cast("double"))
  }

  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isin(stopwords.map(x => x: Any): _*))).cast("long")

  /** Composite quality score in [0,1]: penalizes extreme lengths, rewards a
    * natural stopword ratio and mid-range token length. Deterministic
    * arithmetic only (no libm transcendental functions). */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val swRatio = stopwordCount(text, DefaultStopwords).cast("double") / n.cast("double")
    val lenScore = when(n < 5, 0.2).when(n > 5000, 0.3).otherwise(1.0)
    val tokLen = avgTokenLen(text)
    val tokScore = when(tokLen < 2.0 || tokLen > 12.0, 0.4).otherwise(1.0)
    val swScore = when(swRatio > 0.05 && swRatio < 0.6, 1.0).otherwise(0.6)
    round(lenScore * 0.4 + tokScore * 0.3 + swScore * 0.3, 4)
  }

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast-free, pure expressions. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "for", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "den", "mit"),
  )

  /** Language-ID heuristic: CJK codepoint presence short-circuits to "zh";
    * otherwise the argmax of per-language stopword hit-rates (deterministic
    * tie-break: earlier profile wins, "en" default when nothing matches). */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = LangProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words.map(x => x: Any): _*)))
    }
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("score"), lit(scores.head._1).as("lang"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"), struct(score.as("score"), lit(lang).as("lang")))
          .otherwise(acc)
    }
    when(length(regexp_extract(text, "[\\u4e00-\\u9fff]", 0)) > 0, "zh")
      .when(best.getField("score") === 0, "en")
      .otherwise(best.getField("lang"))
  }

  /** Order-insensitive document fingerprint: a commutative polynomial over
    * token (length, first-codepoint) pairs. Commutativity makes the hash
    * shuffle-safe (identical under any row/partition order) and exactly
    * reproducible in ANSI SQL — see the text_fingerprint oracle. */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, w) => acc + (length(w).cast("long") * 131L + ascii(w).cast("long")) * (length(w).cast("long") + 7L))

  /** Canonical normalization for dedup keys — see
    * [[graft.expressions.NormalizeText]] (Unicode form + Locale.ROOT
    * lowercase + whitespace collapse/trim as one codegen'd expression). */
  def normalizeText(
      text: Column,
      form: String = "NFC",
      caseFold: Boolean = true,
      collapseWs: Boolean = true): Column =
    org.apache.spark.sql.graftbridge.toColumn(
      graft.expressions.NormalizeText(
        org.apache.spark.sql.graftbridge.toExpression(text), form, caseFold, collapseWs))

  /** Let-binding for interpreted HOF trees: evaluates `e` ONCE and hands
    * `f` a lambda VARIABLE bound to the result. Spark's higher-order
    * functions evaluate interpreted (no codegen), and a lambda body that
    * references an outer expression subtree re-evaluates that whole
    * subtree on EVERY element — `transform(sequence(0, n), i => slice(ts,
    * i, k))` with `ts = split(...)` runs n regex splits per row, an O(n²)
    * blow-up that wedged the winnow operators' first sf0.1 audit. A
    * lambda variable, by contrast, is read in O(1), and no optimizer rule
    * inlines it back. Row-local, null-transparent (`f` sees NULL when `e`
    * is NULL, exactly as the inline subtree would). */
  private[graft] def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** w-token shingles joined by a single space (fewer than w tokens → the
    * whole TOKEN SEQUENCE as one shingle, single-space-joined — keying on
    * tokens, not the raw string, so two short docs differing only in
    * whitespace shingle identically, matching the rolled token-hash
    * fallback in the codegen'd `ShingleHashes`). */
  def shingles(text: Column, w: Int = 3): Column =
    bindOnce(tokens(text)) { toks =>
      when(size(toks) < w, array(concat_ws(" ", toks))).otherwise(
        transform(sequence(lit(1), size(toks) - lit(w - 1)), i => concat_ws(" ", slice(toks, i, lit(w)))))
    }

  /** MinHash signature: numHashes independent permutations simulated by
    * seeding xxhash64 with the hash index; each signature slot is the min
    * over the document's shingle set. O(numHashes × shingles) per row,
    * no shuffle. */
  def minhashSignature(text: Column, numHashes: Int = 32, shingleWidth: Int = 3): Column =
    bindOnce(shingles(text, shingleWidth)) { sh =>
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(sh, s => xxhash64(i, s))))
    }

  /** Overlapping token-window chunking — the standard shape for slicing
    * long documents into training-context-sized pieces. Returns an array of
    * (chunk_idx, chunk_text, n_chunk_tokens) structs: window k covers
    * tokens [k·stride, k·stride + size), windows advance by `stride`
    * (< size ⇒ overlap of size − stride tokens), and the window count
    * ceil(max(n − size, 0) / stride) + 1 is exactly enough to cover every
    * token. Row-local HOF arithmetic: no shuffle, explode downstream. */
  def tokenChunks(text: Column, size: Int = 32, stride: Int = 24): Column = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    // stride beyond size would emit a trailing phantom chunk (empty text,
    // negative token count) past the last token — reject the shape, it
    // contradicts the "overlap of size − stride" contract anyway
    require(stride <= size, s"stride ($stride) must not exceed size ($size)")
    bindOnce(tokens(text)) { toks =>
      val n = org.apache.spark.sql.functions.size(toks)
      val nChunks = floor(
        (greatest(n - lit(size), lit(0)) + lit(stride - 1)).cast("double") / lit(stride)).cast("int") + 1
      transform(sequence(lit(0), nChunks - 1), k =>
        struct(
          k.as("chunk_idx"),
          concat_ws(" ", slice(toks, k * stride + 1, lit(size))).as("chunk_text"),
          least(lit(size), n - k * stride).cast("long").as("n_chunk_tokens")))
    }
  }

  /** Email-address pattern shared by the redaction pair below — kept to the
    * regex subset Java's engine and RE2-style engines treat identically. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long-digit-run pattern (7+ digits): phone numbers, SSNs, account ids. */
  val NumberPattern = "[0-9]{7,}"

  /** PII scrub for training corpora: replaces email addresses, then long
    * digit runs, with stable placeholder tokens. Order matters — emails
    * first, so digits inside an address are redacted as part of it, not
    * split into a second placeholder. Pure codegen'd regexp_replace. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      NumberPattern, "<NUM>")

  /** Count of PII matches the scrub would hit, for audit columns.
    *
    * Single regex pass: the alternation tries the email branch first at
    * every position (Java regex is leftmost-first), so a digit run inside
    * an address is consumed by the email match — exactly the matches the
    * sequential redact-emails-then-count-numbers scheme produces. The two
    * formulations agree because `<EMAIL>` contains no digits (redaction can
    * neither create, join, nor split a 7+ digit run) and a digit run can
    * never span an email match (emails contain '@'). Equivalence to the
    * two-pass form is pinned in TextFunctionsSpec. */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(s"$EmailPattern|$NumberPattern"), lit(0))).cast("long")

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * xxhash64 bits. Each token is hashed ONCE (builtin `xxhash64`), the bit
    * fold runs in the codegen'd [[graft.expressions.SimHash64]] — the HOF
    * twin below re-hashes every token per bit (64× the hash work) and is
    * kept only as the bit-equivalence reference. */
  def simhash64(textCol: String): Column =
    graft.expressions.SimHash64.simhash64(
      transform(split(org.apache.spark.sql.functions.col(textCol), "\\s+"), t => xxhash64(t)))

  /** HOF reference formulation of [[simhash64]] (the shiftright with a
    * lambda-bound bit index needs the SQL form — the Scala `shiftright`
    * helper only takes a literal). Per-bit aggregate → 64 interpreted folds
    * re-hashing each token; used in tests to pin the native expression's
    * semantics, never in operators. */
  def simhash64Hof(textCol: String): Column = expr(
    s"""
    aggregate(
      transform(sequence(0, 63), i ->
        CASE WHEN aggregate(
               transform(split($textCol, '\\\\s+'), t -> xxhash64(t)),
               0L,
               (acc, h) -> acc + CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END
             ) > 0
             THEN shiftleft(1L, i) ELSE 0L END),
      0L, (acc, b) -> acc + b)
    """)

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Winnowing fingerprints (the MOSS local-fingerprinting scheme):
    * k-token gram hashes → sliding windows of `w` consecutive hashes →
    * the distinct window minima, sorted. The winnowing guarantee: any
    * shared token run of at least w+k-1 tokens between two documents
    * yields at least one shared fingerprint, while the fingerprint density
    * stays ~2/(w+1) — the standard substring-level near-dup/plagiarism
    * signal at a fraction of the full shingle set's size.
    *
    * One codegen'd [[graft.expressions.WinnowFingerprints]] over the
    * whitespace token array: each gram is hashed from its UTF-8 bytes in a
    * reused buffer, with no gram strings and no per-window slices — one
    * O(tokens × (k + w)) loop per row, ROW-LOCAL (nothing shuffles until
    * the caller groups fingerprints). Short docs follow the shingle
    * family's convention (fewer than k tokens → the whole token sequence
    * as one gram; fewer grams than w → one window over all grams). NULL
    * text yields NULL.
    *
    * `gramHash` defaults to the portable
    * [[graft.expressions.WinnowFingerprints.Md5Hash56]] (the first 14 hex
    * digits of the gram's md5) so the whole scheme is exactly re-derivable
    * in SQL; [[graft.expressions.WinnowFingerprints.Xxhash64]] is the
    * cheaper non-oracle hash. */
  def winnowFingerprints(
      text: Column,
      k: Int = 3,
      w: Int = 4,
      gramHash: graft.expressions.WinnowFingerprints.GramHash =
        graft.expressions.WinnowFingerprints.Md5Hash56): Column =
    org.apache.spark.sql.graftbridge.toColumn(
      graft.expressions.WinnowFingerprints(
        org.apache.spark.sql.graftbridge.toExpression(tokens(text)), k, w, gramHash))
}
