package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting,
  * shingling. All are built from `org.apache.spark.sql.functions._`
  * (codegen'd, narrow, shuffle-free) — at 100 TB these run as pure map
  * stages over the document scan with full column pruning.
  *
  * Extends the reference's text surface (its only text analysis is the
  * embedder's tokenize + term-frequency + diversity features,
  * reference `src/lib/embedding.py:77,88-89,105-107`) to the operator
  * set an LLM-data pipeline needs.
  */
object TextAnalysis {

  /** Let-binding for Column expressions: evaluate `value` ONCE per row
    * and hand it to `body` as a lambda variable. Catalyst does no
    * common-subexpression elimination across HOF lambda boundaries, so
    * an expression subtree referenced inside a lambda body is
    * re-evaluated on EVERY lambda invocation — e.g. `element_at(split(
    * text), i)` inside a transform re-splits the whole document per
    * element, turning an O(tokens) shingle pass into O(tokens²)
    * (measured 6× on t10's trigram explode at sf0.1). Binding through a
    * 1-element array + transform makes the value a lambda variable,
    * which IS shared by nested lambdas. */
  def letBound(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Portable whitespace class, spelled EXPLICITLY: Java's `\s` is
    * `[ \t\n\x0B\f\r]` but RE2's `\s` OMITS `\x0B` (vertical tab) —
    * so a `\s+`-normalized fingerprint diverges between the engines on
    * VT-bearing text (real EPUB/crawl content has it). One spelled-out
    * class, used verbatim on both sides; identical to Java `\s`, so
    * Spark-side behavior is unchanged. */
  val PortableWs: String = "[ \\t\\n\\x0B\\f\\r]+"

  /** Whitespace tokens (single-space split, keeping empties — matches
    * the chunker's and the oracle's `string_split(text, ' ')`). */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** BPE-ish pre-tokenization pattern: a digit run, a letter run
    * BOUNDED BY SCRIPT, or a punctuation run, each optionally glued to
    * one preceding space — the GPT-2-style pre-tokenizer shape
    * restricted to a regex subset with identical leftmost-first
    * semantics in Java regex and RE2 (no \s classes, no
    * backreferences), so counts are engine-portable.
    *
    * Script-boundary segmentation (round 9): a bare `\p{L}+` consumes
    * an entire UNSPACED CJK sentence as one letter run — useless as a
    * pre-token. Letter alternatives are therefore per-script: Han one
    * CHARACTER at a time (the byte-level-BPE-compatible fallback for
    * a script with no word delimiter), Kana/Hangul/alphabetic scripts
    * as single-script runs, and any script not listed one letter at a
    * time (still split at every boundary; deterministic). Round 11
    * widens the run-enumerated alphabetic scripts (Armenian, Georgian,
    * the Indic family, Sinhala, Myanmar, Khmer, Lao, Ethiopic) — under
    * the old list those segmented one LETTER per piece through the
    * `\p{L}` catch-all, degenerate for scripts that do delimit words;
    * the catch-all now covers only genuinely rare scripts. Alternation
    * order is overlap-free at any start position except the trailing
    * catch-alls (script classes are disjoint), so leftmost-first picks
    * the same piece in both engines. "café" is ONE Latin run (é is
    * Script=Latin); an NFD combining mark is Script=Inherited — not a
    * letter class — and falls to the punctuation run exactly as it
    * did pre-round-9. Script classes are spelled \p{IsX} in Java,
    * \p{X} in RE2 ([[BpePatternRe2]]) — same Unicode Script property
    * (verified piece-for-piece identical across both engines on
    * unspaced-CJK + accented + mixed-script fixtures —
    * UnicodeTextSpec). */
  private val RunScripts: Seq[String] = Seq(
    "Hiragana", "Katakana", "Hangul", "Latin", "Cyrillic", "Greek",
    "Arabic", "Hebrew", "Devanagari", "Thai", "Armenian", "Georgian",
    "Bengali", "Tamil", "Telugu", "Kannada", "Malayalam", "Gujarati",
    "Gurmukhi", "Oriya", "Sinhala", "Myanmar", "Khmer", "Lao",
    "Ethiopic")

  val BpePattern: String =
    " ?\\p{N}+| ?\\p{IsHan}" +
      RunScripts.map(s => s"| ?\\p{Is$s}+").mkString +
      "| ?\\p{L}| ?[^\\p{L}\\p{N} ]+"

  /** [[BpePattern]] in RE2 spelling for the DuckDB oracle — the same
    * alternation with \p{IsX} → \p{X}. Derived from the SAME script
    * list so the two can never drift independently. */
  val BpePatternRe2: String =
    " ?\\p{N}+| ?\\p{Han}" +
      RunScripts.map(s => s"| ?\\p{$s}+").mkString +
      "| ?\\p{L}| ?[^\\p{L}\\p{N} ]+"

  /** Script-segmenting WORD tokenizer pattern: whitespace separates
    * (all five [[PortableWs]] characters), and within a run letters
    * split at CJK script boundaries — Han per CHARACTER (no word
    * delimiter exists; per-char is the byte-level-BPE-compatible
    * fallback), Hiragana/Katakana/Hangul as runs, everything else
    * (including punctuation glued to words, matching [[tokens]]'
    * single-space semantics) as one run. On single-space-delimited
    * non-CJK text this yields exactly [[tokens]] minus empty strings;
    * on unspaced CJK it yields per-char/per-script tokens where
    * [[tokens]] yields one giant token per sentence. Java and RE2
    * ([[SegPatternRe2]]) agree token-for-token — same Script property,
    * same leftmost-first alternation. */
  val SegPattern: String =
    "\\p{IsHan}|\\p{IsHiragana}+|\\p{IsKatakana}+|\\p{IsHangul}+" +
      "|[^\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}" +
      " \\t\\n\\x0B\\f\\r]+"

  /** [[SegPattern]] in RE2 spelling for the DuckDB oracle. */
  val SegPatternRe2: String =
    "\\p{Han}|\\p{Hiragana}+|\\p{Katakana}+|\\p{Hangul}+" +
      "|[^\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul} \\t\\n\\x0B\\f\\r]+"

  /** Oracle-side (DuckDB/RE2) spelling of [[segTokens]] over an
    * arbitrary SQL expression — EVERY seg-tokenized oracle must build
    * its token list through this one helper so the two sides of the
    * tokenizer cannot drift independently (the round-10 regression
    * class). */
  def segTokSqlOf(expr: String): String =
    s"regexp_extract_all($expr, '$SegPatternRe2')"

  /** Punctuation characters for decontamination normalization (d21):
    * an EXPLICIT list — identical in Java and DuckDB, zero dependence
    * on Unicode general-category tables (the `\s`/`\p{IsX}`/`$`
    * engine-divergence lesson, rounds 8–11). ASCII punctuation plus
    * the common typographic/CJK marks; fullwidth ASCII forms
    * (！（）…) need no entries because NFKC-casefold maps them to
    * ASCII BEFORE the strip. Applied via `translate` (each char → one
    * space; a 1:1 codegen'd char map, no regex machinery — measured
    * vs a `[class]+`→" " regexp_replace, which cost ~2.5 s extra at
    * sf1), so every entry must be a single BMP char and the
    * replacement is [[DecontamPunctSpaces]], the SAME length — a
    * shorter `to` would DELETE chars and fuse adjacent tokens
    * ("can't" → "cant"), which is not the published convention's
    * strip-to-whitespace. Tokenization-equivalent to the regex form:
    * [[segTokens]] treats any space run as a separator, so char→space
    * and run→space yield the same token stream. */
  val DecontamPunctChars: String =
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~" +
      "…“”‘’—–‐·・" +
      "、。¡¿«»《》「」" +
      "『』【】"

  /** Same-length all-space `to` string for the d21 translate. */
  val DecontamPunctSpaces: String = " " * DecontamPunctChars.length

  /** Driver-side [[segTokens]] for a query string (same Java
    * pattern, same leftmost-first alternation) — used to derive the
    * TERM list of a retrieval query with the identical segmentation
    * the corpus side uses, so a CJK query produces per-script terms
    * instead of one unsplittable sentence. */
  def segTokensLocal(text: String): Seq[String] = {
    graft.functions.SegUsage.touch()
    SegPattern.r.findAllIn(text).toSeq
  }

  /** Script-aware word tokens (array<string>) — the tokenizer-grade
    * segmentation every TOKEN-IDENTITY operator uses (BPE
    * training/encoding, NB language-ID features, Zipf spectra,
    * winnowing grams, tf-idf/surprise/CMS statistics, PMI windows,
    * Gopher repetition grams, Jaccard/MinHash/SimHash shingles and
    * passage fingerprints — migrated in full in round 11): unspaced
    * CJK segments per-char/per-script instead of one run per
    * sentence. [[tokens]] stays the plain whitespace WORD splitter
    * ONLY for word-COUNT statistics whose unit is "whitespace-
    * delimited word" by definition (t1 counts, t3/t14 quality,
    * chunk sizing c1/c2, packing budgets) and whose oracles replay
    * `string_split`. Every seg-tokenized oracle derives its tokens
    * from [[SegPatternRe2]] via ONE shared helper (TextQueries
    * `segTokSql`), so the two sides cannot drift independently.
    * Pure codegen'd map work, zero shuffles.
    *
    * Round 11 made this a NATIVE single-pass expression
    * ([[graft.functions.SegTokens]] — one classify per code point, no
    * regex machinery): the whole-family migration made this the text
    * pipeline's hot kernel. [[segTokensRegex]] keeps the regex
    * spelling as the semantic reference; equality is property-pinned
    * (UnicodeTextSpec) and corpus-pinned by the fixture gate. */
  def segTokens(text: Column): Column =
    graft.functions.SegTokens(text)

  /** The regex reference form of [[segTokens]] — same pieces by
    * construction; kept for the equivalence property spec. */
  def segTokensRegex(text: Column): Column = {
    graft.functions.SegUsage.touch()
    regexp_extract_all(text, lit(SegPattern), lit(0))
  }

  /** The BPE-ish pre-token pieces of `text` (array<string>). A tokenizer
    * proxy for token-budget accounting when the real BPE merges table
    * isn't in the data plane — piece counts upper-bound BPE token counts
    * and track them closely on natural text. Pure codegen'd map work. */
  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Adjacent character pairs within each word of `text`
    * (array<string>, one 2-char entry per in-word position) — the
    * unit of the first BPE-training iteration: tokenizer training at
    * corpus scale IS "count these pairs, merge the argmax, repeat",
    * and the counting step is pure map-side explode + one keyed agg.
    * Words shorter than 2 chars contribute nothing. Words are
    * [[segTokens]] (script-aware): unspaced Han yields 1-char words —
    * no cross-character Han merges, by the per-char fallback design. */
  def charPairs(text: Column): Column =
    flatten(transform(segTokens(lower(text)), w =>
      // sequence(1, 0) would DESCEND — guard short words explicitly
      when(length(w) >= 2,
        transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Type-token ratio — the reference's vocabulary-diversity factor
    * (reference `src/lib/embedding.py:105-107`) as a standalone op. */
  def typeTokenRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") / tokenCount(text)

  val EnglishStopwords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
    "a", "an", "on", "with", "as", "at", "by", "be", "this", "are")

  def stopwordCount(text: Column, stops: Seq[String] = EnglishStopwords): Column =
    size(filter(tokens(text), t => array_contains(typedLit(stops), t))).cast("long")

  def stopwordRatio(text: Column, stops: Seq[String] = EnglishStopwords): Column =
    stopwordCount(text, stops).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: length, vocabulary diversity,
    * stopword presence — the standard cheap heuristics for filtering
    * web-scale corpora. Deterministic arithmetic (rounded to 6). */
  def qualityScore(text: Column): Column = {
    val lengthScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val diversity = typeTokenRatio(text)
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lengthScore + diversity + stopScore) / 3.0, 6)
  }

  // -------------------------------------------------------------
  // Language identification (stopword/char-class heuristic)
  // -------------------------------------------------------------

  val StopwordsByLang: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "es" -> Seq("el", "la", "los", "las", "que", "y", "en", "un", "una", "es"),
    "fr" -> Seq("le", "les", "et", "une", "est", "dans", "il", "qui", "pas", "sur"))

  /** Heuristic language ID: CJK char ratio → "zh"; else argmax of
    * per-language stopword hit counts over lowercased tokens; "und"
    * when nothing matches. Built entirely from array HOFs — the argmax
    * is `array_max` over (score, lang) structs (struct ordering =
    * lexicographic on fields, ties break to the later language code —
    * deterministic). */
  def langId(text: Column): Column = {
    val toks = split(lower(text), PortableWs)
    val cjkChars = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))
    val scored = array(StopwordsByLang.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(
        size(filter(toks, t => array_contains(typedLit(stops), t))).as("score"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(length(text) > 0 && cjkChars * 5 >= length(text), lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  // -------------------------------------------------------------
  // Fingerprinting / shingling
  // -------------------------------------------------------------

  /** Canonical document fingerprint: md5 of the lowercased,
    * whitespace-collapsed, trimmed text. Stable across engines. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), PortableWs, " ")))

  /** Prefix fingerprint: identity over the first `n` normalized
    * tokens — catches syndication/mirror copies whose bodies diverge
    * after the shared opening (exact fingerprints miss them). */
  def prefixFingerprint(text: Column, n: Int): Column =
    md5(array_join(
      slice(split(trim(regexp_replace(lower(text), PortableWs, " ")), " "), 1, n),
      " "))

  /** Word n-gram shingles (distinct), via sequence+transform — the
    * input to MinHash and Jaccard dedup. 1-indexed like the oracle's
    * list operations. */
  /** All n-gram OCCURRENCES in order (no dedup — the counting form
    * n-gram language models need; `shingles` below is the distinct
    * set-form for Jaccard/MinHash). Docs with < n tokens yield an
    * empty array. */
  def ngrams(text: Column, n: Int): Column = ngramsOf(tokens(text), n)

  /** [[ngrams]] over the SCRIPT-AWARE segmentation — the round-10
    * migration target for gram statistics that must stay meaningful on
    * delimiter-free scripts (an unspaced Han sentence yields per-char
    * grams, not one sentence-sized "token"). */
  def ngramsSeg(text: Column, n: Int): Column = ngramsOf(segTokens(text), n)

  private def ngramsOf(toks0: Column, n: Int): Column =
    letBound(toks0) { toks =>
      val count = size(toks) - (n - 1)
      when(count > 0,
        transform(sequence(lit(1), greatest(count, lit(1))),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    }

  def shingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** [[shingles]] over the SCRIPT-AWARE segmentation (see
    * [[ngramsSeg]]) — set-form shingles for Jaccard/MinHash that keep
    * their resolution on unspaced CJK. */
  def shinglesSeg(text: Column, n: Int): Column =
    shinglesOf(segTokens(text), n)

  private def shinglesOf(toks0: Column, n: Int): Column =
    // bind the token array once per row: the lambda below reads it
    // n times per shingle position, which would otherwise re-split the
    // document every time (see letBound)
    letBound(toks0) { toks =>
      val count = size(toks) - (n - 1)
      array_distinct(
        when(count > 0,
          transform(sequence(lit(1), greatest(count, lit(1))),
            i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
          .otherwise(array_distinct(array(array_join(toks, " ")))))
    }

  /** The BPE segmentation of word `w` under `merges`, applied in rank
    * order (t37's application kernel — t15/t31's regex pieces are the
    * tokenizer PROXY; this is the real merge-table apply). Pieces start
    * as single characters; each merge (a, b) is applied in one
    * left-to-right fold that greedily joins a·b leftmost-first — the
    * exhaustive-per-merge semantics of reference BPE encoders (a piece
    * produced by merge i only participates in LATER merges, which is
    * exactly rank-order application). Pure per-row expression: a
    * broadcast-literal merge table means corpus-wide tokenization is a
    * map stage with zero shuffles. */
  def bpeSegment(w: Column, merges: Seq[(String, String)]): Column = {
    val chars0 = when(length(w) >= 1,
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))
    merges.foldLeft(chars0) { case (pieces, (a, b)) =>
      aggregate(pieces, array().cast("array<string>"),
        (acc, p) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && p === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(p))))
    }
  }

  /** Adjacent (left, right) piece pairs of a segmentation — the unit
    * BPE training counts. Empty for segmentations shorter than 2. */
  def piecePairs(pieces: Column): Column =
    letBound(pieces) { p =>
      when(size(p) >= 2,
        transform(sequence(lit(1), size(p) - 1), j =>
          struct(element_at(p, j).as("l"), element_at(p, j + 1).as("r"))))
        .otherwise(
          array().cast("array<struct<l:string,r:string>>"))
    }

  /** Per-row n-gram repetition statistics (the Gopher filter kernels,
    * t35): struct(topchars, dupchars) where `topchars` = count·chars of
    * the most frequent word n-gram (argmax by count, then by chars) and
    * `dupchars` = Σ count·chars over n-grams occurring ≥ 2 times.
    * Computed WITHOUT any shuffle or per-gram row explosion: the gram
    * array is sorted, so equal grams are adjacent and one aggregate()
    * fold closes each run as it ends — per-document cost stays
    * O(grams · log grams) inside the scan's map stage, and a corpus of
    * any size pays zero exchanges for what is an intrinsically
    * row-local statistic. The `run == 0` field is the fold's
    * "no element seen yet" marker (a sentinel gram string would
    * collide with legitimate empty-string grams from repeated
    * spaces). Grams are [[ngramsSeg]] (round 10): a Han-dominant doc
    * gets real per-char gram repetition statistics instead of one
    * sentence-sized gram that can never repeat. */
  def repetitionStats(text: Column, n: Int): Column =
    letBound(sort_array(ngramsSeg(text, n))) { s =>
      // fold over INDICES 2..size comparing each gram to its
      // predecessor in the bound array: the state is four longs — no
      // gram string is copied through the accumulator. (Measured at
      // sf0.1/sf1: within noise of a prev-string state; the per-row
      // cost is dominated by building the gram array itself, not the
      // fold. Kept for the smaller interpreted state.)
      val sz = size(s)
      def g(i: Column) = element_at(s, i)
      def st(run: Column, topc: Column, topchars: Column,
          dup: Column) =
        struct(run.as("run"), topc.as("topc"),
          topchars.as("topchars"), dup.as("dupchars"))
      // fold the run ENDING just before index gap (its gram length is
      // `len`) into the three accumulators
      def closed(acc: Column, len: Column): Seq[Column] = {
        val run = acc.getField("run")
        val chars = run * len
        val better = (run > acc.getField("topc")) ||
          (run === acc.getField("topc") &&
            chars > acc.getField("topchars"))
        Seq(
          when(better, run).otherwise(acc.getField("topc")),
          when(better, chars).otherwise(acc.getField("topchars")),
          acc.getField("dupchars") +
            when(run >= 2, chars).otherwise(lit(0L)))
      }
      aggregate(
        when(sz >= 2, sequence(lit(2), sz))
          .otherwise(array().cast("array<int>")),
        st(lit(1L), lit(0L), lit(0L), lit(0L)),
        (acc, i) =>
          when(g(i) === g(i - 1), // run continues
            st(acc.getField("run") + 1, acc.getField("topc"),
              acc.getField("topchars"), acc.getField("dupchars")))
            .otherwise { // run ends at i-1: fold it, restart
              val c = closed(acc, length(g(i - 1)).cast("long"))
              st(lit(1L), c(0), c(1), c(2))
            },
        acc => // close the final run; empty gram array → zeros
          when(sz === 0,
            struct(lit(0L).as("topchars"), lit(0L).as("dupchars")))
            .otherwise {
              val c = closed(acc, length(g(sz)).cast("long"))
              struct(c(1).as("topchars"), c(2).as("dupchars"))
            })
    }

  /** Unordered token co-occurrence pairs within a forward `window`:
    * for each position i, the pairs (tk[i], tk[i+j]) for j = 1..window,
    * each pair sorted so (a,b) and (b,a) accumulate together — the
    * per-row expression under PMI / word-embedding co-occurrence
    * counting (explode → groupBy upstream; no shuffle here). Docs with
    * < 2 tokens yield no pairs (null → explode drops the row).
    * Tokens are [[segTokens]] (round 10): CJK co-occurrence is
    * per-char within the window, not one degenerate sentence token. */
  def cooccurrencePairs(text: Column, window: Int): Column = {
    require(window >= 1, "window must be >= 1")
    letBound(segTokens(text)) { tk =>
      when(size(tk) >= 2,
        flatten(transform(sequence(lit(1), size(tk) - 1), i =>
          transform(
            sequence(i + lit(1), least(i + lit(window), size(tk))), j =>
              struct(
                least(element_at(tk, i), element_at(tk, j)).as("w1"),
                greatest(element_at(tk, i), element_at(tk, j)).as("w2"))))))
    }
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the
    * heuristics behind the C4 corpus, reference ground: the cleaning
    * mandate over TESTDATA.md's documents table). Line rules: keep a
    * line only if it (1) ends in terminal punctuation (`[.!?"]`),
    * (2) has ≥ `minWordsPerLine` whitespace words, and (3) does not
    * contain the policy ban word (the paper drops lines with the word
    * "javascript"). Document rules: drop the whole page when fewer
    * than `minKeptLines` lines survive (the paper's "< 3 sentences"
    * gate, applied to RETAINED lines) or when the raw page contains a
    * banned substring ("lorem ipsum", "{" — the paper's boilerplate /
    * code markers). Word membership is whitespace-token EXACT match
    * (not substring), matching the paper's "word" phrasing; lines are
    * `\r?\n`-separated (CRLF corpora clean, not vanish).
    *
    * This is the line-granular sibling of t43's document-granular
    * Gopher rule set, and differs from d19 (cross-doc paragraph
    * frequency) in needing NO corpus statistics: every decision is
    * local to the row. Spark-first shape: built-in higher-order
    * functions over the split-once line array — a pure scan
    * projection, ZERO shuffles, trivially data-parallel at 100 TB
    * (and stateless, so it runs unchanged on a stream).
    * → (idCol, n_lines, n_kept, keep_doc, clean_text). */
  def c4Clean(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 5, minKeptLines: Int = 3,
      banWord: String = "javascript",
      docBans: Seq[String] = Seq("lorem ipsum", "{")): org.apache.spark.sql.DataFrame = {
    require(minWordsPerLine >= 1 && minKeptLines >= 0,
      s"c4Clean thresholds must be positive: " +
        s"minWordsPerLine=$minWordsPerLine minKeptLines=$minKeptLines")
    // lines split on \r?\n (identical regex semantics in Java and
    // RE2): a CRLF-ended corpus cleans instead of losing every line
    // to a trailing \r. The punctuation anchor is \z (end of TEXT),
    // not $: Java's $ also matches before a trailing line terminator
    // and would diverge from RE2's end-of-text $ on any stray \r
    // (the PortableWs divergence class).
    df.select(
        col(idCol), col(textCol).as("__t"),
        size(split(col(textCol), "\r?\n", -1)).cast("long").as("n_lines"),
        filter(split(col(textCol), "\r?\n", -1), l =>
          l.rlike("[.!?\"]\\z") &&
            // bind the per-line split once: both word conditions read
            // it, and an unbound split would re-run per condition
            letBound(split(l, " ", -1)) { w =>
              size(w) >= minWordsPerLine && !array_contains(w, banWord)
            }).as("__kept"))
      .select(
        col(idCol), col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        docBans.foldLeft(size(col("__kept")) >= minKeptLines)(
            (acc, b) => acc && !col("__t").contains(b))
          .as("keep_doc"),
        col("__kept"))
      .select(
        col(idCol), col("n_lines"), col("n_kept"), col("keep_doc"),
        when(col("keep_doc"), array_join(col("__kept"), "\n"))
          .otherwise(lit("")).as("clean_text"))
  }

  /** Within-document repeated-line removal (the RefinedWeb /
    * MassiveWeb intra-document dedup step — Penedo et al. 2023 §3.2,
    * Rae et al. 2021 §A.1.2: crawled pages repeat nav bars, footers
    * and listing rows INSIDE one page; those repeats are removed
    * keeping the FIRST occurrence, before any cross-document pass).
    * Keep-first semantics: line i survives iff no earlier identical
    * line exists in the same document. Cross-document duplication is
    * deliberately out of scope here — that is d15 (chunk keep-first) /
    * d19 (boilerplate drop-everywhere). Lines are literal
    * `\n`-separated (unlike c4Clean, no `\r?` tolerance is needed:
    * CRLF duplicate lines still match EACH OTHER, so keep-first
    * semantics are unaffected, and CRLF normalization is the ingest
    * path's job — [[graft.sources.Sources.htmlToLines]]).
    *
    * Spark-first shape: `array_position` (first index) against the
    * split-once line array inside an indexed `filter` — first
    * occurrence keeps, later ones drop. O(lines²) comparisons per
    * document, entirely row-local: documents have bounded line counts
    * (a 10k-line page is pathological), so this beats materializing an
    * explode + window just to rank line occurrences — a pure scan
    * projection, ZERO shuffles, stateless (stream-safe).
    * → (idCol, n_lines, n_dupes, text_clean). */
  def intraDocLineDedup(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(
        col(idCol),
        letBound(split(col(textCol), "\n", -1)) { ls =>
          // ls is a lambda variable: shared by the nested filter
          // lambda, so the line array materializes once per document
          val kept = filter(ls, (l, i) =>
            array_position(ls, l) === (i + 1).cast("long"))
          struct(
            size(ls).cast("long").as("n_lines"),
            (size(ls) - size(kept)).cast("long").as("n_dupes"),
            array_join(kept, "\n").as("text_clean"))
        }.as("__r"))
      .select(col(idCol), col("__r.n_lines").as("n_lines"),
        col("__r.n_dupes").as("n_dupes"),
        col("__r.text_clean").as("text_clean"))

  /** Per-doc vocabulary coverage: the fraction of a document's tokens
    * inside the corpus top-`vocabSize` vocabulary (count-desc, token
    * tie-break) — the tokenizer-coverage / OOV-rate diagnostic.
    * Tokens are [[segTokens]] (term identity, round 12): under a
    * whitespace split every unspaced-CJK sentence is its own
    * singleton "word", so coverage degenerates to ~0 for exactly the
    * scripts the diagnostic is supposed to measure. One
    * cached token explode feeds both the vocabulary build (bounded
    * top-k → TakeOrderedAndProject) and the per-doc rollup; the vocab
    * broadcasts back, so the corpus shuffles once, on the doc key.
    * → (idCol, n_tokens, coverage[6dp]). */
  def vocabCoverage(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val tok = graft.Caches.shared(docs.select(col(idCol),
      explode(segTokens(col(textCol))).as("tok")))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(coalesce(col("in_vocab"), lit(0))), 6).as("coverage"))
  }
}
