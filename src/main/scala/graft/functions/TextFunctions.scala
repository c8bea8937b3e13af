package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Text-analysis column functions for the large-scale training-data tier
  * (SURVEY.md §7.1 `ext/`). `org.apache.spark.sql.functions` compositions
  * plus native codegen'd expressions for the per-token hot loops — no UDFs,
  * which is what makes these viable over 100 TB of documents.
  */
object TextFunctions {

  /** ASCII punctuation character class, spelled as explicit ranges so the
    * same pattern means the same thing in Java regex (Spark) and RE2
    * (DuckDB oracle): !-/ :-@ [-` {-~
    */
  val PunctClass: String = "[!-/:-@\\[-`{-~]"

  /** Whitespace tokenizer. Empty/whitespace-only text yields an empty array
    * (a bare `split("")` would yield `[""]` and make tokenCount 1).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("bigint")

  /** BPE-ish token estimate: whitespace words + punctuation marks count
    * separately (a cheap, deterministic stand-in for a real tokenizer).
    */
  def approxBpeTokenCount(text: Column): Column =
    (tokenCount(text) +
      (length(text) - length(regexp_replace(text, PunctClass, "")))).cast("bigint")

  /** Punctuation characters per character, in thousandths. floor(x+0.5)
    * instead of round(): identical half-up behavior in Spark and DuckDB for
    * positive values, so the oracle compare is bit-exact.
    */
  def punctPerMille(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      floor((length(text) - length(regexp_replace(text, PunctClass, "")))
        .cast("double") * 1000 / length(text) + 0.5).cast("bigint"))

  /** Mean word length in thousandths of a character. */
  def avgWordLenMilli(text: Column): Column =
    floor(length(regexp_replace(trim(text), "\\s+", "")).cast("double") * 1000 /
      greatest(tokenCount(text), lit(1L)) + 0.5).cast("bigint")

  /** Word n-gram shingles: array of space-joined n-grams. Returns an empty
    * array when the document has fewer than n words. The token array is
    * let-bound so the split runs once, not once per reference
    * (see [[ExprOps.let]]).
    */
  def wordShingles(text: Column, n: Int): Column =
    ExprOps.let(tokens(text)) { t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => array_join(slice(t, i, lit(n)), " ")))
    }

  /** Word n-gram shingle HASHES: per-word xxhash64 combined with a second
    * xxhash64 over the n consecutive word hashes, in document order.
    * Set-equivalent to hashing [[wordShingles]] strings (only equality
    * matters for Jaccard / document-frequency semantics, and collisions are
    * equally negligible) but far cheaper: no per-shingle string
    * concatenation, each word is hashed once and each shingle is a fixed
    * n-long hash combine. Runs as the native [[ShingleHashes]] kernel (one
    * pass over the bytes, inside whole-stage codegen). Empty array when the
    * document has fewer than n words; null text → null.
    */
  def wordShingleHashes(text: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(text), n))

  private def hitsOn(padded: Column, words: Seq[String]): Column =
    words.map(w => when(instr(padded, s" $w ") > 0, 1).otherwise(0))
      .reduce(_ + _)

  /** Stopword hits: how many of `words` occur (space-delimited) in text. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    hitsOn(concat(lit(" "), lower(text), lit(" ")), words)

  /** Rule-based language ID over stopword-marker hits, fixed priority on
    * ties (en > de > fr > und). Deterministic → SQL-oracle-expressible.
    * The padded lowercase text is let-bound: 12 marker probes share one
    * `lower` pass, and the expression stays small enough that Janino
    * compile time doesn't dominate the query (the inlined form generated a
    * 12×-duplicated method with multi-second compile variance).
    */
  def langId(text: Column): Column =
    ExprOps.let(concat(lit(" "), lower(text), lit(" "))) { p =>
      val en = hitsOn(p, Seq("the", "and", "of", "a"))
      val de = hitsOn(p, Seq("der", "und", "die", "ein"))
      val fr = hitsOn(p, Seq("le", "la", "et", "un"))
      when(en === 0 && de === 0 && fr === 0, lit("und"))
        .when(en >= de && en >= fr, lit("en"))
        .when(de >= fr, lit("de"))
        .otherwise(lit("fr"))
    }

  /** Quality score in [0,1000] (per-mille, integer-exact): length component
    * scaled by punctuation penalty — the shape of a heuristic web-text
    * quality filter. The argument is let-bound: it is referenced six times
    * below, and an inlined `cleanText(...)` argument would otherwise run once
    * per reference (Spark pushes a filter on this score below the
    * projection that computes its argument, and `FilterExec` does not
    * eliminate common subexpressions).
    */
  def qualityPerMille(text: Column): Column =
    ExprOps.let(text) { t =>
      val lenComponent = least(tokenCount(t).cast("double") / 100.0, lit(1.0))
      val punctPenalty = lit(1.0) - least(punctPerMille(t).cast("double") / 300.0, lit(1.0))
      floor(lenComponent * punctPenalty * 1000 + 0.5).cast("bigint")
    }

  /** Document fingerprint: minimum md5 over word 3-gram shingles (a
    * one-permutation MinHash). Lexicographic min over hex strings is
    * engine-portable; fall back to md5 of the whole text for tiny docs.
    */
  def fingerprint(text: Column): Column =
    ExprOps.let(wordShingles(text, 3)) { sh =>
      // array_min of an empty array is null → coalesce covers the tiny-doc
      // fallback without evaluating the shingle pipeline twice
      coalesce(array_min(transform(sh, c => md5(c))), md5(text))
    }

  /** 64-bit SimHash over whitespace tokens using xxhash64 bit votes:
    * bit b of the result is 1 iff more tokens have bit b set than unset.
    * Pure higher-order-function expression — distributed, no UDF.
    */
  def simhash64(text: Column): Column =
    // let-bind the per-token hashes: each token is hashed once, then the 64
    // bit votes fold over the cached hash array.
    // shiftleft/shiftright with a *Column* shift amount exist in SQL but not
    // in the Scala DSL — call_function bridges to the Catalyst expression.
    ExprOps.let(transform(tokens(text), w => xxhash64(w))) { hs =>
      val votes = transform(sequence(lit(0), lit(63)), b =>
        aggregate(hs, lit(0L),
          (acc, h) => acc + when(
            call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L,
            lit(1L)).otherwise(lit(-1L))))
      aggregate(
        zip_with(votes, sequence(lit(0), lit(63)), (v, b) =>
          when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("int")

  // ---- corpus cleaning + heuristic quality signals -----------------------
  // All regexes below are written in the Java∩RE2 common subset (explicit
  // classes, no lookaround/backrefs) so the DuckDB oracle runs the very same
  // pattern. Like everything in this file they are pure function
  // compositions — codegen'd, scan-speed, no UDFs.

  /** Normalize raw scraped text for training: strip markup tags, drop ASCII
    * control characters, collapse whitespace runs to single spaces, trim.
    * The standard first pass over crawled corpora.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(text,
      "<[^>]*>", " "), "[\\x00-\\x1f\\x7f]", ""), "\\s+", " "))

  /** Email address pattern (Java∩RE2 subset). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** IPv4 literal pattern. */
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  /** Phone-number-ish pattern: 8+ chars of digits/punctuation bounded by
    * digits, optional leading +.
    */
  val PhoneRe = "\\+?[0-9][0-9()\\[\\] .-]{6,}[0-9]"

  /** PII scrubbing for training corpora: masks emails, IPv4 literals, and
    * phone-like digit runs with typed placeholder tokens. Email before IP
    * before phone — the placeholders contain no digits, so earlier passes
    * can't create new matches for later ones.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  /** Per-mille of characters matching a regex character class. */
  private def classPerMille(text: Column, cls: String): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      floor((length(text) - length(regexp_replace(text, cls, "")))
        .cast("double") * 1000 / length(text) + 0.5).cast("bigint"))

  /** Uppercase-letter density (per-mille) — the ALL-CAPS/boilerplate signal. */
  def capsPerMille(text: Column): Column = classPerMille(text, "[A-Z]")

  /** Digit density (per-mille) — tables/serial-number/log-dump signal. */
  def digitPerMille(text: Column): Column = classPerMille(text, "[0-9]")

  /** Duplicate word-n-gram fraction (per-mille): 1 − distinct/total over
    * word n-grams — the repetition signal used by heuristic quality filters
    * to catch degenerate/boilerplate text. 0 for docs shorter than n words.
    */
  def dupNgramPerMille(text: Column, n: Int): Column =
    ExprOps.let(wordShingles(text, n)) { sh =>
      when(size(sh) === 0, lit(0L)).otherwise(
        floor((size(sh) - size(array_distinct(sh))).cast("double") * 1000 /
          size(sh) + 0.5).cast("bigint"))
    }

  /** Non-empty trimmed lines of a document ('\n'-separated) — the unit the
    * Gopher repetition filters (Rae et al., arXiv:2112.11446, Table A1)
    * measure over.
    */
  def linesOf(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)

  /** Duplicate-line fraction (per-mille): 1 − distinct/total over non-empty
    * trimmed lines — the Gopher rule that catches chat logs, boilerplate
    * navigation, and degenerate generations that repeat whole lines.
    */
  def dupLinePerMille(text: Column): Column =
    ExprOps.let(linesOf(text)) { ls =>
      when(size(ls) === 0, lit(0L)).otherwise(
        floor((size(ls) - size(array_distinct(ls))).cast("double") * 1000 /
          size(ls) + 0.5).cast("bigint"))
    }

  /** Duplicate-line CHARACTER fraction (per-mille): chars inside lines that
    * occur ≥ 2 times ÷ chars across all lines — Gopher's char-weighted
    * variant (a doc whose one repeated line is 90% of its bytes scores high
    * even though the line COUNT fraction is low). O(lines²) per document,
    * all inside codegen; line counts are small by construction.
    */
  def dupLineCharPerMille(text: Column): Column =
    ExprOps.let(linesOf(text)) { ls =>
      ExprOps.let(aggregate(ls, lit(0L), (a, x) => a + length(x))) { total =>
        when(total === 0L, lit(0L)).otherwise(
          floor(aggregate(
              filter(ls, l => size(filter(ls, l2 => l2 === l)) >= 2),
              lit(0L), (a, x) => a + length(x)).cast("double") * 1000 /
            total + 0.5).cast("bigint"))
      }
    }

  /** Count of ellipses: non-overlapping "..." runs plus '…' characters.
    * Leftmost non-overlapping greedy matching is identical in Java regex
    * and RE2, so the count is engine-portable.
    */
  def ellipsisCount(text: Column): Column =
    (((length(text) - length(regexp_replace(text, "\\.{3}", ""))) / 3).cast("bigint") +
      (length(text) - length(regexp_replace(text, "…", ""))).cast("bigint"))

  /** Gopher symbol-to-word ratio (per-mille): ('#' characters + ellipses)
    * per word — the Table A1 rule (threshold 0.1 ⇒ 100‰) that catches
    * markup residue and trailing-off generations.
    */
  def symbolWordRatioPerMille(text: Column): Column =
    floor(((length(text) - length(regexp_replace(text, "#", ""))).cast("bigint")
      + ellipsisCount(text)).cast("double") * 1000 /
      greatest(tokenCount(text), lit(1L)) + 0.5).cast("bigint")

  /** Fraction of non-empty lines starting with a bullet marker (per-mille)
    * — Gopher drops docs where ≥ 90% of lines are bullets (nav menus,
    * scraped lists).
    */
  def bulletLinePerMille(text: Column): Column =
    ExprOps.let(linesOf(text)) { ls =>
      when(size(ls) === 0, lit(0L)).otherwise(
        floor(size(filter(ls, l => l.rlike("^[-*•]"))).cast("double") * 1000 /
          size(ls) + 0.5).cast("bigint"))
    }

  /** Fraction of non-empty lines ending with an ellipsis (per-mille) —
    * Gopher drops docs where ≥ 30% of lines trail off (truncated scrapes).
    */
  def ellipsisLinePerMille(text: Column): Column =
    ExprOps.let(linesOf(text)) { ls =>
      when(size(ls) === 0, lit(0L)).otherwise(
        floor(size(filter(ls, l => l.rlike("(\\.{3}|…)$"))).cast("double") * 1000 /
          size(ls) + 0.5).cast("bigint"))
    }

  /** Fraction of words containing at least one alphabetic character
    * (per-mille) — Gopher requires ≥ 80% (number/symbol dumps fail it).
    */
  def alphaWordPerMille(text: Column): Column =
    ExprOps.let(tokens(text)) { t =>
      when(size(t) === 0, lit(0L)).otherwise(
        floor(size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") * 1000 /
          size(t) + 0.5).cast("bigint"))
    }

  /** The Gopher required-stopword list (Rae et al. Table A1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The composite Gopher quality rule (Rae et al. arXiv:2112.11446 Table
    * A1), as one boolean column: word count in [minWords, maxWords], mean
    * word length in [3, 10] chars, symbol-to-word ratio ≤ 10%, < 90%
    * bullet lines, < 30% ellipsis lines, ≥ 80% alphabetic words, ≥ 2
    * required stopwords. All sub-signals are integer per-milles computed by
    * the functions above, so the whole rule is engine-portable and
    * hash-oracle-able. Stopwords are matched on whitespace-normalized text
    * so words adjacent to newlines count.
    */
  def gopherKeep(text: Column, minWords: Long = 50L,
                 maxWords: Long = 100000L, minStopHits: Int = 2): Column =
    ExprOps.let(tokenCount(text)) { n =>
      n.between(minWords, maxWords) &&
        avgWordLenMilli(text).between(3000L, 10000L) &&
        symbolWordRatioPerMille(text) <= 100L &&
        bulletLinePerMille(text) < 900L &&
        ellipsisLinePerMille(text) < 300L &&
        alphaWordPerMille(text) >= 800L &&
        stopwordHits(regexp_replace(text, "\\s+", " "), GopherStopwords) >= minStopHits
    }

  /** Extract visible text from HTML markup: `<script>`/`<style>` blocks
    * and comments are dropped wholesale (lazy-dotall patterns — identical
    * semantics in Java regex and RE2), remaining tags become spaces, the
    * five standard character entities are decoded (`&amp;` LAST, so
    * `&amp;lt;` decodes to the literal `&lt;` and never to `<`), and
    * whitespace collapses. A regex-subset extractor, not a parser: CDATA
    * and conditional comments are out of scope (documented limitation —
    * the full multimodal decode path is where a real parser would plug
    * in), but for the common crawled-page shape this is the standard
    * boilerplate-strip first pass, all inside whole-stage codegen.
    */
  def htmlToText(html: Column): Column =
    trim(regexp_replace(
      Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
          "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(regexp_replace(regexp_replace(html,
          "(?is)<(script|style)[^>]*>.*?</(script|style)>", " "),
          "(?s)<!--.*?-->|<[^>]*>", " ")) {
          case (c, (ent, ch)) => regexp_replace(c, ent, ch)
        }, "\\s+", " "))

  /** Sentences of a document: split AFTER a `[.!?]` run followed by
    * whitespace. Sentinel-based (insert ``, then split) because
    * lookbehind exists in Java regex but not RE2 — this form runs
    * identically in both engines. Sentences keep their terminal
    * punctuation; non-empty trimmed segments only.
    */
  def sentencesOf(text: Column): Column =
    filter(transform(
      split(regexp_replace(text, "([.!?]+)\\s+", "$1\u0001"), "\u0001"),
      s => trim(s)), s => length(s) > 0)

  def sentenceCount(text: Column): Column = size(sentencesOf(text)).cast("bigint")

  /** Mean sentence length in thousandths of a character — long-running
    * sentences flag unsegmented boilerplate; very short ones flag listy
    * non-prose.
    */
  def avgSentenceLenMilli(text: Column): Column =
    ExprOps.let(sentencesOf(text)) { ss =>
      when(size(ss) === 0, lit(0L)).otherwise(
        floor(aggregate(ss, lit(0L), (a, s) => a + length(s)).cast("double")
          * 1000 / size(ss) + 0.5).cast("bigint"))
    }

  /** Unicode-script densities (per-mille of characters): Latin, Cyrillic,
    * and CJK-ideograph classes — the multilingual-pipeline signal that
    * catches wrong-script content the stopword-based [[langId]] cannot
    * (it only knows Latin-alphabet markers). Character classes are literal
    * ranges, identical in Java regex and RE2.
    */
  def latinPerMille(text: Column): Column = classPerMille(text, "[A-Za-z]")
  def cyrillicPerMille(text: Column): Column = classPerMille(text, "[Ѐ-ӿ]")
  def cjkPerMille(text: Column): Column = classPerMille(text, "[一-鿿]")

  /** Dominant script label from the three density signals; ties break to
    * the earlier class (latin > cyrillic > cjk), all-zero → "und".
    */
  def dominantScript(text: Column): Column =
    ExprOps.let(latinPerMille(text)) { la =>
      ExprOps.let(cyrillicPerMille(text)) { cy =>
        ExprOps.let(cjkPerMille(text)) { cj =>
          when(la === 0L && cy === 0L && cj === 0L, lit("und"))
            .when(la >= cy && la >= cj, lit("latin"))
            .when(cy >= cj, lit("cyrillic"))
            .otherwise(lit("cjk"))
        }
      }
    }

  /** Candidate payment-card pattern: 13–19 digits with optional space/dash
    * separators, digit-bounded.
    */
  val CcCandidateRe = "[0-9][0-9 -]{10,17}[0-9]"

  /** Luhn checksum validity of a pure digit string (mod-10 with every
    * second digit from the RIGHT doubled, 9-subtracted above 9) — the
    * standard card-number check digit. Length must land in [13, 19].
    * Pure higher-order-function expression; runs per CANDIDATE, not per
    * character of the document.
    */
  def luhnValid(digits: Column): Column =
    ExprOps.let(digits) { s =>
      ExprOps.let(length(s)) { n =>
        n.between(13, 19) &&
          aggregate(sequence(lit(1), n), lit(0), (acc, i) =>
            ExprOps.let(s.substr(i, lit(1)).cast("int")) { d =>
              ExprOps.let(when(((n - i) % 2) === 1, d * 2).otherwise(d)) { dd =>
                acc + when(dd > 9, dd - 9).otherwise(dd)
              }
            }) % 10 === 0
      }
    }

  /** Mask VALIDATED payment-card numbers with `<CC>`: candidates come from
    * one [[CcCandidateRe]] scan, each is Luhn-checked on its stripped
    * digits, and only validated candidates are replaced — a digit run that
    * fails the checksum (an order id, a timestamp) is left alone, which is
    * the precision [[redactPii]]'s pattern-only phone rule cannot offer.
    * Replacement is literal per candidate string; all occurrences of a
    * validated candidate mask together (deterministic cross-engine).
    */
  def redactCreditCards(text: Column): Column =
    ExprOps.let(filter(regexp_extract_all(text, lit(CcCandidateRe), lit(0)),
        c => luhnValid(regexp_replace(c, "[^0-9]", "")))) { valid =>
      aggregate(valid, text, (t, c) => replace(t, c, lit("<CC>")))
    }

  /** Fraction of document characters covered by the single most frequent
    * word n-gram (per-mille): count(top n-gram) × chars(top n-gram) ÷
    * chars(text) — the Gopher top-n-gram rule that catches documents
    * dominated by one repeated phrase. Computed without a shuffle or a
    * per-doc groupBy: sort the shingle array, scan runs with an `aggregate`
    * accumulator (O(s log s) per document, independent of corpus size), and
    * keep the longest run — ties break to the lexicographically smallest
    * n-gram (the ascending scan keeps the first maximum), which the oracle
    * mirrors with ORDER BY count DESC, ngram ASC.
    */
  def topNgramCharPerMille(text: Column, n: Int): Column =
    ExprOps.let(array_sort(wordShingles(text, n))) { sh =>
      when(size(sh) === 0 || length(text) === 0, lit(0L)).otherwise(
        ExprOps.let(
          aggregate(sh,
            struct(lit("").as("prev"), lit(0L).as("run"),
              lit(0L).as("bestCnt"), lit("").as("bestSng")),
            (acc, x) =>
              ExprOps.let(when(x === acc.getField("prev"),
                  acc.getField("run") + 1L).otherwise(lit(1L))) { run =>
                ExprOps.let(run > acc.getField("bestCnt")) { better =>
                  struct(x.as("prev"), run.as("run"),
                    when(better, run).otherwise(acc.getField("bestCnt")).as("bestCnt"),
                    when(better, x).otherwise(acc.getField("bestSng")).as("bestSng"))
                }
              })) { st =>
          floor(st.getField("bestCnt").cast("double") *
            length(st.getField("bestSng")) * 1000 / length(text) + 0.5)
            .cast("bigint")
        })
    }

  // ------------------------------------------------------------------ C4

  /** C4 line-keep rule (Raffel et al. arXiv:1910.10683 §2.2): a line
    * survives iff, after trimming, it (a) ends in a terminal punctuation
    * mark — period / exclamation / question mark / closing double quote;
    * (b) contains at least 5 space-separated words; and (c) does not
    * mention "javascript" (case-insensitive — the rule that strips
    * enable-JS boilerplate). Spelled as `endswith` disjunctions and a
    * single-space split, not regex, so the DuckDB oracle replays it
    * token-for-token.
    */
  def c4LineKeep(line: Column): Column =
    ExprOps.let(trim(line)) { t =>
      (t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
        t.endsWith("\"")) &&
        size(filter(split(t, " "), w => length(w) > 0)) >= 5 &&
        !lower(t).contains("javascript")
    }

  /** C4 line-level cleaning: drop every line [[c4LineKeep]] rejects and
    * rejoin the survivors with newlines. Pure per-row array work — no
    * shuffle, stays in codegen at any corpus size.
    */
  def c4CleanLines(text: Column): Column =
    array_join(filter(split(text, "\n"), l => c4LineKeep(l)), "\n")

  /** Small built-in spam-marker list for [[c4Keep]] — a deterministic
    * stand-in for the "List of Dirty, Naughty, Obscene or Otherwise Bad
    * Words" C4 actually uses (which is a 400-line external resource;
    * callers with the real list pass it in). Matched as whole lowercase
    * words.
    */
  val DefaultBadWords: Seq[String] = Seq("viagra", "casino", "xxx")

  /** C4 page-keep rule (arXiv:1910.10683 §2.2), applied to the ALREADY
    * line-cleaned text ([[c4CleanLines]]): keep iff the page (a) has at
    * least 3 sentences; (b) does not contain "lorem ipsum"
    * (case-insensitive); (c) has no curly brace (code marker); and
    * (d) contains no bad-word token (whole-word, lowercase). All
    * per-row expression work; thresholds inline so Catalyst folds them.
    */
  def c4Keep(cleaned: Column,
             badWords: Seq[String] = DefaultBadWords): Column =
    ExprOps.let(lower(cleaned)) { lc =>
      // foldLeft over lit(true), not reduce: an empty badWords list must
      // degrade to "no bad-word rule" (reachable from YAML `c4Filter` with
      // badWords: []), not throw empty.reduce
      val noBad = badWords.map { w =>
        !exists(filter(split(lc, "[ \n]"), t => length(t) > 0), t => t === w)
      }.foldLeft(lit(true))(_ && _)
      sentenceCount(cleaned) >= 3L &&
        !lc.contains("lorem ipsum") &&
        !cleaned.contains("{") && noBad
    }
}
