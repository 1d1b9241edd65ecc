package graft.ops

import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a documents
  * table. All column logic is native (codegen'd) — no UDFs — and each
  * operator is deliberately expressible in ANSI SQL so the driver's DuckDB
  * oracle can cross-check it (SparkEntry.oracleSql).
  */
object TextStats {

  /** Normalized token array: lowercase, split on non-alphanumerics, empties
    * dropped — the standard analyzer's native column path. */
  def tokensCol(text: Column): Column =
    Analyzer.standard().termsColumn(text)

  /** doc_id, n_tokens. */
  def tokenCount(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(tokensCol(col(textCol))).cast("long").as("n_tokens"))

  private val stopWords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** C4-style corpus-cleaning signals (Raffel et al. 2020, the "Colossal
    * Clean Crawled Corpus" heuristics, doc-level over the line structure):
    * a line COUNTS only if it ends in terminal punctuation and has ≥ 5
    * words; a document KEEPS only if ≥ 3 lines count, it contains no
    * "lorem ipsum" placeholder, and no curly brace (the code/JS heuristic).
    * All native codegen'd columns — split / higher-order filter / rlike —
    * zero shuffles: a 100 TB cleaning pass is one map-only scan whose
    * output predicate pushes into the next stage's parquet write. Flags
    * surface as 0/1 longs so the decision thresholds stay auditable. */
  def c4Signals(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") && size(split(trim(l), "\\s+")) >= lit(5))
    val hasLorem = lower(col(textCol)).contains("lorem ipsum")
    val hasBrace = col(textCol).contains("{")
    docs.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      hasLorem.cast("long").as("has_lorem"),
      hasBrace.cast("long").as("has_brace"),
      (size(kept) >= 3 && !hasLorem && !hasBrace).cast("long").as("keep"))
  }

  /** Gopher quality-filter signals (Rae et al. 2021, Appendix A1.1 "Text
    * quality filtering"): word count, mean word length, symbol-to-word
    * ratio (# and … per the paper), bullet-line and ellipsis-line ratios,
    * fraction of words with an alphabetic character, and presence of the
    * paper's eight indicator stop words; `keep` applies the published
    * thresholds (50 ≤ words ≤ 100k, mean len in [3,10], symbol ratio
    * < 0.1, bullet lines < 90%, ellipsis lines < 30%, ≥ 80% alpha words,
    * ≥ 2 stop-word kinds). Native codegen'd columns, zero shuffles. */
  def gopherSignals(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val lines = split(text, "\n")
    val words = filter(split(trim(text), "\\s+"), w => w =!= lit(""))
    val wl = transform(words, w => lower(w))
    val nWords = size(words)
    val nLines = size(lines)
    val meanLen = when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nWords)
      .otherwise(lit(0.0))
    val alphaRatio = when(nWords > 0,
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
      .otherwise(lit(0.0))
    val stopKinds = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(sw => array_contains(wl, sw).cast("long")).reduce(_ + _)
    val nSym = length(text) - length(translate(text, "#…", ""))
    val symRatio = when(nWords > 0, nSym.cast("double") / nWords).otherwise(lit(0.0))
    val bulletRatio = when(nLines > 0,
      size(filter(lines, l => ltrim(l).startsWith("•") || ltrim(l).startsWith("- ")))
        .cast("double") / nLines).otherwise(lit(0.0))
    val ellipsisRatio = when(nLines > 0,
      size(filter(lines, l => rtrim(l).endsWith("…") || rtrim(l).endsWith("...")))
        .cast("double") / nLines).otherwise(lit(0.0))
    docs.select(col(idCol),
      nWords.cast("long").as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(alphaRatio, 6).as("alpha_word_ratio"),
      stopKinds.as("n_stop_kinds"),
      round(symRatio, 6).as("symbol_ratio"),
      round(bulletRatio, 6).as("bullet_line_ratio"),
      round(ellipsisRatio, 6).as("ellipsis_line_ratio"),
      (nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio < 0.1 && bulletRatio < 0.9 && ellipsisRatio < 0.3 &&
        alphaRatio >= 0.8 && stopKinds >= 2).cast("long").as("keep"))
  }

  /** Heuristic quality signals: length, mean token length, stop-word ratio,
    * alphabetic ratio, and a composite score. Deterministic, SQL-replicable. */
  def quality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokensCol(col(textCol))
    docs.select(
      col(idCol),
      char_length(col(textCol)).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      round(when(size(toks) > 0,
        aggregate(transform(toks, t => char_length(t).cast("double")), lit(0.0), _ + _)
          / size(toks).cast("double")).otherwise(lit(0.0)), 6).as("avg_token_len"),
      round(when(size(toks) > 0,
        size(filter(toks, t => t.isin(stopWords: _*))).cast("double")
          / size(toks).cast("double")).otherwise(lit(0.0)), 6).as("stopword_ratio"),
      round(when(char_length(col(textCol)) > 0,
        char_length(regexp_replace(col(textCol), "[^a-zA-Z]", "")).cast("double")
          / char_length(col(textCol)).cast("double")).otherwise(lit(0.0)), 6).as("alpha_ratio")
    )
  }

  /** Marker-stopword language ID (n-gram-free heuristic: count hits of
    * per-language function words in the token set; deterministic argmax with
    * alphabetical tie-break; "und" = undetermined when nothing hits). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des")
  )

  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokensCol(col(textCol))
    val hits = langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*))).cast("long")
    }
    // argmax by (count desc, lang asc); all-zero → "und"
    val best = hits.tail.foldLeft(
      struct(hits.head._2.as("cnt"), lit(hits.head._1).as("lang"))
    ) { case (acc, (lang, cnt)) =>
      when(cnt > acc.getField("cnt"), struct(cnt.as("cnt"), lit(lang).as("lang")))
        .otherwise(acc)
    }
    docs.select(col(idCol),
      when(best.getField("cnt") > 0, best.getField("lang")).otherwise(lit("und")).as("pred_lang"),
      best.getField("cnt").as("marker_hits"))
  }

  /** Trimmed non-empty lines of a text column. */
  private def textLines(text: Column): Column =
    filter(transform(split(text, "\n"), x => trim(x)), x => x =!= "")

  /** Adjacent-token bigrams ("a b") of a token array; empty below 2 tokens. */
  private def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(typedLit(Seq.empty[String]))

  /** Gopher/RefinedWeb-style repetition signals — the boilerplate
    * detectors a web-scale quality filter runs before training:
    *  - `dup_line_ratio`: 1 − distinct/total over non-empty trimmed lines
    *    (menus, footers, and templated pages repeat lines verbatim);
    *  - `top_bigram_ratio`: occurrences of the most frequent token bigram
    *    over total bigrams (degenerate generations and keyword stuffing).
    * The line signals are pure per-row column math; the bigram mode needs
    * a per-(doc, gram) count, computed by explode + two map-side-combined
    * aggregations — NOT an O(tokens²) per-row array fold, which would blow
    * up on long documents. Docs with <2 tokens report 0. */
  def repetition(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = textLines(col(textCol))
    val base = docs.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      round(when(size(lines) > 0,
        lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
        .otherwise(lit(0.0)), 6).as("dup_line_ratio"),
      bigrams(tokensCol(col(textCol))).as("grams"))
    val tops = base.select(col(idCol), explode(col("grams")).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double")).as("tb"))
    base.drop("grams")
      .join(tops, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("dup_line_ratio"),
        round(coalesce(col("tb"), lit(0.0)), 6).as("top_bigram_ratio"))
  }

  /** Gopher A1.1 CHARACTER-fraction repetition signals — the flavors
    * [[repetition]]'s count ratios don't capture (one huge duplicated
    * paragraph among many short unique lines is invisible to a line-count
    * ratio but dominates the char fraction):
    *  - `dup_line_char_frac`: characters in line occurrences whose trimmed
    *    content appears more than once in the doc, over all line chars;
    *  - `top_bigram_char_frac`: characters covered by occurrences of the
    *    most frequent token bigram (ties broken lexicographically — the
    *    tie rule must be deterministic for cross-engine oracles), over the
    *    doc's total token characters.
    * Each doc is split into lines and tokens once; per-(doc, line) and
    * per-(doc, bigram) counts come from explode + map-side-combined
    * aggregations like [[repetition]]'s, so the work is linear in the
    * doc's length (a per-row fold counting every element against every
    * other is quadratic per count and interpreted — Spark's higher-order
    * array functions are CodegenFallback). */
  def repetitionChars(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol), textLines(col(textCol)).as("lines"),
      tokensCol(col(textCol)).as("toks"))
    val lineChars = base.select(col(idCol), explode(col("lines")).as("line"))
      .groupBy(col(idCol), col("line")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c") * length(col("line"))).as("line_chars"),
        sum(when(col("c") > 1, col("c") * length(col("line"))).otherwise(lit(0L)))
          .as("dup_chars"))
    // the most frequent bigram, ties to the lexicographically least: the
    // minimum of (−count, gram)
    val topGram = base.select(col(idCol), explode(bigrams(col("toks"))).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(min(struct(negate(col("c")).as("nc"), col("gram"))).as("top"))
    val maxCnt = coalesce(negate(col("top.nc")), lit(0L))
    // a bigram's token characters = its string length minus the joiner
    val topChars = (length(col("top.gram")) - lit(1)).cast("double")
    val tokChars = col("tok_chars")
    base.select(col(idCol),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("tok_chars"))
      .join(lineChars, Seq(idCol), "left")
      .join(topGram, Seq(idCol), "left")
      .select(col(idCol),
        round(when(col("line_chars") > 0,
          col("dup_chars").cast("double") / col("line_chars").cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_line_char_frac"),
        round(when(tokChars > 0 && maxCnt > 0,
          // overlapping occurrences can over-count, so clamp to 1
          least(lit(1.0), (maxCnt.cast("double") * topChars) / tokChars.cast("double")))
          .otherwise(lit(0.0)), 6).as("top_bigram_char_frac"))
  }

  /** Corpus-unigram language-model quality score — the classic LM filter
    * (CCNet-style, with the corpus itself as the model): per doc the mean
    * log-probability `avg over tokens of ln(cf_t / total_tokens)` where
    * `cf_t` is the token's corpus collection frequency (MLE, no smoothing
    * needed — every scored token has cf ≥ 1 by construction). Low scores
    * flag gibberish / rare-token soup; anomalously high scores flag
    * boilerplate. Returns `(doc_id, n_tokens, avg_logp)`; empty docs get
    * n_tokens 0 and a null score.
    * Shape: one exploded-token aggregation builds the vocab-sized frequency
    * table, token rows then re-join it keyed on the term (a shuffle join —
    * no broadcast assumption at web-scale vocabularies) and aggregate per
    * doc; the total-token count rides along as a broadcast 1-row frame. */
  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokensCol(col(textCol))).as("term"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val total = freq.agg(sum(col("cf")).as("total"))
    val perDoc = tok
      .join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("cf").cast("double") / col("total").cast("double"))).as("avg_logp"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_logp"))
  }

  /** PII redaction patterns, deliberately restricted to the regex subset
    * Java (Spark) and RE2 (DuckDB, the oracle engine) evaluate identically:
    * character classes, bounded repetition, groups, `\b` — no lookaround,
    * no backreferences. Order matters: emails first (they contain dots and
    * digits an IP/phone pattern could bite into), then IPv4, then phones.
    * The phone pattern is the pragmatic NANP-ish shape (optional +CC,
    * optional parens, separators) — a recall-oriented scrub, not a parser.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>",
    // no leading \b: a boundary can never hold before the optional '+' or
    // '(' (both non-word after a space); the required inner separator
    // before the last 4 digits keeps plain digit runs from matching
    """(\+\d{1,2}[-. ])?\(?\d{3}\)?[-. ]?\d{3}[-. ]\d{4}\b""" -> "<PHONE>"
  )

  /** Redact emails / IPv4 addresses / phone numbers to typed placeholder
    * tokens — the scrub every LLM training pipeline runs before text
    * leaves the ingest zone. Pure per-row codegen'd `regexp_replace`
    * chain: zero shuffle, scan-speed at any corpus size. */
  def redactPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      piiPatterns.foldLeft(col(textCol)) { case (c, (pat, tok)) =>
        regexp_replace(c, pat, tok)
      }.as("redacted"))

  /** Content fingerprint over the normalized token stream: md5 of the
    * space-joined tokens (engine-portable, oracle-checked). */
  def fingerprintMd5(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      md5(to_binary(concat_ws(" ", tokensCol(col(textCol))), lit("utf-8"))).as("fp"))

  /** Polynomial rolling hash over the normalized text's characters
    * (base 31, modulus 1e9+7 — keeps every intermediate within a long),
    * computed natively with a higher-order aggregate — the classic document
    * fingerprint, kept oracle-free because engines disagree on string fold
    * primitives; pinned by a Scala reference implementation in OpsSpec. */
  def fingerprintRolling(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = concat_ws(" ", tokensCol(col(textCol)))
    val m = lit(1000000007L)
    docs.select(col(idCol),
      aggregate(
        filter(split(s, ""), c => c =!= ""),
        lit(0L),
        (acc, ch) => pmod(acc * lit(31L) + ascii(ch).cast("long"), m)
      ).as("fp_roll"))
  }

  /** Scala reference of fingerprintRolling for tests. Iterates CODE POINTS:
    * Spark's `split(s, "")` yields one element per code point (surrogate
    * pairs stay together) and `ascii` returns the full code point (probed:
    * 'é'→233, '日'→26085, '𝄞'→119070), so a UTF-16 code-unit fold would
    * disagree on every supplementary character. */
  def rollingRef(normalized: String): Long = {
    val m = 1000000007L
    var acc = 0L
    var i = 0
    while (i < normalized.length) {
      val cp = normalized.codePointAt(i)
      acc = java.lang.Math.floorMod(acc * 31L + cp, m)
      i += Character.charCount(cp)
    }
    acc
  }
}
