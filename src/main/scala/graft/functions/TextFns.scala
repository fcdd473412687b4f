package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar surface: tokenizer (reference F14,
  * util/KeyWordUtil.java:12-29 — IK segmentation, re-expressed for
  * offline/latin text), token statistics, quality scoring, language ID,
  * and document fingerprinting.
  *
  * Everything is a built-in-function composition (no UDFs): `split`,
  * `filter`, `transform`, `aggregate` are all codegen'd, so these run
  * at full whole-stage-codegen speed and scale linearly with executors — no JVM<->interpreter boundary per row.
  */
object TextFns {

  /** F14: whitespace tokenizer (the oracle-parity path — DuckDB
    * string_split on a single space after trim). */
  def tokensWs(c: Column): Column =
    filter(split(trim(lower(c)), "\\s+"), t => t =!= lit(""))

  /** General tokenizer: split on any non-letter/digit run (BPE-ish regex
    * pre-tokenization, the shape GPT-style BPE uses before merges). */
  def tokensRe(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}\\p{N}]+"), t => t =!= lit(""))

  /** Token count (whitespace). */
  def tokenCount(c: Column): Column = size(tokensWs(c))

  /** Word n-gram shingles from a token array: slide a window of `n`,
    * join with single spaces. Distributed-safe: pure per-row expression.
    * The token array is bind-bound: without it, the upstream tokenization
    * (a full split of the document) would be re-inlined into every
    * per-shingle slice — O(tokens²) work per document. */
  def shingles(tokens: Column, n: Int): Column =
    ExprUtil.bind(tokens) { t =>
      when(size(t) < n, array(concat_ws(" ", t)))
        .otherwise(
          transform(
            sequence(lit(0), size(t) - lit(n)),
            i => concat_ws(" ", slice(t, i + 1, lit(n)))))
    }

  private val Stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Stopword ratio: fraction of tokens that are common English stopwords. */
  def stopwordRatio(tokens: Column): Column = {
    val sw = array(Stopwords.map(lit): _*)
    ExprUtil.bind(tokens) { t =>
      when(size(t) === 0, lit(0.0))
        .otherwise(size(array_intersect_count(t, sw)).cast("double") / size(t))
    }
  }

  /** Tokens that are stopwords (with multiplicity). */
  private def array_intersect_count(tokens: Column, sw: Column): Column =
    filter(tokens, t => array_contains(sw, t))

  /** Punctuation ratio over characters. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") / length(c))

  /** Heuristic quality score in [0,1]: rewards mid-length docs, low
    * punctuation, presence of function words — the usual cheap pre-filters
    * a pretraining pipeline applies before expensive model scoring.
    * Unrounded: both engines produce bit-identical IEEE doubles for the
    * same op order; callers truncate with [[truncate6]] (never `round`,
    * whose half-up tie-breaking differs between engines on knife-edge
    * values like 0.7512624999999999). */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punct = punctRatio(c)
    val sw = stopwordRatio(tokensWs(c))
    lit(0.4) * lenScore +
      lit(0.3) * (lit(1.0) - least(punct * lit(5.0), lit(1.0))) +
      lit(0.3) * least(sw * lit(5.0), lit(1.0))
  }

  /** Oracle-stable 6-decimal truncation: floor(x*1e6)/1e6 is the same
    * IEEE op sequence in Spark and DuckDB, so results are bit-identical
    * whenever the inputs are — unlike round(), where Spark goes through
    * BigDecimal (decimal string) and DuckDB through x*1e6 (binary),
    * disagreeing on values that sit on a rounding boundary. */
  def truncate6(c: Column): Column = floor(c * lit(1000000.0)) / lit(1000000.0)

  /** Language-ID marker lexicons (tiny, public common-word lists). */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "you", "that", "with"),
    "es" -> Seq("el", "la", "de", "que", "los", "por", "con", "una"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "zh" -> Seq("的", "是", "不", "我", "了", "在", "人", "有"))

  /** N-gram/stopword heuristic language ID: score each language by marker
    * hits per token, pick the argmax, "und" (undetermined) when no marker
    * fires. Pure expression — no per-row JVM calls. */
  def langId(c: Column): Column =
    ExprUtil.bind(tokensRe(c)) { toks =>
      val scored = LangMarkers.map { case (lang, markers) =>
        val m = array(markers.map(lit): _*)
        struct(size(filter(toks, t => array_contains(m, t))).as("hits"), lit(lang).as("lang"))
      }
      ExprUtil.bind(array_max(array(scored: _*))) { best =>
        when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
      }
    }

  /** Document fingerprint: order-sensitive 62-bit rolling hash over tokens
    * — two independent 31-bit polynomial tracks (mod 2^31-1, multipliers
    * coprime) packed into one long. Overflow-free under ANSI arithmetic;
    * docs differing only in whitespace normalize equal. The per-token
    * primitive is the little-endian low 64 bits of md5 — a value any
    * engine can compute (DuckDB: `md5_number_lower`), so the whole
    * fingerprint is oracle-checkable bit-for-bit. */
  def fingerprint(c: Column): Column = {
    val M = HashFns.P
    ExprUtil.bind(tokensWs(c)) { toks =>
      def track(mult: Long): Column =
        aggregate(toks, lit(17L), (acc, t) =>
          pmod(acc * lit(mult) + HashFns.md5Lower64Mod(t, M), lit(M)))
      shiftleft(track(1000003L), 31).bitwiseOR(track(998244353L))
    }
  }

  /** Duplicate word-n-gram fraction (the Gopher-style repetition signal):
    * 1 - distinct/total over the doc's n-gram shingles. 0 for docs too
    * short to form more than one shingle-slot view of themselves. Pure
    * per-row expression (scan-side). */
  def repetitionRatio(text: Column, n: Int = 3): Column =
    ExprUtil.bind(shingles(tokensWs(text), n)) { sh =>
      when(size(sh) <= 1, lit(0.0))
        .otherwise(lit(1.0) -
          size(array_distinct(sh)).cast("double") / size(sh))
    }

  /** Email / phone pattern used by [[piiScrub]] — deliberately restricted
    * to syntax with identical semantics in Java regex and RE2 (char
    * classes, bounded quantifiers, \b), so a DuckDB oracle replays the
    * scrub byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing for training corpora: replace email addresses and
    * phone-shaped numbers with typed placeholder tags. Narrow, scan-side;
    * extend by chaining more regexp_replace stages. */
  def piiScrub(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Hashing-trick bag-of-words featurizer: `dim` bucket counts, bucket =
    * engine-portable md5-low-64 of the token mod dim (Weinberger et al.'s
    * feature hashing — the deterministic, vocabulary-free embedding that
    * stands in for a learned encoder wherever the harness needs REAL
    * retrieval semantics with an exactly-replayable oracle). Scan-side
    * expression: one hash pass over the tokens, `dim` bounded filters —
    * zero shuffle, no vocabulary table to broadcast or train. */
  def hashingTrickEmbed(tokens: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    ExprUtil.bind(transform(tokens, t => HashFns.md5Lower64Mod(t, dim.toLong))) {
      hs => array((0 until dim).map(i =>
        size(filter(hs, h => h === lit(i.toLong))).cast("double")): _*)
    }
  }

  /** Learned-model quality filtering: a linear classifier over the
    * single-pass text-profile features. The MODEL is data (weights
    * trained offline — a fastText-style quality classifier distilled to
    * its linear layer); here it folds into the plan as LITERALS, so
    * scoring is a pure scan-side expression — zero shuffle, no model
    * server, no per-row JVM boundary — which is how a learned filter
    * stays payable as a pass over 100 TB. Features: log1p(token count)
    * (scale-free length), mean token length, stopword density,
    * punctuation density — all from one graft_text_profile evaluation.
    * Score = sigmoid(w·f + b) in [0,1]; threshold downstream. */
  final case class QualityModel(wTokens: Double, wMeanTokLen: Double,
      wStopword: Double, wPunct: Double, bias: Double)

  def classifierScore(c: Column, m: QualityModel): Column =
    ExprUtil.bind(call_function("graft_text_profile", c)) { p =>
      val z = lit(m.wTokens) * log1p(p.getField("n_tokens").cast("double")) +
        lit(m.wMeanTokLen) * p.getField("mean_tok_len") +
        lit(m.wStopword) * p.getField("stopword_ratio") +
        lit(m.wPunct) * p.getField("punct_ratio") + lit(m.bias)
      lit(1.0) / (lit(1.0) + exp(-z))
    }
}
