package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Let.{letOnce, letOnce2}

/** Text-analysis primitives for large-scale corpus pipelines: normalization,
  * tokenization, shingling, 64-bit content hashing, MinHash signatures, LSH
  * banding, SimHash, language-ID and quality heuristics.
  *
  * Everything here is a pure `Column` expression built from Spark built-ins
  * (string functions + higher-order array functions) — no UDFs, so every
  * operator stays inside whole-stage codegen and distributes trivially: all
  * of these are narrow per-row transforms; the only shuffles in the dedup
  * pipelines built on top are the groupBys on hash/band keys.
  *
  * Hash parity note: `hash64` is the first 60 bits of md5, which any engine
  * reproduces bit-for-bit (md5 is standardized) — unlike engine-private
  * hashes (`xxhash64`, DuckDB `hash()`), this makes results verifiable
  * across systems.
  */
object TextOps {

  /** lower-case, trim, collapse runs of whitespace to single spaces. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** whitespace tokens of the normalized text. Native single-call
    * evaluation ([[graft.functions.NormTokensExpr]] — no regex engine);
    * [[tokensHof]] is the executable specification NativeExprSpec pins
    * it against. */
  def tokens(c: Column): Column = {
    val br = org.apache.spark.sql.graft.bridge
    br.column(graft.functions.NormTokensExpr(br.expression(c)))
  }

  /** The regex formulation of [[tokens]] (parity oracle — exactly the
    * DuckDB oracle's `string_split(regexp_replace(...), ' ')`). */
  def tokensHof(c: Column): Column = split(normText(c), " ")

  /** Deterministic 60-bit non-negative hash from md5 (cross-engine stable). */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** `n`-word shingles as space-joined strings (empty array when the doc is
    * shorter than `n` words). Native single-call evaluation
    * ([[graft.functions.ShinglesExpr]]); [[shinglesHof]] is the
    * executable specification NativeExprSpec pins it against. */
  def shingles(toks: Column, n: Int): Column = {
    val br = org.apache.spark.sql.graft.bridge
    br.column(graft.functions.ShinglesExpr(br.expression(toks), n))
  }

  /** The higher-order-function formulation of [[shingles]] (parity
    * oracle). Built with O(1) `element_at` per position — higher-order
    * array functions evaluate interpreted (outside codegen), so a
    * per-position `slice` (array copy each step) costs real time on
    * long docs; direct indexing doesn't. */
  def shinglesHof(toks: Column, n: Int): Column = letOnce(toks) { tk =>
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j)): _*))
    ).otherwise(array().cast("array<string>"))
  }

  /** MinHash signature of `k` permutations over a shingle array: element `i`
    * is `min over shingles of hash64(i || '|' || shingle)` — the standard
    * "k independent hash functions" construction keyed by the seed index.
    * Null-safe: empty shingle set yields nulls (callers filter short docs).
    *
    * NOTE: costs k·|shingles| md5 calls per row. For large corpora prefer
    * [[minhashFromBase]], which needs ONE md5 per shingle.
    */
  def minhash(shingleArr: Column, k: Int): Column = letOnce(shingleArr) { sh =>
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => hash64(concat(i.cast("string"), lit("|"), s)))))
  }

  /** Modulus for the affine-permutation MinHash family: 2^31 − 1 (prime).
    * Base hashes are < M so `h·a + b` stays well inside int64 — no overflow
    * even under ANSI arithmetic. */
  val minhashM: Long = 2147483647L

  /** Deterministic affine coefficients (a_i odd, both < [[minhashM]]) —
    * plain integer formulas so any engine can re-derive them as literals. */
  def minhashParams(k: Int): (Seq[Long], Seq[Long]) = (
    (0 until k).map(i => ((2L * i + 1) * 2654435761L) % minhashM),
    (0 until k).map(i => (i.toLong * 40503L * 65537L + 17L) % minhashM))

  /** One md5 per shingle: the base-hash array for [[minhashFromBase]]. */
  def minhashBase(shingleArr: Column): Column =
    transform(shingleArr, s => pmod(hash64(s), lit(minhashM)))

  /** MinHash signature from pre-computed base hashes via the universal-hash
    * family `(a_i·h + b_i) mod M` — O(k·|shingles|) integer ops and ZERO
    * additional md5 work. Materialize the base array (e.g. `.cache()`)
    * before fanning out to bands, or Catalyst's projection collapsing will
    * re-inline the md5 pipeline into every band slice (the round-2 bench
    * showed that blowup turning a seconds-query into minutes). */
  def minhashFromBase(baseHashes: Column, k: Int): Column = {
    val (as, bs) = minhashParams(k)
    letOnce(baseHashes) { hs =>
      transform(sequence(lit(0), lit(k - 1)), i =>
        array_min(transform(hs, h =>
          (h * element_at(typedlit(as), i + 1) + element_at(typedlit(bs), i + 1)) % minhashM)))
    }
  }

  /** Fused NATIVE distinct shingle-hash set — semantically identical to
    * `array_distinct(transform(sh, s => hash64(s)))` (first-occurrence
    * order) but one JVM call per row
    * ([[graft.functions.ShingleHashSet]]); the verify-set build of the
    * chain near-dup family. Bit-parity pinned in NativeExprSpec. */
  def shingleHashSet(sh: Column): Column = {
    val b = org.apache.spark.sql.graft.bridge
    b.column(graft.functions.ShingleHashSet(b.expression(sh)))
  }

  /** Fused NATIVE MinHash signature — semantically identical to
    * `minhashFromBase(minhashBase(sh), k)` but one JVM call per row
    * ([[graft.functions.MinhashSig]]) instead of nested interpreted HOFs
    * (md5 + conv per shingle per row outside codegen); bit-parity pinned
    * in NativeExprSpec. Use on hot paths; the HOF form stays as the
    * executable specification. */
  def minhashSig(sh: Column, k: Int = 16): Column = {
    val b = org.apache.spark.sql.graft.bridge
    b.column(graft.functions.MinhashSig(b.expression(sh), k))
  }

  /** Fused NATIVE band keys — semantically identical to
    * `lshBands(minhashFromBase(minhashBase(sh), k), bands, rowsPerBand)`
    * but one JVM call per row ([[graft.functions.MinhashBands]]) instead
    * of four nested interpreted HOFs; bit-parity asserted in
    * NativeExprSpec and by every band-family oracle. Use this on hot
    * paths; the HOF forms below remain the executable specification. */
  def minhashBandKeys(sh: Column, k: Int = 16, bands: Int = 8,
                      rowsPerBand: Int = 2): Column = {
    val b = org.apache.spark.sql.graft.bridge
    b.column(graft.functions.MinhashBands(b.expression(sh), k, bands, rowsPerBand))
  }

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`
    * and each group hashed to one string key. Two docs collide on a band iff
    * that slice of their signatures is identical — the classic
    * banding amplification. Returns `array<string>` of length `bands`,
    * elements prefixed by band index so keys from different bands never
    * collide in a global groupBy.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    letOnce(sig) { sg =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => concat(b.cast("string"), lit(":"),
          md5(concat_ws(",", transform(slice(sg, b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string"))))))
    }

  /** Character `n`-grams of the normalized text (empty array when shorter
    * than `n` chars) — the language/script profiling primitive. Same O(1)
    * per-position indexing rationale as [[shingles]]. */
  def charNgrams(text: Column, n: Int): Column = letOnce(normText(text)) { nm =>
    when(length(nm) >= n,
      transform(sequence(lit(1), length(nm) - (n - 1)), i => nm.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Repeated-`n`-gram ratio: `1 − distinct/total` over the doc's word
    * `n`-grams — the boilerplate/template signal (Gopher-style repetition
    * rule). 0.0 for docs too short to have any `n`-gram. Exact ratio of
    * two small integers. */
  def dupNgramRatio(toks: Column, n: Int): Column =
    letOnce(shingles(toks, n)) { sh =>
      when(size(sh) === 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh))
    }

  /** Jaccard similarity of two string arrays treated as SETS (inputs need
    * not be distinct; both sides are deduped). Exact ratio of two small
    * integers — deterministic across engines. Native single-pass
    * evaluation ([[graft.functions.JaccardSim]]); [[jaccardHof]] is the
    * executable specification NativeExprSpec pins it against. */
  def jaccard(a: Column, b: Column): Column = {
    val br = org.apache.spark.sql.graft.bridge
    br.column(graft.functions.JaccardSim(br.expression(a), br.expression(b)))
  }

  /** The built-in-functions formulation of [[jaccard]] (parity oracle). */
  def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** `bits`-wide SimHash over the DISTINCT tokens of a doc: bit `j` of the
    * result is 1 iff the sum over tokens of (bit `j` of hash64(token) ? +1
    * : -1) is positive. Near-duplicate docs land at small Hamming distance.
    */
  def simhash(toks: Column, bits: Int): Column =
    letOnce(transform(array_distinct(toks), t => hash64(t))) { hashes =>
      (0 until bits).map { j =>
        val vote = aggregate(hashes, lit(0L),
          (acc, h) => acc + (shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1))
        when(vote > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** Hamming distance between two simhash values (popcount of xor). */
  def hamming(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { j =>
      shiftright(a.bitwiseXOR(b), j).bitwiseAND(lit(1L))
    }.reduce(_ + _)

  /** Marker-token language-ID heuristic: score each candidate language by
    * how many of its marker words occur in the doc's token set; highest
    * score wins, ties broken by language-code order. A real system swaps in
    * character-n-gram profiles; the *shape* (per-row score + argmax, no
    * shuffle) is the scale path.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "los", "que", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"),
    "zh" -> Seq("de5", "shi4", "le5", "bu4", "wo3", "zai4")
  )

  def langId(toks: Column): Column = letOnce(array_distinct(toks)) { distinctToks =>
    val scored = langMarkers.map { case (lang, markers) =>
      val score = markers.map(m => when(array_contains(distinctToks, m), 1).otherwise(0))
        .reduce(_ + _)
      (lang, score)
    }
    // argmax with deterministic lang-code tie-break: fold left keeping the
    // strictly-greater score so earlier codes win ties
    scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in", "it", "that", "on")

  /** Heuristic quality features + composite score, all exact-arithmetic
    * ratios of integers (cross-engine deterministic after round). */
  /** Frozen-weight linear quality model over [[qualityFeatures]] — the
    * q133 classifier, shared with q139's ingest curation. Emits
    * the ROUNDED logit; the keep decision is `qualityLogit(text) > 0`.
    * (Deliberately no sigmoid: same decision boundary, and the bit-exact
    * oracle contract never has to assume libm `exp` rounding.) */
  def qualityLogit(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    round(lit(8.0d) * f("stopword_ratio") + lit(5.0d) * f("alpha_ratio") +
      lit(-1.0d) * f("avg_token_len") +
      lit(0.25d) * log(f("n_tokens").cast("double")) + lit(-0.85d), 6)
  }

  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    // per-column letOnce: columns are independent expressions, so sharing
    // has to happen inside each one (cross-column subexpression elimination
    // only exists under codegen, which the HOFs here opt out of)
    val nTok = size(tokens(text))
    val nChar = length(normText(text))
    Seq(
      "n_tokens" -> nTok,
      "n_chars_norm" -> nChar,
      "stopword_ratio" -> letOnce(tokens(text)) { tk =>
        round(size(filter(tk, t => t.isin(stopwords.map(lit(_)): _*))).cast("double")
          / size(tk), 6)
      },
      "alpha_ratio" -> letOnce(normText(text)) { nm =>
        round(length(regexp_replace(nm, "[^a-z]", "")).cast("double") / length(nm), 6)
      },
      "avg_token_len" -> letOnce2(size(tokens(text)).cast("long"), nChar.cast("long")) {
        (nt, nc) => round((nc - (nt - 1)).cast("double") / nt, 6)
      }
    )
  }
}
