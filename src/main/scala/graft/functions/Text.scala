package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text kernels for the LLM-data-pipeline operators (dedup, fingerprinting,
  * language ID, quality scoring) — all built from `org.apache.spark.sql
  * .functions` / SQL higher-order functions, zero UDFs, so everything stays
  * a native Catalyst expression evaluated per row with no serialization.
  *
  * The reference stops at scraping flat strings; these are the "Next Steps"
  * analytics its README declares (`README.md:95-100`) plus the driver's
  * north-star ops, designed for 100 TB: per-row expressions scale linearly
  * and shuffle nothing — candidate GENERATION (LSH banding) is the only
  * part that shuffles, and it shuffles band hashes, never document text.
  */
object Text {

  /** Normalize: lowercase, collapse whitespace runs, trim — the canonical
    * form for content-hash dedup (two-null-convention fix, SURVEY §1.2). */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Normalized word array. */
  def toWords(c: Column): Column = split(normText(c), " ")

  /** Word n-gram shingle SET (distinct) of a word-array column.
    * Empty array when the doc has fewer than n words (guarded explicitly:
    * `sequence(1, size-n+1)` would go DESCENDING for short docs — Spark
    * generates [1,0] when start > stop — and element_at(words, 0) throws). */
  def shingles(words: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(words) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(words, i + o)): _*))
    when(size(words) < n, array().cast("array<string>"))
      .otherwise(array_distinct(grams))
  }

  /** Portable 60-bit hash: first 15 hex chars of md5 as a BIGINT. Identical
    * in Spark and DuckDB (`('0x'||substr(md5(x),1,15))::BIGINT`), which is
    * what makes SimHash signatures oracle-verifiable. Slower than
    * xxhash64 — use [[fastHash]] where cross-engine equality isn't needed. */
  def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[portableHash]]'s one DuckDB spelling, over a VARCHAR expression:
    * every oracle that hashes a key interpolates this. */
  def portableHashSql(varchar: String): String =
    s"CAST(concat('0x', substr(md5($varchar), 1, 15)) AS BIGINT)"

  /** Non-portable 64-bit hash (xxhash64) — the production-path hash. */
  def fastHash(c: Column): Column = xxhash64(c)

  // ── MinHash ──────────────────────────────────────────────────────────────

  /** Mersenne prime 2^31-1; all minhash arithmetic stays < 2^62 (no
    * overflow in LongType). */
  val MinhashP: Long = 2147483647L

  /** Fixed affine-permutation constants (deterministic, seedless). */
  def minhashA(k: Int): Array[Long] =
    Array.tabulate(k)(j => (2654435761L * (j + 1)) % (MinhashP - 1) + 1)
  def minhashB(k: Int): Array[Long] =
    Array.tabulate(k)(j => (40503L * 65537L * (j + 1)) % MinhashP)

  /** Base hashes of a shingle set: xxhash64 mod P per shingle.
    *
    * EVALUATION-STAGING CONTRACT (applies to every multi-step kernel here):
    * higher-order array functions are interpreted, not codegen'd, and Spark
    * does NOT common-subexpression-eliminate across the k references a
    * downstream step makes — inlining this into [[minhashFromHashes]] would
    * re-hash every shingle k times (and nesting that into [[lshBands]]
    * squares it; r2 bench measured q18 going from minutes-hung to seconds
    * after staging). Materialize each step as its OWN projected column:
    * shingles → hashes → signature → bands. */
  def shingleHashes(shingleSet: Column): Column =
    transform(shingleSet, s => pmod(xxhash64(s), lit(MinhashP)))

  /** k-wide MinHash signature from a pre-staged [[shingleHashes]] column:
    * sig_j = min over shingles of (a_j*h + b_j) mod P — O(k·|shingles|)
    * arithmetic per row, no shuffle. The permutation-constant arrays are
    * literal-foldable (constant-folded once at plan time). */
  def minhashFromHashes(hs: Column, k: Int): Column = {
    val aArr = minhashA(k).mkString("array(", ",", ")")
    val bArr = minhashB(k).mkString("array(", ",", ")")
    transform(sequence(lit(0), lit(k - 1)), j =>
      array_min(transform(hs, h =>
        pmod(h * element_at(expr(aArr), j + 1).cast("long")
               + element_at(expr(bArr), j + 1).cast("long"), lit(MinhashP)))))
  }

  /** One-shot convenience: ONLY for single-use contexts — see the staging
    * contract on [[shingleHashes]] before composing this further. */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    minhashFromHashes(shingleHashes(shingleSet), k)

  /** LSH banding of a k-wide signature into `bands` bands of `rows` rows:
    * array of (band index, band hash) structs. Docs sharing ANY band bucket
    * become candidate pairs — candidates-only join, never all-pairs. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(
        b.as("band"),
        xxhash64(concat_ws(",",
          (1 to rows).map(r => element_at(sig, b * rows + r)): _*)).as("bh")))

  // ── SimHash ──────────────────────────────────────────────────────────────

  /** Per-word portable hashes — stage as a column before
    * [[simhash60FromHashes]] (see the staging contract on
    * [[shingleHashes]]: inlining re-md5s every word 60×). */
  def wordHashes(words: Column): Column =
    transform(words, w => portableHash(w))

  /** 60-bit SimHash from a pre-staged [[wordHashes]] column, built on
    * [[portableHash]] so the DuckDB oracle can reproduce it bit-for-bit.
    * Bit j is set iff the sum over words of ±1 (sign of hash bit j) is
    * >= 0. Integer sums are order-independent → deterministic on any
    * cluster. Bit positions are compile-time constants, so the 60 per-bit
    * vote aggregates unroll into one flat native expression tree. */
  def simhash60FromHashes(hw: Column): Column = {
    val bitExprs = (0 until 60).map { j =>
      val vote = aggregate(hw, lit(0L), (acc, h) =>
        acc + when(pmod(shiftright(h, j), lit(2L)) === 1, lit(1L))
                .otherwise(lit(-1L)))
      when(vote >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitExprs.reduce(_ + _)
  }

  /** One-shot convenience — single-use contexts only (staging contract). */
  def simhash60(wordsIn: Column): Column =
    simhash60FromHashes(wordHashes(wordsIn))

  /** Split a 60-bit simhash into 4 disjoint 15-bit chunks (band structs).
    * Pigeonhole: any pair with Hamming distance <= 3 shares at least one
    * identical chunk, so chunk-bucket candidates have NO false negatives. */
  def simhashChunks(sim: Column): Column = {
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("band"),
             pmod(shiftright(sim, c * 15), lit(32768L)).as("bh"))
    }
    array(chunks: _*)
  }

  // ── Quality / language heuristics ───────────────────────────────────────

  /** English stopword-hit count over a word array (tiny fixed list — the
    * n-gram-free language-ID heuristic). */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  def stopwordHits(words: Column): Column =
    size(filter(words, w => w.isin(EnStopwords.map(lit): _*)))

  /** Character-trigram set of an ALREADY-NORMALIZED text column (the
    * n-gram half of the language-ID heuristic): distinct 3-char substrings
    * including spaces, so word-boundary trigrams like "th " and " de"
    * carry signal.
    *
    * STAGING CONTRACT (see [[shingleHashes]]): pass an attribute or a
    * cheap column — the argument is referenced inside a per-position
    * lambda, so passing `normText(text)` directly re-runs the regex once
    * per character (measured 17 s at sf0.1 vs ~1 s staged).
    *
    * HOT PATHS: use [[Native.charTrigrams]] instead — one native pass,
    * child evaluated once, no staging contract (NativeSpec pins the
    * parity); this HOF form remains as the executable specification. */
  def charTrigrams(normed: Column): Column =
    when(length(normed) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(normed) - 2),
        i => substring(normed, i, lit(3)))))

  /** Tiny embedded char-trigram profiles (top function-word trigrams per
    * language — public linguistic common knowledge, no external data). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th ", " th", "the", "he ", " of", "of ", "nd ", " an",
                "and", "ing", " to", "to ", " in", "in "),
    "de" -> Seq("er ", " de", "der", "ie ", "die", "und", " un", "nd ",
                "ch ", "ein", " ei", "sch", "en ", " da"),
    "fr" -> Seq(" de", "de ", "le ", " le", "es ", "ent", " la", "la ",
                "et ", " et", "que", " qu", "ue ", "les"),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", "el ", " el", "que",
                " qu", "ue ", "en ", " en", "ión", "los"))

  /** Per-language trigram hit count over a [[charTrigrams]] set. */
  def langHits(trigrams: Column, lang: String): Column = {
    val profile = LangProfiles.toMap.apply(lang)
    size(array_intersect(trigrams, array(profile.map(lit): _*)))
  }

  /** Whitespace-token count of raw text. */
  def tokenCount(c: Column): Column = size(toWords(c))

  /** Punctuation character count (single regexp_replace diff — O(len),
    * no per-char lambda; benched equal to `regexp_count` at sf1, so the
    * form the DuckDB oracle mirrors 1:1 stays). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))

  /** BPE-ish token estimate: whitespace words + punctuation marks counted
    * as their own tokens. */
  def bpeishTokenCount(c: Column): Column =
    size(toWords(c)) + punctCount(c)

  /** Rolling-hash document fingerprint: the minimum portable hash over the
    * doc's word n-gram shingles (a 1-permutation MinHash — winnowing's
    * degenerate case). Equal fingerprints => shared rarest shingle. */
  def fingerprint(shingleSet: Column): Column =
    array_min(transform(shingleSet, s => substring(md5(s), 1, 15)))
}
