package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernels for large-scale training-data pipelines: tokenizing,
  * shingling, fingerprinting, quality scoring, language id. All pure Column
  * expressions (codegen'd, no UDFs) so they stream through whole-stage
  * codegen at 100 TB — the hot path never leaves Tungsten. */
object Text {

  /** Whitespace word tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(text), " +")

  /** Distinct n-word shingles (1-based positions, matching the SQL oracle
    * formulation exactly). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(tokens(text), n)

  /** n-word shingles in one fused codegen'd loop
    * (`functions.ShinglesExpr`): position-ordered first-occurrence
    * distinct n-grams, trailing partials dropped — bit-identical to the
    * zip_with-chain formulation it replaces (which ran n-1 interpreted
    * element-wise passes, each allocating intermediate strings). The
    * tokenizer stays on the native `split`/`lower` builtins. */
  def shinglesOfTokens(w: Column, n: Int): Column =
    graft.functions.TextKernels.shinglesOfTokens(w, n)

  /** Stable 128-bit content fingerprint of the exact text. */
  def contentHash(text: Column): Column = md5(text)

  /** Canonical form for character-level fingerprinting: lowercase,
    * alphanumerics only — whitespace, punctuation and formatting changes
    * don't move k-gram boundaries (the normalization MOSS-style
    * fingerprinting expects). */
  def fingerprintNormalize(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9]", "")

  /** Winnowing fingerprint set of the normalized text (rolling-hash
    * k-grams, rightmost-min-per-window selection; see
    * `functions.WinnowFingerprintsExpr`). Any shared substring of
    * >= w + k - 1 normalized chars guarantees a shared fingerprint. */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 12): Column =
    graft.functions.TextKernels.winnowFingerprints(
      fingerprintNormalize(text), k, w)

  /** Distinct character n-grams of the raw text (1-based substring
    * positions — the formulation a SQL oracle mirrors with
    * generate_series + substr). */
  def charNgrams(text: Column, n: Int = 3): Column =
    graft.functions.TextKernels.charNgrams(text, n)

  /** Order/duplicate-insensitive document fingerprint: md5 of the sorted
    * distinct token multiset — collapses word-permuted near-duplicates. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(trim(text), " +"))

  /** BPE-ish subword count estimate: alphanumeric runs + individual
    * punctuation marks (a cheap stand-in for a real tokenizer's token count,
    * linear scan, codegen'd). RE2-compatible pattern (no lookahead) so the
    * DuckDB oracle can replicate it exactly. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Quality-score features: length, punctuation ratio, stopword ratio,
    * mean word length — the standard cheap heuristics for corpus filtering. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, " +", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "for")

  def stopwordRatio(text: Column): Column = {
    val w = tokens(text)
    size(array_intersect(w, array(enStop.map(lit): _*))).cast("double") /
      greatest(size(w), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1] (higher = more natural-language-like).
    * Weights are heuristic, mirroring common corpus-filter recipes. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctOk = when(punctRatio(text) < 0.1, 1.0).otherwise(0.3)
    val wordOk = when(meanWordLen(text).between(2.0, 12.0), 1.0)
      .otherwise(0.2)
    round(lenScore * 0.4 + punctOk * 0.3 + wordOk * 0.3, 4)
  }

  // ---- Gopher/C4-style repetition and structure filters -------------------
  // (the standard corpus-filter features beyond the scalar quality score:
  // repeated-line fraction, repeated top n-gram fraction, symbol/word
  // ratio, bullet- and ellipsis-line fractions — each a pure codegen'd
  // Column so a 100 TB filter pass stays one narrow scan)

  private def lines(text: Column): Column = split(text, "\n")

  /** Fraction of lines that are duplicates of an earlier line. */
  def duplicateLineFraction(text: Column): Column = {
    val ls = lines(text)
    (size(ls) - size(array_distinct(ls))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  /** Fraction of (whitespace) words inside the single most-repeated
    * word n-gram (Gopher's "top n-gram fraction"): modal n-gram count ×
    * n / word count. Modal count = longest equal run of the SORTED
    * n-gram stream — O(w log w) per row, no quadratic per-gram recount.
    *
    * Grams build from a chain of n-1 `zip_with`s over the token array
    * and its shifted slices, NOT a transform-over-indices whose lambda
    * slices the token expression: a subexpression CAPTURED inside a HOF
    * lambda is re-evaluated interpreted per element, so the index
    * formulation re-split the full text once per gram — O(chars·words)
    * per row, found melting a 1000-doc concat group at sf1. zip_with's
    * array children evaluate once per row. */
  def topNgramFraction(text: Column, n: Int = 2): Column = {
    val w = tokens(text)
    val total = size(w)
    // grams_k[i] = words i..i+k-1 joined; rows past m-k go null via
    // zip_with's shorter-side padding and null-propagating concat
    val grams = (2 to n).foldLeft(w)((acc, k) =>
      zip_with(acc,
        slice(w, lit(k), greatest(total - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b)))
    val sortedGrams = array_sort(filter(grams, _.isNotNull))
    val best = aggregate(sortedGrams,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1).otherwise(1)
        struct(x.as("prev"), run.as("run"),
          greatest(run, acc("best")).as("best"))
      })("best")
    when(total >= n,
      least(best * n / total.cast("double"), lit(1.0)))
      .otherwise(0.0)
  }

  /** Non-alphanumeric, non-space symbols per word (Gopher's
    * symbol-to-word ratio; '#' and ellipsis dominate machine text). */
  def symbolToWordRatio(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Fraction of lines starting with a bullet marker. */
  def bulletLineFraction(text: Column): Column = {
    val ls = lines(text)
    size(filter(ls, l => trim(l).rlike("^[-*•]"))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  /** Fraction of lines ending in an ellipsis. */
  def ellipsisLineFraction(text: Column): Column = {
    val ls = lines(text)
    size(filter(ls, l => trim(l).endsWith("..."))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  // ---- PII redaction (the standard pre-training scrub pass) -------------
  // RE2-compatible patterns (no lookarounds/backrefs) so the DuckDB
  // oracle replicates the scrub byte-for-byte; one codegen'd
  // regexp_replace chain, no shuffle — a pure narrow pass at any scale.

  private[pipeline] val EmailRe =
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[pipeline] val Ipv4Re =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private[pipeline] val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Replace emails, IPv4 addresses and phone-shaped digit runs with
    * typed placeholders. Email first (its local part contains digits a
    * later pass would mangle), then IP (dots exclude it from the phone
    * class), then phone. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII matches per kind, for scrub-rate monitoring. */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("emails"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).as("ips"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).as("phones"))

  /** HTML-to-text extraction for web-crawl ingestion: drop script and
    * style elements wholesale, strip the remaining tags, decode the
    * five predefined entities, and collapse runs of whitespace. All
    * RE2-compatible regex passes (no backrefs/lookarounds) over one
    * codegen'd chain — a SQL engine replays the extraction
    * byte-for-byte, and a 100 TB crawl pass stays one narrow scan.
    * (Lightweight by design — readability-style main-content scoring
    * is a model concern, not an engine one.) */
  def stripHtml(html: Column): Column = {
    // (?is): case-insensitive, dot-matches-newline — both RE2-safe
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    // '&amp;' decodes LAST: double-encoded entities ('&amp;lt;' = the
    // literal text '&lt;') must not be re-decoded by a later pass
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) =>
        regexp_replace(c, e, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Overlapping character-window chunking (the RAG/embedding-prep
    * pass): windows of `size` chars starting every `step` chars
    * (overlap = size - step), 1-based starts, trailing windows kept
    * short. One generator pass — sequence + posexplode + substr are
    * all codegen'd; no shuffle, no state. */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, size: Int, step: Int)
      : org.apache.spark.sql.DataFrame = {
    require(size > 0 && step > 0, "size and step must be positive")
    df.filter(length(col(text)) > 0)
      .select(col(id), col(text).as("__t"),
        posexplode(sequence(lit(1), length(col(text)), lit(step)))
          .as(Seq("chunk_idx", "__st")))
      .select(col(id), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__st").cast("long").as("start"),
        col("__t").substr(col("__st"), lit(size)).as("chunk"))
  }

  /** Compression-ratio quality signal: deflate(level 6) size over raw
    * UTF-8 size, rounded to 4 decimals. Template/boilerplate text
    * compresses far below natural prose and random gibberish above it —
    * the standard cheap complement to the token-level features. The one
    * UDF in this file (byte-level zlib has no Column form); still a
    * narrow per-row pass with no shuffle. Deterministic for a fixed JDK
    * zlib, so golden oracles hold per environment. */
  val deflateRatio: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (s: String) =>
      if (s == null) None
      else {
        val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (raw.isEmpty) Some(0.0)
        else {
          val d = new java.util.zip.Deflater(6)
          d.setInput(raw); d.finish()
          // worst case: stored blocks add ~5 bytes per 16 KiB + header
          val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
          d.end()
          Some(math.round(n.toDouble / raw.length * 10000.0) / 10000.0)
        }
      }
    }

  /** Language id: CJK codepoint detection + per-language stopword voting —
    * the classic cheap n-gram-free heuristic. Returns a language code. */
  def langId(text: Column): Column = {
    val stops: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"),
      "es" -> Seq("el", "los", "las", "es", "una", "que", "por", "como"))
    val w = tokens(text)
    val scores = stops.map { case (lang, ws) =>
      lang -> size(array_intersect(w, array(ws.map(lit): _*)))
    }
    // Argmax as ONE array_max over (score, -listRank, lang) structs —
    // bit-identical to the when(s > acc.s, ...).otherwise(acc) fold it
    // replaces (struct ordering is field-by-field: max score wins,
    // ties go to the EARLIEST language in `stops` order via -rank),
    // with the old `when(best.s > 0, best.l).otherwise("und")` arm
    // folded in as a sentinel element: (s=0, rank +1) beats every
    // language at s <= 0 and loses to any s >= 1 — exactly "und" iff
    // no score is positive. The fold form duplicated the accumulated
    // expression tree at every level (acc appears in both the
    // condition and the otherwise, and codegen does NOT share
    // subexpressions across when branches), re-evaluating the
    // intersect votes ~2^(langs-1) times per row — measured 8x the
    // cost of evaluating them once (noop-sink decomposition, r18);
    // PipelineSpec pins this against the fold row for row.
    val best = array_max(array(
      struct(lit(0).as("s"), lit(1).as("r"), lit("und").as("l")) +:
        scores.zipWithIndex.map { case ((lang, s), i) =>
          struct(s.as("s"), lit(-i).as("r"), lit(lang).as("l"))
        }: _*))
    when(length(regexp_replace(text, "[^\\x{4E00}-\\x{9FFF}]", "")) >
        length(text) * 0.2, "zh")
      .otherwise(best("l"))
  }

  /** Corpus vocabulary with document/term frequencies and IDF —
    * the tf-idf/vocab-induction primitive. One explode + one
    * hash-partitioned groupBy on the token (uniform keys); `docCount`
    * arrives as a literal so the plan stays a single aggregation.
    * Call it as `vocab(df, id, text, df.count())`. */
  def vocab(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      docCount: Long, minDocFreq: Long = 1)
      : org.apache.spark.sql.DataFrame =
    df.select(col(id).as("doc"), explode(tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(countDistinct(col("doc")).as("doc_freq"),
        count(lit(1)).as("term_freq"))
      .filter(col("doc_freq") >= minDocFreq)
      .withColumn("idf",
        round(log(lit(docCount.toDouble) / col("doc_freq")), 6))

  /** Top-`k` tf-idf terms per document. The corpus is tokenized ONCE:
    * the (doc, token, tf) aggregate is materialized, and because it has
    * exactly one row per (doc, token), the document frequency is just
    * its per-token row count — idf derives from tf with a second cheap
    * aggregation instead of a second corpus scan. The idf side is
    * vocabulary-sized (broadcastable); ranking is a doc-bounded window
    * with deterministic ties (score desc, token asc). */
  def tfidfTopK(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, docCount: Long, k: Int, minDocFreq: Long = 2)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(id).as("doc"), explode(tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val tfPinned = // consumed by idf derivation AND the join
      Materialize.fanout(tf)
    val v = tfPinned.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
      .withColumn("idf",
        round(log(lit(docCount.toDouble) / col("df")), 6))
      .select(col("token"), col("idf"))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("score").desc, col("token").asc)
    tfPinned.join(v, Seq("token"))
      .withColumn("score", round(col("tf") * col("idf"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc").as(id), col("rk"), col("token"), col("score"))
  }

  /** Per-document-distinct bigram document frequencies, top k (count
    * desc, bigram asc — fully deterministic): the quick
    * corpus-inspection profile. `shingles` dedups per doc, so `n`
    * counts DOCUMENTS containing the bigram. */
  def topBigrams(df: org.apache.spark.sql.DataFrame, text: String,
      k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(shingles(col(text), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** 64-bit SimHash over token md5s: per-bit majority vote, codegen'd
    * bit-twiddling (no UDF). Near-duplicates differ in few bits. */
  def simHash64(text: Column): Column = {
    val w = array_distinct(tokens(text))
    // hash every token ONCE (the hash array is referenced exactly once, so
    // Catalyst cannot duplicate the md5 subtree), then accumulate all 60
    // per-bit vote counters in a single aggregate pass over the tokens
    val hs = transform(w, t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val counts = aggregate(hs, array_repeat(lit(0), 60), (acc, h) =>
      zip_with(acc, sequence(lit(0), lit(59)), (c, b) =>
        c + (h.bitwiseAND(pow(lit(2.0), b).cast("long")) =!= 0L)
          .cast("int")))
    // majority vote per bit -> set bit b (2^b exact in double for b<63)
    aggregate(
      zip_with(counts, sequence(lit(0), lit(59)), (c, b) =>
        when(c * 2 > size(w), pow(lit(2.0), b).cast("long")).otherwise(0L)),
      lit(0L), (a, v) => a + v)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDist64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Unicode normalization (NFC by default) — the encoding-hygiene
    * pass before char-level dedup: composed ("é") and decomposed
    * ("e"+U+0301) sequences hash differently while rendering
    * identically. Codegen'd (see `functions.NormalizeUnicodeExpr`). */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.functions.TextKernels.normalizeUnicode(text, form)

  /** Fraction of n-gram start positions whose gram already occurred
    * earlier in the SAME document — the intra-document repetition
    * signal (degenerate boilerplate loops, copy-paste padding) that
    * line-level Gopher rules miss when the repeat unit spans lines.
    * Pure per-row expression over the rolling-hash kernel: no shuffle,
    * no self-join. 0.0 for docs shorter than n. */
  def selfRepetitionFraction(text: Column, n: Int = 20): Column = {
    val gh = graft.functions.TextKernels.gramHashes(text, n)
    when(size(gh) > 0,
      (size(gh) - size(array_distinct(gh))).cast("double") / size(gh))
      .otherwise(lit(0.0))
  }

  // ---- URL hygiene (crawl-pipeline canonicalization) ----------------------

  /** Lowercased host of a URL, ports and userinfo stripped. */
  def urlHost(url: Column): Column =
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)),
      "^[^@]*@", ""), ":[0-9]+$", "")

  /** Apex domain heuristic: the last two host labels (no public-suffix
    * list by the zero-dependency policy — document the caveat for
    * co.uk-style suffixes). */
  def urlDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Canonicalized URL for crawl dedup: fragment dropped; scheme+host
    * lowercased (path case preserved); explicit :80/:443 ports
    * stripped; tracking params (utm_*, fbclid, gclid) dropped; the
    * surviving query params sorted; empty path becomes "/". Pure
    * string/array builtins — the DuckDB oracle replays every step. */
  def urlNormalize(url: Column): Column = {
    val base = regexp_replace(url, "#.*$", "")          // strip fragment
    val schemeHost = regexp_replace(
      lower(regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
      ":(80|443)$", "")
    val rest = regexp_extract(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val normPath = when(path === "", lit("/")).otherwise(path)
    val params = filter(split(regexp_extract(rest, "\\?(.*)$", 1), "&"),
      p => p =!= "" && !p.rlike("^(utm_[a-z]+|fbclid|gclid)="))
    val qs = when(size(params) > 0,
      concat(lit("?"), array_join(array_sort(params), "&")))
      .otherwise(lit(""))
    concat(schemeHost, normPath, qs)
  }

  /** Per-domain document cap (crawl-balance sampling): keep at most
    * `cap` docs per domain, the smallest `id`s winning — bounds any
    * single domain's share of the corpus. One hash shuffle on the
    * domain key; a skewed mega-domain is bounded by the cap itself. */
  def domainCap(df: org.apache.spark.sql.DataFrame, id: String,
      domain: Column, cap: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(domain).orderBy(col(id).asc)
    df.withColumn("__dom_rn", row_number().over(w))
      .filter(col("__dom_rn") <= cap).drop("__dom_rn")
  }

  /** C4-style blocklist screen: per-doc hit counts against a
    * word/phrase list, matched on whitespace-token boundaries (the
    * published "bad words" filter matches words, not substrings — no
    * Scunthorpe false positives). Single words match tokens; multiword
    * phrases match token n-grams of their own length.
    *
    * Scale shape: the pattern list is driver-supplied and small by
    * nature — it broadcasts, and the corpus is touched in one generator
    * pass per distinct phrase LENGTH (unigram hits plus one n-gram
    * stream per length actually present in the list), each a narrow
    * codegen'd explode + broadcast join, then one map-side-combined
    * per-doc count. Nothing scales with the pattern count beyond the
    * broadcast.
    *
    * Returns (id, n_hits = matching token/gram occurrences,
    * n_patterns = distinct patterns hit) for docs with >= 1 hit; drop
    * these ids (or threshold on n_hits) to apply the filter. */
  def blocklistHits(df: org.apache.spark.sql.DataFrame, id: String,
      text: String, patterns: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // canonicalize internal whitespace too: grams are single-space
    // joined, so a pattern written "a  b" must still match "a b"
    val normed = patterns.map(_.toLowerCase.trim.split("\\s+").toSeq)
      .filter(_.exists(_.nonEmpty)).map(_.mkString(" ")).distinct
    require(normed.nonEmpty, "empty blocklist")
    val byLen = normed.groupBy(_.split(" ").length)
    val streams = byLen.toSeq.sortBy(_._1).map { case (len, ps) =>
      val pat = broadcast(ps.toDF("g"))
      val w = tokens(col(text))
      // fused bag n-gram kernel (TokenNgramsExpr): the builtin
      // transform/slice/array_join chain ran an interpreted lambda per
      // gram — GC-bound and 3-8× slower at corpus scale
      val grams =
        if (len == 1) w
        else graft.functions.TextKernels.tokenNgrams(w, len)
      df.select(col(id).as("doc"), explode(grams).as("g"))
        .join(pat, Seq("g"))
    }
    streams.reduce(_ unionByName _)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("g")).as("n_patterns"))
      .select(col("doc").as(id), col("n_hits"), col("n_patterns"))
  }
}
