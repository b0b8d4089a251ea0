package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (n-gram heuristic), quality scoring, token counting, rolling-hash
  * fingerprinting. Builtins only — everything stays in whole-stage codegen.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish token count: word pieces + digits + punctuation singles,
    * approximating a GPT-style pre-tokenizer regex. */
  def tokenCountBpe(text: Column): Column =
    size(filter(
      split(text, "(?=[\\p{P}\\p{S}])|(?<=[\\p{P}\\p{S}])|\\s+"),
      t => length(t) > 0))

  /** Top-k corpus vocabulary: single-space tokens (lowercased), counted
    * with map-side partial aggregation; top-k runs as TakeOrdered
    * (per-partition heaps + driver merge — never a full global sort), ties
    * broken by token for determinism. The corpus-statistics primitive for
    * vocabulary/boilerplate inspection. */
  def topTokens(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    df.select(explode(split(lower(text), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
  }

  /** Per-document top-k salient terms by an integer-exact tf-idf score:
    * score = tf · floor(nDocs · idfScale / df). tf = in-document term count,
    * df = number of documents containing the term, nDocs = corpus size —
    * all exact integers, so the ranking is bit-identical across engines.
    * The floating log() of textbook idf is deliberately replaced by the
    * rational nDocs/df at a fixed scale: log is monotone, so the WITHIN-
    * document ranking it induces is the same, and integer arithmetic is
    * reproducible where cross-engine libm is not. Tokenization matches
    * [[topTokens]] (single-space split, lowercased); ties rank by token
    * ascending; `rnk` is long (DuckDB's ROW_NUMBER is BIGINT).
    *
    * Plan shape at scale: tokenize → (doc,term) groupBy (one shuffle,
    * map-side combined) → term groupBy for df (second shuffle, combined) →
    * shuffle equi-join tf⋈df on term (the vocabulary is NOT assumed
    * broadcastable at 100 TB) → per-document window on the high-cardinality
    * doc key. The corpus count joins in as a broadcast single-row frame —
    * no driver collect. nDocs·idfScale must fit in a long (9.2e18). */
  def tfIdfTopTerms(df: DataFrame, id: Column, text: Column, k: Int,
                    idfScale: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(idfScale >= 1, "idfScale must be >= 1")
    val toks = df.select(id.cast("long").as("doc_id"),
        explode(split(lower(text), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * expr(s"(n_docs * CAST($idfScale AS BIGINT)) div df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rnk")
  }

  /** Quality-score components: length, punctuation ratio, stopword ratio,
    * uppercase ratio, digit ratio, mean word length. Returns a struct. */
  def qualityFeatures(text: Column): Column = {
    val n = length(text).cast("double")
    val nPunct = (n - length(regexp_replace(text, "[\\p{P}]", ""))).cast("double")
    val nUpper = (n - length(regexp_replace(text, "[A-Z]", ""))).cast("double")
    val nDigit = (n - length(regexp_replace(text, "[0-9]", ""))).cast("double")
    val words = filter(split(lower(text), "[^a-z']+"), w => length(w) > 0)
    val nWords = size(words).cast("double")
    val stop = typedLit(Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as", "was", "at", "by", "be", "this"))
    val nStop = size(filter(words, w => array_contains(stop, w))).cast("double")
    struct(
      n.as("n_chars"),
      nWords.as("n_words"),
      when(n > 0, nPunct / n).otherwise(0.0).as("punct_ratio"),
      when(n > 0, nUpper / n).otherwise(0.0).as("upper_ratio"),
      when(n > 0, nDigit / n).otherwise(0.0).as("digit_ratio"),
      when(nWords > 0, nStop / nWords).otherwise(0.0).as("stopword_ratio"),
      when(nWords > 0, (n - nWords + 1) / nWords).otherwise(0.0).as("mean_word_len"))
  }

  /** Scalar quality score in [0,1]: heuristic blend of the features —
    * long-enough, punctuated-but-not-too-much, some stopwords (prose-like). */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f.getField("n_chars") / 500.0, lit(1.0))
    val punctOk = when(f.getField("punct_ratio").between(0.005, 0.15), 1.0).otherwise(0.3)
    val stopOk = when(f.getField("stopword_ratio").between(0.1, 0.7), 1.0).otherwise(0.4)
    val digitOk = when(f.getField("digit_ratio") < 0.3, 1.0).otherwise(0.2)
    round((lenScore * 0.4 + punctOk * 0.25 + stopOk * 0.25 + digitOk * 0.1), 4)
  }

  /** Integer quality score in basis points [0, 10000]: the same heuristic
    * blend as [[qualityScore]] but with every ratio test cross-multiplied
    * into exact integer arithmetic — bit-identical across engines (the
    * DuckDB oracle replays it; float rounding rules differ across engines,
    * integer comparisons don't). Weights: length 40%, punctuation 25%,
    * stopwords 25%, digits 10%.
    */
  def qualityScoreBp(text: Column): Column = {
    val n = length(text)
    val nPunct = n - length(regexp_replace(text, "[\\p{P}]", ""))
    val nDigit = n - length(regexp_replace(text, "[0-9]", ""))
    val words = filter(split(lower(text), "[^a-z']+"), w => length(w) > 0)
    val nWords = size(words)
    val stop = typedLit(Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as", "was", "at", "by", "be", "this"))
    val nStop = size(filter(words, w => array_contains(stop, w)))
    (least(n, lit(500)) * 8
      + when(nPunct * 200 >= n && nPunct * 20 <= n * 3, 2500).otherwise(750)
      + when(nWords > 0 && nStop * 10 >= nWords && nStop * 10 <= nWords * 7, 2500).otherwise(1000)
      + when(nDigit * 10 < n * 3, 1000).otherwise(200)).cast("long")
  }

  /** Language-ID heuristic over character classes + frequent-word hits for a
    * small language set (en/de/fr/es + cjk/other by script). Deterministic,
    * codegen'd; a real model would slot in as a mapInPandas stage. */
  def langIdHeuristic(text: Column): Column = {
    val t = lower(text)
    val words = filter(split(t, "[^\\p{L}']+"), w => length(w) > 0)
    def hits(ws: Seq[String]): Column =
      size(filter(words, w => array_contains(typedLit(ws), w))).cast("double")
    val nW = greatest(size(words).cast("double"), lit(1.0))
    val en = hits(Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "sich"))
    val fr = hits(Seq("le", "la", "les", "et", "est", "une", "pour", "que", "dans", "pas"))
    val es = hits(Seq("el", "la", "los", "y", "es", "una", "por", "que", "con", "para"))
    val cjkChars = length(regexp_replace(text, "[^\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}]", ""))
    when(cjkChars > length(text) / 4, lit("cjk"))
      .when(en >= de && en >= fr && en >= es && en / nW > 0.02, lit("en"))
      .when(de >= fr && de >= es && de / nW > 0.02, lit("de"))
      .when(fr >= es && fr / nW > 0.02, lit("fr"))
      .when(es / nW > 0.02, lit("es"))
      .otherwise(lit("other"))
  }

  /** One left-to-right BPE merge of the adjacent symbol pair (a, b): fold
    * over the symbol array, looking BACK at the last emitted symbol — after
    * a merge the tail becomes "ab" ≠ "a", so overlapping merges ("aaaa"
    * with pair (a,a) → "aa","aa") resolve greedily left-to-right with no
    * skip flag. Builtins only (aggregate/slice/element_at — codegen'd). */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (out, x) =>
        when(size(out) > 0 && element_at(out, -1) === lit(a) && x === lit(b),
          concat(slice(out, lit(1), size(out) - 1), array(lit(a + b))))
          .otherwise(concat(out, array(x))))

  /** Character symbols of a word plus the end-of-word marker — the classic
    * BPE initial state (word-final merges stay distinct from mid-word). */
  private def charSyms(w: Column): Column =
    concat(transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))),
      array(lit("</w>")))

  /** Adjacent symbol pairs of a symbol array (empty for a lone symbol —
    * guarded because Spark's sequence(0, -1) DESCENDS rather than being
    * empty). */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2), i =>
        struct(element_at(syms, i + 1).as("a"), element_at(syms, i + 2).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Train a byte-pair-encoding tokenizer on the corpus (Sennrich, Haddow
    * & Birch, ACL'16): start from character symbols (+ the `</w>`
    * end-of-word marker), then `merges` times merge the corpus-wide
    * most-frequent adjacent symbol pair. Returns the ordered merge table
    * (round, a, b, merged, n) — the trained tokenizer artifact.
    *
    * Distributed shape: ONE corpus shuffle builds the word histogram
    * (map-side combined count — the classic wordpiece trick: BPE statistics
    * only need per-WORD counts, so all further rounds run on the
    * vocabulary-sized state, not the corpus). Each round is one
    * vocabulary-sized pair aggregation + a 1-row argmax collect + a
    * map-only merge rewrite, `localCheckpoint` per round (the iterative-
    * plan-nesting rule). The driver holds k·3 strings — nothing
    * corpus-sized. Determinism: argmax orders by (count desc, a, b) —
    * binary string order, identical in the DuckDB replay (ASCII corpus).
    *
    * Requires at least `merges` rounds' worth of pairs (a corpus that
    * fully collapses earlier throws rather than silently under-training).
    */
  def bpeTrain(df: DataFrame, text: Column, merges: Int): DataFrame = {
    require(merges >= 1, "merges must be >= 1")
    val spark = df.sparkSession
    val wh = df
      .select(explode(filter(split(lower(text), " "), t => length(t) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(charSyms(col("w")).as("syms"), col("cnt"))
    // lazy checkpoints: the plan still truncates per round (the iterative
    // plan-nesting rule) but materialization folds into the round's argmax
    // collect — one driver job per round instead of two
    var state = wh.localCheckpoint(false)
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    while (r <= merges) {
      val win = state
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      require(win.nonEmpty,
        s"bpeTrain: corpus fully merged after ${r - 1} rounds — lower `merges`")
      val (a, b, n) = (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
      out += ((r.toLong, a, b, a + b, n))
      val next = state.select(mergeFold(col("syms"), a, b).as("syms"), col("cnt"))
        .localCheckpoint(false)
      state.unpersist()
      state = next
      r += 1
    }
    state.unpersist()
    import spark.implicits._
    out.result().toDF("round", "a", "b", "merged", "n")
  }

  /** Apply a trained merge list to text: per word, char symbols + `</w>`,
    * then each merge in training order — the BPE ENCODER for the
    * [[bpeTrain]] artifact. Returns the array of token arrays (one per
    * word). Builtins only; the k merge folds nest as expressions, so the
    * whole encode stays codegen-side with zero joins. */
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column =
    transform(
      filter(split(lower(text), " "), t => length(t) > 0),
      w => merges.foldLeft(charSyms(w)) { case (syms, (a, b)) => mergeFold(syms, a, b) })

  /** Token count under a trained BPE merge list. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(bpeSegment(text, merges), lit(0L), (acc, ts) => acc + size(ts))

  /** Unigram-LM surprisal scoring — the perplexity-filter primitive
    * (CCNet-style quality filtering: "drop documents whose tokens are
    * improbable under a corpus LM"), made integer-exact: a token's
    * surprisal is ⌊log2(nTotal / cnt(w))⌋ bits, computed as
    * `length(bin(nTotal div cnt)) − 1` — `bin` prints no leading zeros in
    * both engines, so the floor-log2 replays bit-identically (no float
    * log). Output per document: (doc_id, n_tokens, sum_surprisal,
    * mean_bp = ⌊10^4·sum/n⌋) — filter on mean_bp.
    *
    * Distributed shape: ONE map-side-combined count aggregation builds the
    * unigram table; the corpus total joins as a broadcast single-row frame
    * (no driver collect); tokens ⋈ vocabulary is a hash join on the token
    * (the q47 tf-idf rule: vocabulary NOT assumed broadcastable at 100 TB);
    * one per-document aggregation. Self-trained: the corpus scores itself —
    * rare-token-heavy documents surface with high mean surprisal. */
  def unigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.cast("long").as("doc_id"),
      explode(filter(split(lower(text), " "), t => length(t) > 0)).as("w"))
    val cnts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    // total token count derived from the already-aggregated vocabulary
    // frame, not a third scan of the corpus-sized token lineage: Σc over
    // cnts == count(toks) exactly, and the groupBy's exchange is shared
    // (ReuseExchange) — the corpus is split+exploded twice per run (counts,
    // final join), not three times
    val total = cnts.agg(sum(col("c")).as("n"))
    val sur = cnts.crossJoin(broadcast(total))
      .select(col("w"), (length(bin(Ann.fdiv(col("n"), col("c")))) - 1)
        .cast("long").as("s"))
    toks.join(sur, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("s").as("sum_surprisal"))
      .select(col("doc_id"), col("n_tokens"), col("sum_surprisal"),
        Ann.fdiv(col("sum_surprisal") * 10000L, col("n_tokens")).as("mean_bp"))
  }

  /** PII patterns shared by [[redactPii]]/[[piiScan]] and the SQL oracle:
    * deliberately restricted to the Java-regex ∩ RE2 common subset
    * (character classes, bounded counts, `\b` — no lookaround, no
    * backreferences) so the same pattern string replays identically in
    * DuckDB; parity validated on both engines incl. counts. */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRx = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val Ipv4Rx = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails / SSN-shaped ids / IPv4s to typed placeholder tokens.
    * Order matters and is part of the contract: SSN before IP keeps a
    * dash-digit run from being half-eaten; counts ([[piiScan]]) are taken
    * on the ORIGINAL text. Pure codegen'd `regexp_replace` chain. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRx), lit("<EMAIL>")),
        lit(SsnRx), lit("<SSN>")),
      lit(Ipv4Rx), lit("<IP>"))

  /** (redacted, n_email, n_ssn, n_ip) per row — the audit companion. */
  def piiScan(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.cast("long").as("doc_id"),
      redactPii(text).as("red"),
      regexp_count(text, lit(EmailRx)).cast("long").as("n_email"),
      regexp_count(text, lit(SsnRx)).cast("long").as("n_ssn"),
      regexp_count(text, lit(Ipv4Rx)).cast("long").as("n_ip"))

  /** Context-window chunking: split each document into fixed-token-count
    * chunks with overlap — the standard pretraining prep step ("pack 64-token
    * windows with 16-token stride"). Chunk starts are the arithmetic sequence
    * 0, c−o, 2(c−o), … while start < T (the final chunk may be shorter; a
    * document with fewer than c tokens yields exactly one chunk). Tokens are
    * the non-empty single-space split and chunks re-join with single spaces
    * (whitespace normalization is part of the contract). Output:
    * (doc_id, chunk_id, start, n_tokens, chunk). Pure map-side expressions —
    * one sequence + explode per document, zero shuffles, zero joins; the
    * chunk payload is sliced from the token array AFTER the explode so each
    * output row materializes only its own window. */
  def chunkTokens(df: DataFrame, id: Column, text: Column,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    df.select(id.cast("long").as("doc_id"),
        filter(split(text, " "), t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(step))).as("start"))
      .select(col("doc_id"),
        (col("start") / step).cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        least(lit(chunkSize), size(col("toks")) - col("start"))
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkSize)))
          .as("chunk"))
  }

  /** Rolling polynomial document fingerprint: h = h·31 + char over the first
    * `prefixLen` chars (wrapping 64-bit arithmetic via the fp64 kernel
    * expression — a builtin fold would trip ANSI overflow checks). */
  def fingerprint(text: Column, prefixLen: Int = 256): Column =
    graft.functions.st.fp64(text, prefixLen)

  /** EXACT distributed quantiles of an integer measure per group — the
    * calibration statistic behind every length/quality filter threshold
    * ("drop docs below the p10 of their source"). `percentile_approx` is
    * estimate-only; this is the exact order statistic, computed as one
    * per-group window rank + per-group count (one hash shuffle on the
    * group key, no sort beyond within-group, no driver collect) and a
    * semi-join-free filter: row at rank ⌈p·n⌉ (ties to the lowest id =
    * the classic lower discrete quantile on the (value, id) total order).
    * Percentiles are integer basis points (e.g. 5000 = p50) — the
    * thresholds replay bit-identically in any engine.
    *
    * Skew note: one window partition per group — for a single giant group
    * use [[graft.operators.Mixing]]'s shardKey + a two-level rank (the
    * q38 globalOrder recipe); source-sized groups don't need it. */
  def quantiles(df: DataFrame, group: Column, value: Column, id: Column,
                percentilesBp: Seq[Int]): DataFrame = {
    require(percentilesBp.nonEmpty && percentilesBp.forall(p => p >= 1 && p <= 10000),
      "percentiles are basis points in [1, 10000]")
    val w = Window.partitionBy("grp").orderBy(col("v").asc, col("rid").asc)
    val ranked = df.select(group.as("grp"), value.cast("long").as("v"),
        id.cast("long").as("rid"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
    // ceil(p·n/10000) without floats: (p·n + 9999) div 10000. One row per
    // requested percentile, matched in a SINGLE pass over the ranked frame
    // (a union of per-percentile filters would re-run the window k times)
    val matched = array(percentilesBp.distinct.sorted.map(p =>
      when(col("rnk") === expr(s"($p * n + 9999) div 10000"), lit(p.toLong))): _*)
    ranked
      .withColumn("pct_bp", explode(filter(matched, x => x.isNotNull)))
      .select(col("grp"), col("pct_bp"), col("v").as("value"))
  }

  /** (doc_id, pos, gram) for every word n-gram: tokens are the lowercased
    * single-space split (matching [[topTokens]]/[[tfIdfTopTerms]]), `pos` is
    * the 0-based token position of the gram's first word — contiguous
    * 0..T-n per document. Grams are formed with `lead` over ONE per-document
    * window (a single hash shuffle); building them as an expression forest
    * over the tokenized array would let CollapseProject re-inline the heavy
    * split() subtree once per gram element (the documented 100× MinHash
    * failure mode). */
  private def gramFrame(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val toks = df.select(id.cast("long").as("doc_id"),
      posexplode(filter(split(lower(text), " "), t => length(t) > 0))
        .as(Seq("pos", "token")))
    if (n == 1) toks.select(col("doc_id"), col("pos"), col("token").as("gram"))
    else {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val withLeads = (1 until n).foldLeft(toks) { (d, i) =>
        d.withColumn(s"__t$i", lead(col("token"), i).over(w))
      }
      withLeads.filter(col(s"__t${n - 1}").isNotNull)
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", col("token") +: (1 until n).map(i => col(s"__t$i")): _*).as("gram"))
    }
  }

  /** Intra-document repetition statistics — the Gopher-style "repetitious
    * document" quality filter (Rae et al. 2021 use duplicate-line and
    * duplicate-n-gram fractions; this is the n-gram form). Per document:
    * `n_grams` total word n-gram occurrences, `n_distinct` distinct grams,
    * `n_dup = n_grams - n_distinct` duplicated occurrences, `top_gram_n`
    * the hottest gram's count, and `dup_bp = ⌊n_dup·10000/n_grams⌋` — all
    * exact integers, so the filter threshold replays bit-identically in any
    * engine (a float ratio would not). Documents with fewer than `n` tokens
    * produce no row (they have no n-gram to repeat).
    *
    * Plan shape at scale: one per-document window (gram formation), one
    * map-side-combined (doc,gram) aggregation, one map-side-combined doc
    * rollup — no corpus-wide state, no driver collect. */
  def repetitionStats(df: DataFrame, id: Column, text: Column, n: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    gramFrame(df, id, text, n)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        (sum("c") - count(lit(1))).as("n_dup"),
        max("c").as("top_gram_n"))
      .withColumn("dup_bp", expr("(n_dup * 10000) div n_grams"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03): hash every word `k`-gram with the fp64 rolling hash, then
    * from every window of `w` consecutive gram hashes select the minimum —
    * the winnowing guarantee is that any shared substring of at least
    * `k + w - 1` tokens yields at least one shared fingerprint, at ~2/(w+1)
    * the density of full k-gram hashing. The local-fingerprint primitive
    * for substring-level contamination/plagiarism detection, where
    * MinHash's whole-document Jaccard is the wrong granularity.
    *
    * Returns (doc_id, fp, pos): the distinct selected hashes per document
    * and the first gram position bearing each. Documents with fewer than
    * `k + w - 1` tokens degenerate to one fingerprint = min over all their
    * grams (the `pos <= max(n_grams - w, 0)` guard keeps exactly the full
    * windows, plus the truncated window at pos 0 when none is full).
    *
    * Ties and determinism: min over 64-bit SIGNED hash values; `pos` is
    * the per-document minimum position of the hash — both total orders, so
    * output is bit-identical at any parallelism. The gram frame is
    * persisted once (two consumers — the window pass and the position
    * lookup — would otherwise re-run tokenization); released via
    * [[CacheTracker]]. */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(w >= 1, "w must be >= 1")
    val grams = CacheTracker.register(
      gramFrame(df, id, text, k)
        .select(col("doc_id"), col("pos"),
          graft.functions.st.fp64(col("gram"), 65536).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val byDoc = Window.partitionBy("doc_id")
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val sel = grams
      .withColumn("n_grams", count(lit(1)).over(byDoc))
      .withColumn("minh", min("h").over(frame))
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0)))
      .select(col("doc_id"), col("minh").as("fp")).distinct()
    val firstPos = grams.groupBy("doc_id", "h").agg(min("pos").as("p"))
    // both sides derive from `grams`: aliases keep their doc_id apart
    sel.as("s").join(firstPos.as("f"),
        col("s.doc_id") === col("f.doc_id") && col("s.fp") === col("f.h"))
      .select(col("s.doc_id"), col("s.fp"), col("f.p").cast("long").as("pos"))
  }
}
