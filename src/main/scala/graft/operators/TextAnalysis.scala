package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — language ID, quality
  * scoring, token counting, fingerprinting (north-star training-data
  * pipeline ops; the reference's nearest analog is the tokenize/count
  * pattern of example_wordcount.py:14–17).
  *
  * Determinism: every cross-row aggregation of a floating-point quantity
  * is quantized to integer micro-units first (ln·10⁶, score·10⁶), so sums
  * are exact integer arithmetic — independent of partition order and
  * bit-identical in the DuckDB oracle.
  */
object TextAnalysis {

  // --------------------------------------------------------------------
  // Shared (doc, word) collapse — the text tier's one corpus scan.
  // langId keys its scoring by (doc_id, lang, w) and lmScore by
  // (doc_id, source, w); doc_id functionally determines BOTH lang and
  // source (one row per doc in `documents`), so one superset collapse
  // keyed (doc_id, lang, source, w) serves both queries with identical
  // row counts to their private forms. Session-memoized (StageMemo, the
  // dedup tier's machinery): a session running q31 and q68 tokenizes
  // and collapses the corpus ONCE — at real scale that is one full
  // corpus scan saved.
  //
  // doc_id is unique in `documents`, so every (doc_id, w) group lives
  // inside ONE input row: the collapse is row-local, and the historical
  // partial+final HashAggregate (which re-hashed the 4-column key once
  // per token occurrence and paid an exchange of the distinct pairs)
  // is replaced by a per-row counting kernel — ZERO exchanges in the
  // stage build (guide §2.4), the zipfian token trivially never keys a
  // shuffle (PlanSpec-asserted). Tokenization stays the oracle-pinned
  // SQL `split(lower(text), '\s+')`; only the counting is compiled.
  // --------------------------------------------------------------------
  /** Row-local (w, n) collapse of the LOWERED text: compiled tokenizer
    * ([[Tok.tokens]] ≡ the non-empty elements of `split(.., '\\s+')`)
    * + within-row counting in first-appearance order. Exactly the old
    * split → filter(len > 0) → groupBy(w) count, per row. */
  private val wordCountsUdf = udf { loweredText: String =>
    val toks = Tok.tokens(loweredText)
    val m = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      val prev = m.putIfAbsent(w, 1L)
      if (prev != null) { m.put(w, prev + 1L); () }
      i += 1
    }
    val out = new Array[(String, Long)](m.size)
    val e = m.entrySet().iterator()
    var j = 0
    while (e.hasNext) { val en = e.next(); out(j) = (en.getKey, en.getValue); j += 1 }
    out.toSeq
  }

  private[graft] def docWordsShared(documents: DataFrame): DataFrame =
    StageMemo.memoized(documents, "text:docWords", 0.0) {
      Widen.widen(documents)
        .select(col("doc_id"), col("lang"), col("source"),
          explode(wordCountsUdf(lower(col("text")))).as("wn"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("wn._1").as("w"), col("wn._2").as("n"))
    }

  // --------------------------------------------------------------------
  // Language ID: corpus-trained naive-Bayes unigram classifier.
  // Train: P(w|L) with add-one smoothing from (lang, word) counts —
  // one shuffle over (lang, word), profile size |V|·|L| (tiny; broadcast
  // side at scale). Score: docs join profiles on word, integer-quantized
  // log-likelihood sum, argmax per doc. Output: confusion matrix.
  // --------------------------------------------------------------------
  /** Languages a corpus may carry before the per-language score columns
    * of the broadcast path stop being reasonable (they become plan
    * width); past this the join fallback handles it. */
  private val MaxLangs = 200

  /** @param broadcastProfile the per-word profile is |V|·|L| entries —
    *   tiny for curated corpora, but an OPEN vocabulary at web scale grows
    *   with the corpus. true (default) broadcasts it, guarded by a loud
    *   error past `maxProfileRows` (instead of a mysterious broadcast
    *   OOM); false takes the join fallback: a plain shuffle join on the
    *   aggregated doc-word rows (O(distinct pairs) volume; AQE's skew
    *   handling covers stopword keys). */
  def langId(documents: DataFrame, broadcastProfile: Boolean = true,
             maxProfileRows: Long = 10000000L): DataFrame = {
    // The raw token stream is zipfian on `w` — a shuffle keyed by the token
    // itself would give the partition owning "the" a constant fraction of
    // the whole corpus. Instead, ONE aggregation keyed by (doc_id, lang, w)
    // collapses the stream map-side (partial+final HashAggregate) to
    // O(distinct (doc, word)) rows behind a well-distributed key, and every
    // other quantity — vocab size, per-lang totals, per-(lang, word)
    // profiles — derives from those aggregated rows. The stage itself is
    // session-memoized ([[docWordsShared]] — q68 reuses it), so every
    // consumer branch here reads the one cached collapse; no shuffle ever
    // carries raw token occurrences.
    val docWords = docWordsShared(documents)
      .select(col("doc_id"), col("lang"), col("w"), col("n"))
    // vocab size and per-lang totals both derive from the SMALL (lang,
    // word) aggregate, not from docWords again — the auxiliary branches
    // re-read a |V|·|L|-row exchange instead of the distinct-pairs one
    val counts = docWords.groupBy(col("lang").as("l"), col("w"))
      .agg(sum(col("n")).as("cw"))
    if (broadcastProfile) langIdBroadcast(docWords, counts, maxProfileRows)
    else langIdJoin(docWords, counts)
  }

  /** Broadcast scoring path: one dense |L|-wide log-prob vector per word,
    * WITH the smoothing floor folded in — vec_w[i] = lp(w|Lᵢ) when Lᵢ has
    * seen w, else lp0(Lᵢ) = the add-one floor ln(1/(totᵢ+v)). Then
    * score(doc, Lᵢ) = Σ_w n(w)·vec_w[i] EXACTLY — known terms and floor
    * terms in one sum — so the floor-completion join machinery of the
    * naive formulation (per-doc totals × language floors grid, left-join,
    * window argmax) disappears entirely. The whole query is: the memoized
    // doc-word collapse, a 1:1 broadcast join on `w` (no |L|× row
    * explosion — the old profile join multiplied every doc-word row by
    * the number of languages knowing the word), and ONE codegen'd hash
    * aggregate with |L| integer sum columns; the argmax is array_min over
    * |L| (−score, lang) structs (≡ ORDER BY score DESC, l ASC rank 1).
    * Integer micro-log-probs make every sum order-independent, so this
    * equals the grid formulation (and the DuckDB oracle) bit-for-bit.
    *
    * The per-language totals and vocab size arrive via one bounded driver
    * collect (|L| rows — the same class of bounded broadcast build as the
    * IVF centroids); tot+v become plan literals, and Catalyst constant-
    * folds each language's floor with the same `ln` the SQL path uses. */
  private def langIdBroadcast(docWords: DataFrame, counts: DataFrame,
                              maxProfileRows: Long): DataFrame = {
    // one action: per-language token totals × global vocab size (the
    // counts exchange is built once and reused by both branches)
    val stats = counts.groupBy(col("l")).agg(sum(col("cw")).as("tot"))
      .crossJoin(counts.agg(countDistinct(col("w")).as("v")))
      .collect()
    if (stats.isEmpty) // token-less corpus: empty confusion matrix
      return docWords.filter(lit(false))
        .select(col("lang"), col("lang").as("predicted"), lit(0L).as("cnt"))
    val v = stats.head.getLong(stats.head.fieldIndex("v"))
    val langs = stats.map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    require(langs.size <= MaxLangs && v * langs.size <= maxProfileRows,
      s"langId profile has ${v * langs.size} (|V|=$v × |L|=${langs.size}) " +
        s"> max $maxProfileRows for broadcast; call langId with " +
        "broadcastProfile = false")
    val idx = langs.zipWithIndex
    // pivot counts to one row per word: cw per language, then the dense
    // floor-inclusive log-prob vector. floor(double) is already BIGINT.
    val pivots = idx.map { case ((l, _), i) =>
      max(when(col("l") === l, col("cw"))).as(s"cw$i")
    }
    val vecCols = idx.map { case ((l, tot), i) =>
      val d = lit((tot + v).toDouble)
      coalesce(
        floor(log((col(s"cw$i") + lit(1.0)) / d) * lit(1000000.0) + lit(0.5)),
        floor(log(lit(1.0) / d) * lit(1000000.0) + lit(0.5))).as(s"v$i")
    }
    val vec = broadcast(counts.groupBy(col("w"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("w") +: vecCols: _*))
    val sums = idx.map { case (_, i) => sum(col("n") * col(s"v$i")).as(s"s$i") }
    val scored = docWords.join(vec, "w")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sums.head, sums.tail: _*)
    val cands = idx.map { case ((l, _), i) =>
      struct((-col(s"s$i")).as("ns"), lit(l).as("l"))
    }
    scored
      .select(col("lang"), array_min(array(cands: _*)).getField("l").as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Open-vocabulary fallback: profile stays distributed; the doc-word ⋈
    * profile shuffle join explodes each doc-word row across the languages
    * knowing the word, so the smoothing floor needs explicit completion.
    //
    // Words a language has NEVER seen must contribute the add-one
    // smoothing floor ln(1/(tot+v)) — joining on `w` alone would give an
    // unseen word a contribution of ZERO, biasing the argmax toward the
    // language that knows the FEWEST of a doc's words (one mildly
    // negative term beats fifty) and inverting the classifier for
    // partial-vocabulary overlaps. Each language's score is
    // Σ_known n·lp + (n_doc − n_known)·lp0.
    //
    // The naive completion materializes the |docs|·|L| grid (docTotals ×
    // langFloor, left-join known, window-sort argmax). None of that is
    // needed: a floor-only candidate (zero shared vocabulary) scores
    // ntot·lp0(l), and since ntot > 0 is constant within a doc, the best
    // floor-only candidate is the SAME language for every doc — the
    // global (max lp0, tie-break min l) champion. And every language
    // with ≥1 known word strictly beats its own floor (each known
    // occurrence adds ≥ ln2·10⁶ μ-units over lp0, so the rounded sums
    // cannot tie), so dropping the dominated floor rows of known
    // languages never changes the argmax, including ties: if the floor
    // champion's own language is known for some doc, its completed row
    // strictly dominates EVERY floor row of that doc, making the exact
    // grid's floor tier irrelevant there too. The argmax itself becomes
    // min(struct(-score, l)) — a hash aggregate with map-side partial
    // combine (≡ ORDER BY score DESC, l ASC rank 1) instead of a
    // |docs|·|L| window sort. Oracle parity is exact (the DuckDB twin
    // computes the full grid; see the dominance argument above). */
  private def langIdJoin(docWords: DataFrame, counts: DataFrame): DataFrame = {
    val vocabSize = counts.select(countDistinct(col("w")).as("v"))
    val langTotals = counts.groupBy(col("l")).agg(sum(col("cw")).as("tot"))
    val profile = counts
      .join(langTotals, "l")
      .crossJoin(vocabSize)
      // integer micro-log-prob: deterministic to sum in any order
      .select(col("l"), col("w"),
        expr("CAST(floor(ln((cw + 1.0) / (tot + v)) * 1000000 + 0.5) AS BIGINT)").as("lp"))
    val docTotals = docWords.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("ntot"))
    val langFloor = langTotals.crossJoin(vocabSize)
      .select(col("l"),
        expr("CAST(floor(ln(1.0 / (tot + v)) * 1000000 + 0.5) AS BIGINT)").as("lp0"))
    val known = docWords.join(profile, "w")
      .groupBy(col("doc_id"), col("lang"), col("l"))
      .agg(sum(col("n") * col("lp")).as("known_score"),
        sum(col("n")).as("n_known"))
    // completed scores only where the doc and language share vocabulary;
    // langFloor is |L| rows — broadcast; the (doc_id, lang) exchange here
    // is the tail's ONE data-sized shuffle, and the groupBy right after
    // reuses its partitioning (no further exchange)
    val bestKnown = known
      .join(broadcast(langFloor), "l")
      .join(docTotals, Seq("doc_id", "lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct(
        (-(col("known_score") + (col("ntot") - col("n_known")) * col("lp0"))).as("ns"),
        col("l"))).as("mk"))
    // the one floor candidate that can ever win: global max lp0, min l
    val floorBest = langFloor.orderBy(col("lp0").desc, col("l").asc).limit(1)
    val best = docTotals.crossJoin(broadcast(floorBest))
      .join(bestKnown, Seq("doc_id", "lang"), "left")
      .select(col("lang"),
        least(col("mk"),
          struct((-(col("ntot") * col("lp0"))).as("ns"), col("l")))
          .getField("l").as("predicted"))
    best.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("predicted"))
  }

  val langIdOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, t.w FROM documents,
      |       unnest(string_split_regex(lower(text), '\s+')) AS t(w)
      |  WHERE len(t.w) > 0),
      |v AS (SELECT count(DISTINCT w) AS v FROM toks),
      |totals AS (SELECT lang AS l, count(*) AS tot FROM toks GROUP BY 1),
      |profile AS (
      |  SELECT t.lang AS l, t.w,
      |         CAST(floor(ln((count(*) + 1.0) / (tot + v.v)) * 1000000 + 0.5) AS BIGINT) AS lp
      |  FROM toks t JOIN totals ON totals.l = t.lang, v
      |  GROUP BY t.lang, t.w, tot, v.v),
      |docwords AS (
      |  SELECT doc_id, lang, w, count(*) AS n FROM toks GROUP BY 1, 2, 3),
      |doctotals AS (
      |  SELECT doc_id, lang, CAST(SUM(n) AS BIGINT) AS ntot
      |  FROM docwords GROUP BY 1, 2),
      |floorlp AS (
      |  SELECT totals.l,
      |         CAST(floor(ln(1.0 / (tot + v.v)) * 1000000 + 0.5) AS BIGINT) AS lp0
      |  FROM totals, v),
      |known AS (
      |  SELECT d.doc_id, d.lang, p.l,
      |         CAST(SUM(d.n * p.lp) AS BIGINT) AS ks,
      |         CAST(SUM(d.n) AS BIGINT) AS nk
      |  FROM docwords d JOIN profile p ON p.w = d.w
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT t.doc_id, t.lang, f.l,
      |         COALESCE(k.ks, 0) + (t.ntot - COALESCE(k.nk, 0)) * f.lp0 AS score
      |  FROM doctotals t CROSS JOIN floorlp f
      |  LEFT JOIN known k ON k.doc_id = t.doc_id AND k.lang = t.lang AND k.l = f.l),
      |best AS (
      |  SELECT doc_id, lang, l,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l ASC) AS rn
      |  FROM scored)
      |SELECT lang, l AS predicted, CAST(count(*) AS BIGINT) AS cnt
      |FROM best WHERE rn = 1 GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  // --------------------------------------------------------------------
  // Quality scoring: per-doc length/diversity/shape metrics combined
  // into a score, aggregated per source. Doc-level score is computed
  // row-local in double (deterministic), quantized, then integer-summed.
  // --------------------------------------------------------------------
  /** Per-doc integer micro-unit quality (doc_id, source, n_toks, q6) —
    * the row-local scoring pass shared by [[qualityScore]] and
    * [[Dedup.qualityKeepers]]; exact spelling pinned by the q32 oracle. */
  private[operators] def perDocQuality(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"),
        split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).as("n_toks"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("tok_chars"))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("source"), col("n_toks"),
        expr(
          """CAST(floor((
            |  0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) +
            |  0.3 * (CAST(n_uniq AS DOUBLE) / n_toks) +
            |  0.3 * least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0)
            |) * 1000000 + 0.5) AS BIGINT)""".stripMargin).as("q6"))

  def qualityScore(documents: DataFrame): DataFrame = {
    val perDoc = perDocQuality(documents)
    // NO round() on the outputs: the inputs are exact integer micro-units,
    // so both engines compute bit-identical doubles from identical integer
    // divisions — whereas round() diverges on decimal half-boundaries
    // (Spark rounds the shortest decimal repr, DuckDB the exact binary;
    // 379250/1e6 rounds to 0.3793 vs 0.3792).
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_toks")).as("total_tokens"),
        (sum(col("q6")) / (count(lit(1)) * lit(1000000.0))).as("avg_quality"),
        (min(col("q6")) / lit(1000000.0)).as("min_quality"),
        (max(col("q6")) / lit(1000000.0)).as("max_quality"))
      .orderBy(col("source"))
  }

  val qualityScoreOracle: String =
    """WITH perdoc AS (
      |  SELECT source,
      |         len(ts) AS n_toks, len(list_distinct(ts)) AS n_uniq,
      |         CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS tok_chars
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |scored AS (
      |  SELECT source, n_toks,
      |         CAST(floor((
      |           0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) +
      |           0.3 * (CAST(n_uniq AS DOUBLE) / n_toks) +
      |           0.3 * least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0)
      |         ) * 1000000 + 0.5) AS BIGINT) AS q6
      |  FROM perdoc)
      |SELECT source, CAST(count(*) AS BIGINT) AS docs,
      |       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      |       CAST(SUM(q6) AS DOUBLE) / (count(*) * 1000000.0) AS avg_quality,
      |       MIN(q6) / 1000000.0 AS min_quality,
      |       MAX(q6) / 1000000.0 AS max_quality
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // LM quality scoring (CCNet-style perplexity filter): train a corpus
  // unigram LM with add-one smoothing, score every doc by its mean
  // per-token log-likelihood, and flag docs below the corpus-wide mean —
  // the "drop what the LM finds surprising" stage of web curation.
  //
  // Scale shape mirrors langId: the zipfian token stream collapses
  // map-side behind a (doc, word) key before ANY shuffle; the profile is
  // |V| rows (guarded broadcast with join fallback). The global mean
  // needs NO second corpus pass: Σ_docs Σ_w n·lp ≡ Σ_w cw·lp exactly
  // (the LM is trained on the same corpus — no OOV), so both global
  // sums derive from the |V|-row word table.
  //
  // Determinism: log-probs are integer micro-nats; every cross-row sum
  // is integer. The below-mean test is the exact cross-multiplied
  // rational compare s·gn < gs·nt in DECIMAL(38,0) ↔ HUGEINT — per-doc
  // ll and the corpus mean are never divided before comparison, and the
  // int128 form does not wrap at any corpus size a 38-digit product
  // holds (≈10³⁸; a yotta-token corpus is ~10²⁴·10⁷ = 10³¹).
  // --------------------------------------------------------------------
  /** @param broadcastProfile see [[langId]] — same guard, same fallback. */
  def lmScore(documents: DataFrame, broadcastProfile: Boolean = true,
              maxProfileRows: Long = 10000000L): DataFrame = {
    // map-side collapse of the raw token stream (see langId): no exchange
    // is ever keyed by the zipfian token alone; the collapse itself is
    // the session-memoized stage q31 also reads — one corpus scan for
    // the whole text tier
    val docWords = docWordsShared(documents)
      .select(col("doc_id"), col("source"), col("w"), col("n"))
    val counts = docWords.groupBy(col("w")).agg(sum(col("n")).as("cw"))
    val stats = counts.agg(count(lit(1)).as("v"), sum(col("cw")).as("tot"))
    val profile = counts.crossJoin(stats)
      .select(col("w"), col("cw"),
        expr("CAST(floor(ln((cw + 1.0) / (tot + v)) * 1000000 + 0.5) AS BIGINT)").as("lp"))
    // the corpus-level totals come from the word table, not the corpus:
    // gs = Σ cw·lp (exact ≡ Σ_docs s), gn = Σ cw = total tokens
    val glob = profile.agg(
      sum(expr("CAST(cw AS DECIMAL(38,0)) * lp")).as("gs"),
      sum(col("cw")).as("gn"))
    val profileSide =
      if (!broadcastProfile) profile.select(col("w"), col("lp"))
      else {
        val cnt = profile.agg(count(lit(1)).as("profile_rows"))
        broadcast(profile.crossJoin(cnt).select(col("w"),
          expr(Guards.guardedSql("profile_rows", maxProfileRows,
            "lmScore profile", "lp", "BIGINT",
            "call lmScore with broadcastProfile = false")).as("lp")))
      }
    val perDoc = docWords.join(profileSide, "w")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n") * col("lp")).as("s"), sum(col("n")).as("nt"))
    // per-source Σs gets the same DECIMAL(38,0) widening as gs: a source
    // of ~10¹² tokens at ~-10⁷ micro-nats/token already exceeds 2⁶³
    // (per-DOC sums stay long-safe — a doc would need ~10¹¹ tokens)
    perDoc.crossJoin(glob)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("nt")).as("total_tokens"),
        (sum(expr("CAST(s AS DECIMAL(38,0))")).cast("double")
          / sum(col("nt")).cast("double") / 1e6).as("avg_ll"),
        sum(when(expr("CAST(s AS DECIMAL(38,0)) * gn < gs * nt"), 1L)
          .otherwise(0L)).as("n_below"))
      .orderBy(col("source"))
  }

  val lmScoreOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, source, t.w FROM documents,
      |       unnest(string_split_regex(lower(text), '\s+')) AS t(w)
      |  WHERE len(t.w) > 0),
      |docwords AS (
      |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS n
      |  FROM toks GROUP BY 1, 2, 3),
      |counts AS (
      |  SELECT w, CAST(SUM(n) AS BIGINT) AS cw FROM docwords GROUP BY w),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS v, CAST(SUM(cw) AS BIGINT) AS tot
      |  FROM counts),
      |profile AS (
      |  SELECT w, cw,
      |         CAST(floor(ln((cw + 1.0) / (tot + v)) * 1000000 + 0.5) AS BIGINT) AS lp
      |  FROM counts, stats),
      |corpus_ll AS (
      |  SELECT SUM(CAST(cw AS HUGEINT) * lp) AS gs,
      |         CAST(SUM(cw) AS HUGEINT) AS gn
      |  FROM profile),
      |perdoc AS (
      |  SELECT d.doc_id, d.source,
      |         CAST(SUM(d.n * p.lp) AS BIGINT) AS s,
      |         CAST(SUM(d.n) AS BIGINT) AS nt
      |  FROM docwords d JOIN profile p USING (w) GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS docs,
      |       CAST(SUM(nt) AS BIGINT) AS total_tokens,
      |       CAST(SUM(CAST(s AS HUGEINT)) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE) / 1000000.0 AS avg_ll,
      |       CAST(SUM(CASE WHEN CAST(s AS HUGEINT) * gn < gs * nt
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below
      |FROM perdoc, corpus_ll GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // Token counting: whitespace tokens vs a BPE-ish regex segmentation
  // ([a-z]+ | digit | other-symbol), per-lang totals.
  // --------------------------------------------------------------------
  def tokenCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        size(split(trim(lower(col("text"))), "\\s+")).as("ws_toks"),
        expr("CAST(regexp_count(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\\\s]') AS BIGINT)").as("bpe_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("ws_toks")).cast("long").as("ws_tokens"),
        sum(col("bpe_toks")).as("bpe_tokens"),
        // exact integer 4-dp form (floor), NOT round(double, 4): Spark
        // rounds the shortest decimal repr, DuckDB the binary — they
        // disagree on repr-boundary ratios; integer division never does
        expr("CAST((sum(ws_toks) * 10000L) DIV count(1) AS DOUBLE) / 10000.0")
          .as("avg_ws_tokens"))
      .orderBy(col("lang"))

  val tokenCountsOracle: String =
    """WITH perdoc AS (
      |  SELECT lang,
      |         len(string_split_regex(trim(lower(text)), '\s+')) AS ws_toks,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS bpe_toks
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS docs,
      |       CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
      |       CAST(SUM(bpe_toks) AS BIGINT) AS bpe_tokens,
      |       CAST((CAST(SUM(ws_toks) AS BIGINT) * 10000) // COUNT(*) AS DOUBLE) / 10000.0 AS avg_ws_tokens
      |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------
  // BPE first-merge statistics: the adjacent-character-pair frequency
  // table a byte-pair-encoding tokenizer trains its first merge from —
  // top-k pairs by corpus frequency (weighted by word occurrences).
  //
  // Scale shape: the corpus collapses to the DISTINCT-word frequency
  // table first (partial+final HashAggregate over the zipfian word key —
  // the q02 shape), so the character-pair explosion runs on |V| rows,
  // never on the corpus; the pair aggregate is |pairs| ≤ |alphabet|²
  // rows, and the top-k is TakeOrderedAndProject (never a full sort).
  // --------------------------------------------------------------------
  def bpePairs(documents: DataFrame, k: Int = 30): DataFrame =
    documents
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        explode(expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  val bpePairsOracle: String = bpePairsOracleAt(30)

  /** Oracle builder on the SAME k as the engine function. */
  def bpePairsOracleAt(k: Int): String =
    s"""WITH words AS (
      |  SELECT t.w AS word, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(w)
      |  WHERE len(t.w) >= 2 GROUP BY t.w),
      |pairs AS (
      |  SELECT p.pair, CAST(SUM(cnt) AS BIGINT) AS cnt
      |  FROM words, unnest([substr(word, i, 2) for i in range(1, len(word))]) AS p(pair)
      |  GROUP BY p.pair)
      |SELECT pair, cnt FROM pairs
      |ORDER BY cnt DESC, pair ASC LIMIT $k""".stripMargin

  // --------------------------------------------------------------------
  // Document fingerprinting (winnowing-lite): hash 32-char windows at
  // stride 8 over the normalized text, fingerprint = (min, second-min)
  // window hashes — robust to small edits, one row per doc, no shuffle
  // beyond the final sort.
  // --------------------------------------------------------------------
  /** Sorted 32-bit window hashes in one compiled pass — the JVM twin of
    * `array_sort(transform(sequence(...), i -> conv(substr(md5(substr(
    * norm, i*8+1, 32)), 1, 8), 16, 10)))`, element-identical by
    * construction. The SQL form is a HigherOrderFunction (CodegenFallback:
    * every window's md5 evaluates interpreted), and windows/doc ×
    * corpus-size makes that a measured hot loop at scale — same
    * justification as the dedup UDF twins. */
  private val windowHashesUdf = udf { norm: String =>
    val md = java.security.MessageDigest.getInstance("MD5")
    // SQL substr/length count CODEPOINTS in both engines; Java String
    // indexes UTF-16 units. Window over the codepoint array so non-BMP
    // text (surrogate pairs) hashes the same windows as the SQL form.
    val cps = norm.codePoints().toArray
    val n = (cps.length - 32) / 8
    val out = new Array[Long](n + 1)
    var i = 0
    while (i <= n) {
      val d = md.digest(new String(cps, i * 8, 32).getBytes("UTF-8"))
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  def fingerprint(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
      .filter(length(col("norm")) >= 32)
      .select(col("doc_id"), windowHashesUdf(col("norm")).as("hs"))
      .select(col("doc_id"), expr("hs[0]").as("fp_min"),
        expr("CASE WHEN size(hs) > 1 THEN hs[1] ELSE hs[0] END").as("fp_min2"),
        size(col("hs")).as("n_windows"))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------------
  // Cross-document boilerplate detection: the window-granular form of
  // exact-substring dedup — a doc's 32-char windows (stride 8, the q34
  // fingerprint windows, per-doc distinct) are matched across the corpus;
  // windows appearing in ≥2 docs are "shared" (headers, footers, nav
  // chrome, license blocks), and docs whose shared fraction exceeds the
  // threshold are flagged for removal or trimming.
  //
  // Scale shape: ONE window-keyed exchange that both consumers reuse —
  // the per-window doc count is `countDistinct(doc_id)` (not count(1))
  // PRECISELY so the aggregate branch needs the same (doc_id, h) columns
  // as the join branch: identical pruning keeps the two subtrees
  // canonically equal and ReuseExchange collapses them onto one shuffle
  // (PlanSpec pins it). The count aggregate is partial-combined; the
  // doc-count join back is h-keyed with AQE skew-split covering hot
  // boilerplate windows; the final source attach moves only
  // (doc_id, nw, ns) — payloads never shuffle twice. Flags compare
  // ns·10⁶ ≥ ppm·nw in exact integers (no division).
  // --------------------------------------------------------------------
  def boilerplate(documents: DataFrame, flagPpm: Long = 300000L): DataFrame = {
    val docWin = documents
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
      .filter(length(col("norm")) >= 32)
      .select(col("doc_id"),
        explode(array_distinct(windowHashesUdf(col("norm")))).as("h"))
      // exchange barrier: the exploded window stream shuffles ONCE by h;
      // the doc-count aggregate and the join both consume this exchange
      .repartition(col("h"))
    val winDocs = docWin.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = docWin.join(winDocs, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("ns"))
      .withColumnRenamed("doc_id", "pd_doc")
    // null-safe source-attach key: a plain equi-key would infer
    // IsNotNull(doc_id) into ONLY the join branch of the window stream,
    // de-canonicalizing the two identical repartition exchanges and
    // silently doubling the corpus scan + window hashing (the q62
    // tokenPacking trap); `<=>` infers nothing (doc_id is never null
    // here) and keeps ReuseExchange eligible. Pinned by the plan spec.
    documents.select(col("doc_id"), col("source"))
      .join(perDoc, col("doc_id") <=> col("pd_doc"), "left")
      .select(col("source"),
        coalesce(col("nw"), lit(0L)).as("nw"),
        coalesce(col("ns"), lit(0L)).as("ns"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("nw")).as("total_windows"),
        sum(col("ns")).as("shared_windows"),
        sum(when(col("nw") > 0 && col("ns") * lit(1000000L) >= lit(flagPpm) * col("nw"),
          1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("source"))
  }

  val boilerplateOracle: String = boilerplateOracleAt(300000L)

  /** Oracle builder on the SAME flag threshold as the engine function. */
  def boilerplateOracleAt(flagPpm: Long): String =
    s"""WITH norm AS (
      |  SELECT doc_id, source,
      |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(
      |           range(0, CAST(floor((length(norm) - 32) / 8) AS INT) + 1),
      |           i -> CAST(concat('0x', substr(md5(substr(norm, i*8 + 1, 32)), 1, 8)) AS BIGINT))) AS hs
      |  FROM norm WHERE length(norm) >= 32),
      |docwin AS (
      |  SELECT doc_id, t.h FROM wins, unnest(hs) AS t(h)),
      |windocs AS (
      |  SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      |  FROM docwin GROUP BY h),
      |perdoc AS (
      |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
      |         CAST(SUM(CASE WHEN w.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ns
      |  FROM docwin d JOIN windocs w USING (h) GROUP BY d.doc_id),
      |scored AS (
      |  SELECT doc.source, COALESCE(p.nw, 0) AS nw, COALESCE(p.ns, 0) AS ns
      |  FROM documents doc LEFT JOIN perdoc p ON p.doc_id = doc.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |       CAST(SUM(nw) AS BIGINT) AS total_windows,
      |       CAST(SUM(ns) AS BIGINT) AS shared_windows,
      |       CAST(SUM(CASE WHEN nw > 0 AND ns * 1000000 >= $flagPpm * nw
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  val fingerprintOracle: String =
    """WITH norm AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |         list_sort(list_transform(
      |           range(0, CAST(floor((length(norm) - 32) / 8) AS INT) + 1),
      |           i -> CAST(concat('0x', substr(md5(substr(norm, i*8 + 1, 32)), 1, 8)) AS BIGINT))) AS hs
      |  FROM norm WHERE length(norm) >= 32)
      |SELECT doc_id, hs[1] AS fp_min,
      |       CASE WHEN len(hs) > 1 THEN hs[2] ELSE hs[1] END AS fp_min2,
      |       CAST(len(hs) AS INT) AS n_windows
      |FROM hs ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // TF-IDF salient terms: top-k terms per source ranked by tf·idf with
  // the RAW linear inverse frequency idf = N/df (unsmoothed) — chosen
  // over ln-idf deliberately: the score is then a ratio of exact
  // integers, so both engines rank by bit-identical doubles (one IEEE
  // multiply + one divide over exactly-represented integers) instead of
  // by libm's ln, whose last-ulp platform disagreements would make the
  // top-k boundary engine-dependent. What a source's salient terms are
  // for ("what is this crawl about") survives any monotone idf variant.
  //
  // Scale shape: reads the session-memoized docWords collapse (ONE
  // corpus scan shared with q31/q68); tf aggregates behind (source, w)
  // and df behind w — both partial+final HashAggregates, so the zipfian
  // token stream never crosses a shuffle raw; the |V|-row df side is
  // guarded-broadcast (join fallback for open vocabularies) so the
  // stopword-skewed join on `w` never shuffles by token; the final
  // rank is the bounded-heap TopKPerKey operator — |sources|·k rows out.
  // --------------------------------------------------------------------
  /** @param broadcastDf as [[langId]]'s profile flag: the df table is
    *   |V| rows — broadcast with an in-plan size guard by default;
    *   false takes the plain aggregated-join fallback. */
  def tfidfTerms(documents: DataFrame, k: Int = 10,
                 broadcastDf: Boolean = true,
                 maxDfRows: Long = 10000000L): DataFrame = {
    val docWords = docWordsShared(documents)
    val tf = docWords.groupBy(col("source"), col("w"))
      .agg(sum(col("n")).as("tf"))
    // docWords carries one row per (containing doc, word): counting
    // rows per w IS the document frequency
    val dfCounts = docWords.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docWords.select(countDistinct(col("doc_id")).as("nd"))
    val dfSide =
      if (!broadcastDf) dfCounts
      else {
        val cnt = dfCounts.agg(count(lit(1)).as("df_rows"))
        broadcast(dfCounts.crossJoin(cnt).select(col("w"),
          expr(Guards.guardedSql("df_rows", maxDfRows,
            "tfidf df table", "df", "BIGINT",
            "call tfidfTerms with broadcastDf = false")).as("df")))
      }
    val scored = tf.join(dfSide, "w").crossJoin(nDocs)
      .select(col("source"), col("w"), col("tf"), col("df"),
        (col("tf").cast("double") * col("nd") / col("df")).as("tfidf"))
    scored
      .withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, w ASC)"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("w"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy(col("source"), col("rnk"))
  }

  val tfidfTermsOracle: String = tfidfTermsOracleAt(10)

  /** Oracle builder on the SAME k as the engine function. */
  def tfidfTermsOracleAt(k: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, t.w FROM documents,
      |       unnest(string_split_regex(lower(text), '\\s+')) AS t(w)
      |  WHERE len(t.w) > 0),
      |docwords AS (
      |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS n
      |  FROM toks GROUP BY 1, 2, 3),
      |tf AS (SELECT source, w, CAST(SUM(n) AS BIGINT) AS tf
      |       FROM docwords GROUP BY 1, 2),
      |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM docwords GROUP BY 1),
      |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM docwords),
      |scored AS (
      |  SELECT source, w, tf.tf, df.df,
      |         CAST(tf.tf AS DOUBLE) * nd.nd / df.df AS tfidf
      |  FROM tf JOIN df USING (w), nd),
      |ranked AS (
      |  SELECT source, w, tf, df, tfidf,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY tfidf DESC, w ASC) AS rnk
      |  FROM scored)
      |SELECT source, CAST(rnk AS INT) AS rnk, w, tf, df, tfidf
      |FROM ranked WHERE rnk <= $k ORDER BY source, rnk""".stripMargin

  // --------------------------------------------------------------------
  // Document RARITY ranking — the "most informative documents" pick a
  // data-selection pass keeps when budget forces dropping common text:
  // rarity(d) = mean inverse document frequency over d's DISTINCT
  // terms, in integer micro-units (idf6 = N·10⁶ DIV df; rarity6 =
  // Σidf6 DIV n_terms — all nonneg, so truncating DIV ≡ DuckDB's
  // flooring //). Linear idf for the same reason as [[tfidfTerms]]:
  // exact integer ratios, no libm ln at the rank boundary. Top-k per
  // source, deterministic tie-break.
  //
  // Scale shape: reads the session-memoized docWords collapse (the ONE
  // corpus scan shared with q31/q68/q83); df aggregates behind w and is
  // guarded-broadcast (join fallback for open vocabularies); the
  // per-doc rollup partial-aggregates behind doc_id; the rank is the
  // bounded-heap TopKPerKey — |sources|·k rows out. Σidf6 is widened to
  // DECIMAL(38,0): it leaves int64 once N·10⁶·n_terms ≳ 9·10¹⁸ (a
  // 10⁸-doc corpus with 10⁵-term docs — inside the 100 TB regime).
  // --------------------------------------------------------------------
  /** @param broadcastDf as [[tfidfTerms]]'s flag. */
  def docRarity(documents: DataFrame, k: Int = 5,
                broadcastDf: Boolean = true,
                maxDfRows: Long = 10000000L): DataFrame = {
    val docWords = docWordsShared(documents)
    val dfCounts = docWords.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docWords.select(countDistinct(col("doc_id")).as("nd"))
    // idf6 is a function of (w) alone — fold nd and the division into
    // the |V|-row df side ONCE, so the |docwords|-row probe stream does
    // a pure broadcast lookup (no per-row crossJoin column + division)
    val idfSide =
      if (!broadcastDf)
        dfCounts.crossJoin(nDocs)
          .select(col("w"), expr("nd * 1000000L DIV df").as("idf6"))
      else {
        val cnt = dfCounts.agg(count(lit(1)).as("df_rows"))
        broadcast(dfCounts.crossJoin(cnt).crossJoin(nDocs).select(col("w"),
          expr(Guards.guardedSql("df_rows", maxDfRows,
            "docRarity df table", "nd * 1000000L DIV df", "BIGINT",
            "call docRarity with broadcastDf = false")).as("idf6")))
      }
    docWords.select(col("doc_id"), col("source"), col("w"))
      .join(idfSide, "w")
      .select(col("doc_id"), col("source"), col("idf6"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(expr("CAST(idf6 AS DECIMAL(38,0))")).as("idf_sum"),
        count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("source"), col("n_terms"),
        expr("CAST(idf_sum DIV n_terms AS BIGINT)").as("rarity6"))
      .withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY source ORDER BY rarity6 DESC, doc_id ASC)"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("doc_id"), col("rarity6"),
        col("n_terms"))
      .orderBy(col("source"), col("rnk"))
  }

  val docRarityOracle: String = docRarityOracleAt(5)

  /** Oracle builder on the SAME k as the engine function. */
  def docRarityOracleAt(k: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, t.w FROM documents,
      |       unnest(string_split_regex(lower(text), '\\s+')) AS t(w)
      |  WHERE len(t.w) > 0),
      |docwords AS (
      |  SELECT DISTINCT doc_id, source, w FROM toks),
      |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM docwords GROUP BY 1),
      |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM docwords),
      |per AS (
      |  SELECT dw.doc_id, dw.source,
      |         CAST(COUNT(*) AS BIGINT) AS n_terms,
      |         CAST(SUM(nd.nd * 1000000 // df.df) // COUNT(*) AS BIGINT) AS rarity6
      |  FROM docwords dw JOIN df USING (w), nd
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT source, doc_id, rarity6, n_terms,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY rarity6 DESC, doc_id ASC) AS rnk
      |  FROM per)
      |SELECT source, CAST(rnk AS INT) AS rnk, doc_id, rarity6, n_terms
      |FROM ranked WHERE rnk <= $k ORDER BY source, rnk""".stripMargin

  // --------------------------------------------------------------------
  // Curriculum difficulty bins: exact quality-quantile binning of the
  // corpus (curriculum-learning order: feed easy/clean bins first, hard
  // bins later). bin(d) = floor(B · |{docs with q6 < q6(d)}| / N) — a
  // BY-VALUE quantile, so equal scores always share a bin (unlike
  // ntile, which splits ties by arbitrary row order).
  //
  // Scale shape: the corpus collapses to a (q6 → count, tokens)
  // HISTOGRAM first — q6 is an integer micro-unit in [0, 10⁶], so the
  // histogram is a BOUNDED table (≤ 10⁶+1 rows) independent of corpus
  // size. The rank cumsum then runs as a single-partition window over
  // that bounded table (exact quantiles with no global row sort of the
  // corpus — the same two-pass trick as q62's shard offsets), and the
  // per-bin rollup is ≤ B rows. One corpus scan, one histogram
  // exchange, O(10⁶) window work regardless of N.
  // --------------------------------------------------------------------
  def difficultyBins(documents: DataFrame, bins: Int = 10): DataFrame = {
    require(bins > 0, s"need a positive bin count, got $bins")
    val hist = perDocQuality(documents).groupBy(col("q6"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_toks")).as("tok"))
    // the single-partition cumsum is sound ONLY because q6 is an integer
    // micro-unit in [0, 10⁶] — the in-plan guard makes that ceiling
    // executable (q6 degrading to a raw double upstream would raise
    // here, not silently globally sort the corpus)
    val binned = hist.select(col("q6"), col("cnt"), col("tok"),
        expr("""COALESCE(SUM(cnt) OVER (ORDER BY q6
            | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"""
          .stripMargin).as("below"),
        expr(Guards.boundedWindowSql(1000001L, "difficultyBins q6 histogram",
          "SUM(cnt) OVER ()", "BIGINT")).as("nd"))
      // below < nd always, so bins land in [0, B-1]; B·below fits a
      // long to ~10¹⁸/B docs
      .select(col("cnt"), col("tok"), col("q6"),
        expr(s"CAST((${bins}L * below) DIV nd AS INT)").as("bin"))
    binned.groupBy(col("bin"))
      .agg(sum(col("cnt")).as("docs"), sum(col("tok")).as("total_tokens"),
        (min(col("q6")) / lit(1000000.0)).as("min_quality"),
        (max(col("q6")) / lit(1000000.0)).as("max_quality"))
      .orderBy(col("bin"))
  }

  // --------------------------------------------------------------------
  // Robust quality outliers per source: median/MAD (median absolute
  // deviation), the standard outlier test that a mean/stddev z-score
  // cannot do on heavy-tailed quality distributions (the outliers
  // being hunted corrupt the mean that would detect them). A doc is
  // flagged when |q6 − median| > 3·MAD.
  //
  // Exactness: interpolated medians of integers live in halves, so the
  // whole test is computed in DOUBLED units — med2 = v_lo + v_hi (the
  // two middle order statistics; equal when n is odd), dev2 =
  // |2·q6 − med2|, mad4 = the same doubling over the dev2 distribution
  // — and the flag is the all-integer 2·dev2 > 3·mad4. The oracle uses
  // DuckDB's interpolated median ×2, which lands on the same integers.
  //
  // Scale shape: ONE corpus shuffle — the (source, q6) histogram
  // collapse (bounded at ≤ |sources|·(10⁶+1) rows since q6 is an
  // integer micro-unit; the q84 pattern); both median picks are cumsum
  // windows over that bounded table (its exchange is REUSED by the
  // deviation branch), the dev2 re-histogram is bounded the same way,
  // and every join is a ≤ |sources|-row broadcast.
  // --------------------------------------------------------------------
  def qualityOutliers(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val hist = perDocQuality(documents)
      .groupBy(col("source"), col("q6"))
      .agg(count(lit(1)).as("cnt"))
    // weighted median in doubled units over a (source, value, cnt)
    // histogram: the value at 1-indexed position p is the row where
    // below < p <= below + cnt; p_lo = (n+1) DIV 2, p_hi = n DIV 2 + 1
    def med2Of(h: DataFrame, value: String, out: String): DataFrame =
      h.select(col("source"), col(value), col("cnt"),
          expr(s"""COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY $value
            | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"""
            .stripMargin).as("below"),
          expr("SUM(cnt) OVER (PARTITION BY source)").as("n"))
        .groupBy(col("source"))
        .agg(
          (sum(when(expr(s"below < (n + 1) DIV 2 AND (n + 1) DIV 2 <= below + cnt"),
            col(value)).otherwise(lit(0L))) +
            sum(when(expr(s"below < n DIV 2 + 1 AND n DIV 2 + 1 <= below + cnt"),
              col(value)).otherwise(lit(0L)))).as(out),
          max(col("n")).as("n_docs"))
    val med = med2Of(hist, "q6", "med2")
    val devHist = hist.join(broadcast(med.select("source", "med2")), Seq("source"))
      .select(col("source"), expr("abs(2L * q6 - med2)").as("dev2"), col("cnt"))
      .groupBy(col("source"), col("dev2"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = med2Of(devHist, "dev2", "mad4").select("source", "mad4")
    val outs = devHist.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(sum(when(expr("2L * dev2 > 3L * mad4"), col("cnt"))
        .otherwise(lit(0L))).as("n_outliers"))
    med.join(mad, Seq("source")).join(outs, Seq("source"))
      .select(col("source"), col("n_docs"), col("med2"), col("mad4"),
        col("n_outliers"),
        expr("n_outliers * 1000L DIV n_docs").as("outlier_pm"))
      .orderBy(col("source"))
  }

  // --------------------------------------------------------------------
  // Sequence-length profile per source: exact p50/p90/p99 token counts
  // plus max — the distribution packing/batching decisions read (q62's
  // bin size, q70's chunk economics, padding waste estimates all key
  // off these percentiles). Percentiles are TYPE-1 (rank-based, the
  // value at rank ⌈f·n⌉) so the whole computation is integer-exact —
  // no interpolation, no floats, and the oracle spells the SAME rank
  // formula with row_number instead of relying on any engine's
  // quantile-function definition (whose tie/interpolation conventions
  // differ across engines).
  //
  // Scale shape: ONE corpus shuffle — the (source, n_toks) histogram
  // collapse (bounded by |sources|·max-doc-length rows); the rank picks
  // are a cumsum window over that bounded table; ⌈f·n⌉ = (f·n+99) DIV
  // 100 keeps rank arithmetic in int64 to ~10¹⁶ docs per source.
  // --------------------------------------------------------------------
  def lengthProfile(documents: DataFrame): DataFrame = {
    val hist = perDocQuality(documents)
      .groupBy(col("source"), col("n_toks"))
      .agg(count(lit(1)).as("cnt"))
    def pick(pct: Int) =
      sum(when(
        expr(s"below < ($pct * n + 99) DIV 100 AND ($pct * n + 99) DIV 100 <= below + cnt"),
        col("n_toks")).otherwise(lit(0L))).as(s"p${pct}_toks")
    hist.select(col("source"), col("n_toks").cast("long").as("n_toks"),
        col("cnt"),
        expr("""COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY n_toks
          | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"""
          .stripMargin).as("below"),
        expr("SUM(cnt) OVER (PARTITION BY source)").as("n"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), pick(50), pick(90), pick(99),
        max(col("n_toks")).as("max_toks"))
      .orderBy(col("source"))
  }

  val lengthProfileOracle: String =
    """WITH perdoc AS (
      |  SELECT source, CAST(len(ts) AS BIGINT) AS n_toks
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |ranked AS (
      |  SELECT source, n_toks,
      |         row_number() OVER (PARTITION BY source ORDER BY n_toks) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM perdoc)
      |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
      |       CAST(SUM(CASE WHEN rn = (50 * n + 99) // 100 THEN n_toks ELSE 0 END) AS BIGINT) AS p50_toks,
      |       CAST(SUM(CASE WHEN rn = (90 * n + 99) // 100 THEN n_toks ELSE 0 END) AS BIGINT) AS p90_toks,
      |       CAST(SUM(CASE WHEN rn = (99 * n + 99) // 100 THEN n_toks ELSE 0 END) AS BIGINT) AS p99_toks,
      |       CAST(MAX(n_toks) AS BIGINT) AS max_toks
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // TOKEN-weighted length percentiles: where the p-th percentile TOKEN
  // (not document) lives. Packing/batching economics follow token mass,
  // not doc counts — a corpus that is 99% tweets and 1% books by DOCS
  // is mostly books by TOKENS, so q97's doc-count p50 says "short" while
  // the median token sits in a long document; this is the number the
  // chunker/batcher actually needs. Rank threshold ⌈p·T/100⌉ over the
  // cumulative token mass, all-integer (p·T ≤ 99·10¹⁴ at 10¹⁴ tokens —
  // inside int64; the oracle's HUGEINT window sums match exactly).
  //
  // Scale shape: identical to [[lengthProfile]] — the corpus collapses
  // to the bounded per-source (n_toks → cnt, tokens) histogram, the
  // weighted cumsum windows run PARTITIONED by source on that bounded
  // table, rollup to |sources| rows. One corpus scan, one exchange.
  // --------------------------------------------------------------------
  def tokenWeightedLengthProfile(documents: DataFrame): DataFrame = {
    val hist = perDocQuality(documents)
      .groupBy(col("source"), col("n_toks"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("n_toks").cast("long").as("n_toks"),
        col("cnt"), (col("n_toks").cast("long") * col("cnt")).as("tok"))
    def pick(pct: Int) =
      sum(when(
        expr(s"below < ($pct * t + 99) DIV 100 AND " +
          s"($pct * t + 99) DIV 100 <= below + tok"),
        col("n_toks")).otherwise(lit(0L))).as(s"twp${pct}_toks")
    hist.select(col("source"), col("n_toks"), col("cnt"), col("tok"),
        expr("""COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY n_toks
          | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"""
          .stripMargin).as("below"),
        expr("SUM(tok) OVER (PARTITION BY source)").as("t"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"), max(col("t")).as("total_tokens"),
        pick(50), pick(90), pick(99))
      .orderBy(col("source"))
  }

  val tokenWeightedLengthProfileOracle: String =
    """WITH perdoc AS (
      |  SELECT source, CAST(len(ts) AS BIGINT) AS n_toks
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |hist AS (
      |  SELECT source, n_toks, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(n_toks * count(*) AS BIGINT) AS tok
      |  FROM perdoc GROUP BY 1, 2),
      |c AS (
      |  SELECT source, n_toks, cnt, tok,
      |         COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY n_toks
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |         SUM(tok) OVER (PARTITION BY source) AS t
      |  FROM hist)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |       CAST(MAX(t) AS BIGINT) AS total_tokens,
      |       CAST(SUM(CASE WHEN below < (50 * t + 99) // 100
      |                      AND (50 * t + 99) // 100 <= below + tok
      |                     THEN n_toks ELSE 0 END) AS BIGINT) AS twp50_toks,
      |       CAST(SUM(CASE WHEN below < (90 * t + 99) // 100
      |                      AND (90 * t + 99) // 100 <= below + tok
      |                     THEN n_toks ELSE 0 END) AS BIGINT) AS twp90_toks,
      |       CAST(SUM(CASE WHEN below < (99 * t + 99) // 100
      |                      AND (99 * t + 99) // 100 <= below + tok
      |                     THEN n_toks ELSE 0 END) AS BIGINT) AS twp99_toks
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  val qualityOutliersOracle: String =
    """WITH perdoc AS (
      |  SELECT source, len(ts) AS n_toks, len(list_distinct(ts)) AS n_uniq,
      |         CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS tok_chars
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |scored AS (
      |  SELECT source,
      |         CAST(floor((
      |           0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) +
      |           0.3 * (CAST(n_uniq AS DOUBLE) / n_toks) +
      |           0.3 * least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0)
      |         ) * 1000000 + 0.5) AS BIGINT) AS q6
      |  FROM perdoc),
      |m AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(2 * median(q6) AS BIGINT) AS med2
      |  FROM scored GROUP BY source),
      |d AS (
      |  SELECT s.source, abs(2 * q6 - med2) AS dev2
      |  FROM scored s JOIN m ON s.source = m.source),
      |mm AS (
      |  SELECT source, CAST(2 * median(dev2) AS BIGINT) AS mad4
      |  FROM d GROUP BY source),
      |o AS (
      |  SELECT d.source,
      |         CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_outliers
      |  FROM d JOIN mm ON d.source = mm.source GROUP BY d.source)
      |SELECT m.source, n_docs, med2, mad4, n_outliers,
      |       CAST(n_outliers * 1000 // n_docs AS BIGINT) AS outlier_pm
      |FROM m JOIN mm ON m.source = mm.source JOIN o ON m.source = o.source
      |ORDER BY m.source""".stripMargin

  val difficultyBinsOracle: String = difficultyBinsOracleAt(10)

  /** Oracle builder on the SAME bin count as the engine function; the
    * perdoc/scored CTEs are the exact [[qualityScoreOracle]] spelling. */
  def difficultyBinsOracleAt(bins: Int): String =
    s"""WITH perdoc AS (
      |  SELECT len(ts) AS n_toks, len(list_distinct(ts)) AS n_uniq,
      |         CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS tok_chars
      |  FROM (SELECT string_split_regex(lower(text), '\\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |scored AS (
      |  SELECT n_toks,
      |         CAST(floor((
      |           0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) +
      |           0.3 * (CAST(n_uniq AS DOUBLE) / n_toks) +
      |           0.3 * least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0)
      |         ) * 1000000 + 0.5) AS BIGINT) AS q6
      |  FROM perdoc),
      |hist AS (
      |  SELECT q6, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(SUM(n_toks) AS BIGINT) AS tok
      |  FROM scored GROUP BY 1),
      |c AS (
      |  SELECT q6, cnt, tok,
      |         COALESCE(SUM(cnt) OVER (ORDER BY q6
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |         SUM(cnt) OVER () AS nd
      |  FROM hist)
      |SELECT CAST(($bins * below) // nd AS INT) AS bin,
      |       CAST(SUM(cnt) AS BIGINT) AS docs,
      |       CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |       MIN(q6) / 1000000.0 AS min_quality,
      |       MAX(q6) / 1000000.0 AS max_quality
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Collocation mining: the highest-association adjacent word pairs —
  // the phrase-detection pass a tokenizer-training / phrase-merging
  // pipeline runs before BPE (word2vec's phrase tool is this exact
  // shape). Association is the DISCOUNTED DICE score in integer
  // micro-units: dice6 = 2·(c_xy − δ)·10⁶ DIV (c_x + c_y) — bounded in
  // [0, 2·10⁶] by construction (c_xy ≤ min(c_x, c_y)), all-integer, so
  // the ranked pairs are engine-independent (no libm log at the rank
  // boundary, unlike PMI). The δ discount (word2vec's) suppresses
  // rare-pair flukes; minCount prunes the candidate set.
  //
  // Scale shape: bigrams are built MAP-SIDE from each doc's token array
  // (adjacent zip via a transform lambda — no positional self-join);
  // the (w1, w2) count partial-aggregates before its one exchange, so
  // the zipfian head pair ("of the" at web scale) collapses per
  // partition and never skews the shuffle. The |V|-row unigram table is
  // guarded-broadcast (join fallback for open vocabularies) and probed
  // TWICE from the same broadcast exchange (w1 and w2 sides — Catalyst
  // reuses it). Top-k is TakeOrdered — a bounded heap per partition,
  // k rows to the driver, no global sort. The numerator is widened to
  // DECIMAL(38,0): 2·c_xy·10⁶ leaves int64 once a pair passes ~4.6·10¹²
  // occurrences — inside the 100 TB regime for stop-word pairs.
  // --------------------------------------------------------------------
  /** Row-local adjacent-bigram collapse of a raw split-token array:
    * empty tokens dropped FIRST (the `filter(len > 0)` this replaces),
    * then each adjacent surviving pair counted within the row. The
    * interpreted `transform(slice(...), named_struct)` lambda this
    * replaces evaluated per element (CodegenFallback) and shipped one
    * row per bigram OCCURRENCE into the aggregate. */
  private val bigramCountsUdf = udf { loweredText: String =>
    val clean = Tok.tokens(loweredText)
    val m = new java.util.LinkedHashMap[(String, String), Long]()
    var i = 0
    while (i + 1 < clean.length) {
      val key = (clean(i), clean(i + 1))
      val prev = m.putIfAbsent(key, 1L)
      if (prev != null) { m.put(key, prev + 1L); () }
      i += 1
    }
    val out = new Array[(String, String, Long)](m.size)
    val e = m.entrySet().iterator()
    var j = 0
    while (e.hasNext) {
      val en = e.next()
      out(j) = (en.getKey._1, en.getKey._2, en.getValue); j += 1
    }
    out.toSeq
  }

  /** @param broadcastUni as [[tfidfTerms]]'s broadcastDf flag. */
  def collocations(documents: DataFrame, minCount: Long = 4L,
                   discount: Long = 3L, k: Int = 20,
                   broadcastUni: Boolean = true,
                   maxUniRows: Long = 10000000L): DataFrame = {
    require(minCount > discount,
      s"minCount ($minCount) must exceed the discount ($discount) or " +
        "dice6 goes negative")
    // both streams pre-collapse ROW-LOCALLY in compiled kernels (the
    // per-doc counts sum to the same corpus totals), so the aggregates
    // below see one row per DISTINCT (doc, gram) instead of one per
    // occurrence, and no interpreted lambda runs per token (guide §4 /
    // §2.3: aggregate before you shuffle)
    val toks = Widen.widen(documents)
      .select(lower(col("text")).as("lt"))
    val bigrams = toks
      .select(explode(bigramCountsUdf(col("lt"))).as("bg"))
      .groupBy(col("bg._1").as("w1"), col("bg._2").as("w2"))
      .agg(sum(col("bg._3")).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uniCounts = toks
      .select(explode(wordCountsUdf(col("lt"))).as("wn"))
      .groupBy(col("wn._1").as("w")).agg(sum(col("wn._2")).as("c"))
    val uniSide =
      if (!broadcastUni) uniCounts
      else {
        val cnt = uniCounts.agg(count(lit(1)).as("uni_rows"))
        broadcast(uniCounts.crossJoin(cnt).select(col("w"),
          expr(Guards.guardedSql("uni_rows", maxUniRows,
            "collocation unigram table", "c", "BIGINT",
            "call collocations with broadcastUni = false")).as("c")))
      }
    bigrams
      .join(uniSide.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uniSide.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        expr(s"""CAST(CAST((c_xy - ${discount}L) * 2 AS DECIMAL(38,0))
                | * 1000000 DIV (c_x + c_y) AS BIGINT)""".stripMargin)
          .as("dice6"))
      .orderBy(col("dice6").desc, col("w1"), col("w2"))
      .limit(k)
  }

  val collocationsOracle: String = collocationsOracleAt(4L, 3L, 20)

  /** Oracle builder on the SAME params as the engine function. */
  def collocationsOracleAt(minCount: Long, discount: Long, k: Int): String =
    s"""WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\\s+'),
      |                     x -> len(x) > 0) AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT u.bg.w1 AS w1, u.bg.w2 AS w2
      |  FROM toks, unnest(list_transform(generate_series(1, len(toks) - 1),
      |       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS u(bg)
      |  WHERE len(toks) >= 2),
      |cxy AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
      |  FROM bg GROUP BY 1, 2 HAVING count(*) >= $minCount),
      |uni AS (
      |  SELECT t.w AS w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(toks) AS w FROM toks) t GROUP BY 1)
      |SELECT w1, w2, c_xy, ux.c AS c_x, uy.c AS c_y,
      |       -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL rounds the
      |       -- decimal quotient before flooring (46803.65 -> 46804);
      |       -- HUGEINT // is exact floor division, == Spark's
      |       -- nonnegative DECIMAL(38,0) truncating DIV
      |       CAST(CAST((c_xy - $discount) * 2 AS HUGEINT) * 1000000
      |            // (ux.c + uy.c) AS BIGINT) AS dice6
      |FROM cxy JOIN uni ux ON cxy.w1 = ux.w JOIN uni uy ON cxy.w2 = uy.w
      |ORDER BY dice6 DESC, w1, w2 LIMIT $k""".stripMargin

  // --------------------------------------------------------------------
  // Vocabulary growth curve (Heaps' law audit): cumulative distinct
  // unigram AND bigram vocabulary vs cumulative token volume, over a
  // deterministic md5-bucketed corpus order. The curve a corpus-scaling
  // decision reads: is the vocabulary (so the tokenizer's OOV surface /
  // the dedup candidate space) still growing at the corpus frontier, or
  // saturated? Hash-bucket order makes the curve a random-order Heaps
  // curve — exactly the estimator the literature uses — and keeps the
  // bucket assignment engine-independent (md5 on both sides).
  //
  // Scale shape: "first bucket a term appears in" is min(bkt) per term —
  // partial-aggregated map-side behind the term key, ONE exchange over
  // |V| (the zipfian head term collapses per partition). The curve
  // itself is ≤ `buckets` rows; its cumsum windows run under an in-plan
  // row ceiling (Guards.boundedWindowSql), so an upstream break cannot
  // silently single-partition an unbounded stream. No global sort, no
  // per-doc window: two term-keyed exchanges (unigram + bigram) and a
  // |buckets|-row rollup regardless of corpus size.
  // --------------------------------------------------------------------
  /** Row-local DISTINCT terms of a raw split-token array, TAGGED:
    * (0, word) for each distinct non-empty token, (1, "w1 w2") for each
    * distinct adjacent bigram over the non-empty tokens — one compiled
    * pass replacing the interpreted `filter` + `transform(slice)`
    * chains, and one stream replacing two (min-per-term is invariant
    * under within-row dedup). */
  private val taggedDistinctTermsUdf = udf { loweredText: String =>
    val clean = Tok.tokens(loweredText)
    val ws = new java.util.LinkedHashSet[String]()
    val bs = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < clean.length) {
      ws.add(clean(i)); ()
      if (i + 1 < clean.length) { bs.add(clean(i) + " " + clean(i + 1)); () }
      i += 1
    }
    val out = new Array[(Int, String)](ws.size + bs.size)
    var j = 0
    val wi = ws.iterator()
    while (wi.hasNext) { out(j) = (0, wi.next()); j += 1 }
    val bi = bs.iterator()
    while (bi.hasNext) { out(j) = (1, bi.next()); j += 1 }
    out.toSeq
  }

  /** Row-local non-empty token count — `bucket_tokens` without
    * exploding one row per occurrence. */
  private val tokenCountUdf = udf { loweredText: String =>
    Tok.tokens(loweredText).length.toLong
  }

  def vocabGrowth(documents: DataFrame, buckets: Int = 16): DataFrame = {
    require(buckets > 0 && buckets <= 4096,
      s"bucket count must be in [1, 4096], got $buckets")
    val spark = documents.sparkSession
    // ONE tagged compiled stream feeds both "first bucket per term"
    // rollups (guide §4/§2.3): the kernel tokenizes each doc once and
    // ships one row per DISTINCT (doc, term) — the previous shape ran
    // two interpreted-lambda streams (words; bigrams) plus a third
    // occurrence-level explode for the token volume, re-evaluating the
    // filter chain per branch. The token-volume rollup is now a plain
    // per-row count (no explode at all), and the two per-term aggregates
    // collapse into one (t, w)-keyed exchange + a conditional-sum rollup.
    val docs = Widen.widen(documents)
      .select(
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)" +
          s" AS BIGINT) % $buckets").as("bkt"),
        lower(col("text")).as("lt"))
    val newTermCounts = docs
      .select(col("bkt"),
        explode(taggedDistinctTermsUdf(col("lt"))).as("tw"))
      .groupBy(col("tw._1").as("t"), col("tw._2").as("w"))
      .agg(min(col("bkt")).as("first_bkt"))
      .groupBy(col("first_bkt").as("bkt"))
      .agg(sum(when(col("t") === 0, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("nb"))
    val tokensPerBkt = docs
      .select(col("bkt"), tokenCountUdf(col("lt")).as("tc"))
      .groupBy(col("bkt"))
      .agg(sum(col("tc")).as("bucket_tokens"))
    val grid = spark.range(buckets).select(col("id").as("bkt"))
    def cum(valueCol: String, alias: String) =
      expr(Guards.boundedWindowSql(4096L, "vocabGrowth bucket grid",
        s"SUM($valueCol) OVER (ORDER BY bkt)", "BIGINT")).as(alias)
    grid
      .join(newTermCounts, Seq("bkt"), "left")
      .join(tokensPerBkt, Seq("bkt"), "left")
      .select(col("bkt"),
        coalesce(col("nt"), lit(0L)).as("new_terms"),
        coalesce(col("nb"), lit(0L)).as("new_bigrams"),
        coalesce(col("bucket_tokens"), lit(0L)).as("bucket_tokens"))
      .select(col("bkt"), col("new_terms"), cum("new_terms", "cum_vocab"),
        col("new_bigrams"), cum("new_bigrams", "cum_bigram_vocab"),
        col("bucket_tokens"), cum("bucket_tokens", "cum_tokens"))
      .orderBy(col("bkt"))
  }

  val vocabGrowthOracle: String = vocabGrowthOracleAt(16)

  /** Oracle builder on the SAME bucket count as the engine function. */
  def vocabGrowthOracleAt(buckets: Int): String =
    s"""WITH docs AS (
      |  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |              AS BIGINT) % $buckets AS bkt,
      |         list_filter(string_split_regex(lower(text), '\\s+'),
      |                     x -> len(x) > 0) AS toks
      |  FROM documents),
      |uni AS (SELECT bkt, t.w AS w FROM docs, unnest(toks) AS t(w)),
      |bi AS (
      |  SELECT bkt, u.w AS w
      |  FROM docs, unnest(list_transform(generate_series(1, len(toks) - 1),
      |       i -> concat(toks[i], ' ', toks[i + 1]))) AS u(w)
      |  WHERE len(toks) >= 2),
      |nt AS (
      |  SELECT first_bkt AS bkt, CAST(count(*) AS BIGINT) AS new_terms
      |  FROM (SELECT w, MIN(bkt) AS first_bkt FROM uni GROUP BY 1)
      |  GROUP BY 1),
      |nb AS (
      |  SELECT first_bkt AS bkt, CAST(count(*) AS BIGINT) AS new_bigrams
      |  FROM (SELECT w, MIN(bkt) AS first_bkt FROM bi GROUP BY 1)
      |  GROUP BY 1),
      |tk AS (
      |  SELECT bkt, CAST(count(*) AS BIGINT) AS bucket_tokens
      |  FROM uni GROUP BY 1),
      |grid AS (
      |  SELECT CAST(g AS BIGINT) AS bkt
      |  FROM generate_series(0, ${buckets - 1}) s(g)),
      |f AS (
      |  SELECT g.bkt, COALESCE(nt.new_terms, 0) AS new_terms,
      |         COALESCE(nb.new_bigrams, 0) AS new_bigrams,
      |         COALESCE(tk.bucket_tokens, 0) AS bucket_tokens
      |  FROM grid g LEFT JOIN nt ON g.bkt = nt.bkt
      |              LEFT JOIN nb ON g.bkt = nb.bkt
      |              LEFT JOIN tk ON g.bkt = tk.bkt)
      |SELECT bkt, new_terms,
      |       CAST(SUM(new_terms) OVER (ORDER BY bkt) AS BIGINT) AS cum_vocab,
      |       new_bigrams,
      |       CAST(SUM(new_bigrams) OVER (ORDER BY bkt) AS BIGINT)
      |         AS cum_bigram_vocab,
      |       bucket_tokens,
      |       CAST(SUM(bucket_tokens) OVER (ORDER BY bkt) AS BIGINT)
      |         AS cum_tokens
      |FROM f ORDER BY bkt""".stripMargin

  // --------------------------------------------------------------------
  // Per-source score CALIBRATION: the (source, q6) → percentile-per-mille
  // lookup that makes one quality threshold comparable ACROSS sources
  // ("keep the top 20% of each source" needs each source's own ECDF —
  // a raw q6 cutoff keeps 90% of a clean source and 2% of a noisy one).
  // pct_pm = 1000·|{docs in source with q6' < q6}| DIV n_docs — the
  // exact lower-ECDF in integer per-mille, ties share a row.
  //
  // Scale shape: the corpus collapses to the per-source q6 HISTOGRAM
  // first (≤ 10⁶+1 rows per source — q6 is an integer micro-unit), so
  // the cumsum windows are PARTITIONED by source and each partition is
  // bounded; the in-plan ceiling makes that bound executable (a raw
  // double slipping past quantization upstream raises instead of
  // silently sorting the corpus per source). One corpus scan, one
  // (source, q6) exchange, output = |observed (source, q6)| rows.
  // --------------------------------------------------------------------
  def scoreCalibration(documents: DataFrame): DataFrame = {
    val hist = perDocQuality(documents).groupBy(col("source"), col("q6"))
      .agg(count(lit(1)).as("cnt"))
    hist.select(col("source"), col("q6"), col("cnt"),
        expr("""COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY q6
            | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"""
          .stripMargin).as("below"),
        // the bounded-histogram invariant, executable: > 10⁶+1 distinct
        // q6 values in one source partition means q6 stopped being a
        // micro-unit integer — raise, don't silently degrade
        expr("""CASE WHEN COUNT(1) OVER (PARTITION BY source) > 1000001
            |  THEN CAST(raise_error(concat('scoreCalibration q6 histogram for ',
            |    source, ' has ', COUNT(1) OVER (PARTITION BY source),
            |    ' rows > documented per-source bound 1000001;',
            |    ' an upstream boundedness invariant broke')) AS BIGINT)
            |  ELSE SUM(cnt) OVER (PARTITION BY source) END""".stripMargin)
          .as("n_docs"))
      .select(col("source"), col("q6"), col("cnt"), col("n_docs"),
        expr("CAST(1000L * below DIV n_docs AS BIGINT)").as("pct_pm"))
      .orderBy(col("source"), col("q6"))
  }

  val scoreCalibrationOracle: String =
    """WITH perdoc AS (
      |  SELECT source, len(ts) AS n_toks, len(list_distinct(ts)) AS n_uniq,
      |         CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS tok_chars
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |scored AS (
      |  SELECT source,
      |         CAST(floor((
      |           0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) +
      |           0.3 * (CAST(n_uniq AS DOUBLE) / n_toks) +
      |           0.3 * least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0)
      |         ) * 1000000 + 0.5) AS BIGINT) AS q6
      |  FROM perdoc),
      |hist AS (
      |  SELECT source, q6, CAST(count(*) AS BIGINT) AS cnt
      |  FROM scored GROUP BY 1, 2),
      |c AS (
      |  SELECT source, q6, cnt,
      |         COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY q6
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |         SUM(cnt) OVER (PARTITION BY source) AS n_docs
      |  FROM hist)
      |SELECT source, q6, cnt, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(1000 * below // n_docs AS BIGINT) AS pct_pm
      |FROM c ORDER BY source, q6""".stripMargin

  // --------------------------------------------------------------------
  // q113: guaranteed-support heavy hitters — every token with
  // cnt · k > N for k = 1/support (stopword/template mining before
  // filtering; the reference's wordcount taken to the only shape that
  // survives an open web vocabulary). The RESULT is exact; the scale
  // design is the two-phase sketch-then-verify shape (Misra–Gries):
  //   1. candidate pass: each partition of the session-memoized
  //      docWords collapse streams through k bounded counters
  //      (mapPartitions, O(k) memory, ZERO shuffle) and emits its ≤k
  //      surviving keys. Weighted-MG guarantee: a key with partition
  //      weight > W_p/(k+1) survives partition p; by pigeonhole a
  //      global heavy hitter exceeds that somewhere — the
  //      ≤|partitions|·k-key union is a guaranteed candidate superset
  //      for ANY partitioning (so the exact result is partitioning-
  //      independent even though the candidate set is not).
  //   2. verify pass: exact recount, but only candidate tokens cross
  //      the shuffle (map-side broadcast-semi filter + partial agg) —
  //      the open-vocabulary |V|-row wordcount exchange collapses to
  //      ≤|partitions|·k rows, and false candidates are scrubbed by
  //      the final cnt·k > N filter.
  // The candidate broadcast is bounded BY CONSTRUCTION (each partition
  // emits at most k keys), not by a data property — no guard needed.
  // N itself is a 1-row partial agg off the same memoized stage.
  // --------------------------------------------------------------------
  def heavyHitters(documents: DataFrame, k: Int = 400): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val docWords = docWordsShared(documents)
    val candidates = docWords.select(col("w"), col("n")).as[(String, Long)]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (w, n) =>
          counters.update(w, counters.getOrElse(w, 0L) + n)
          if (counters.size > k) {
            // weighted decrement: subtract the min from every counter,
            // evicting at least one key — each event removes ≥(k+1)·m
            // total weight, so Σm ≤ W_p/(k+1) bounds the undercount
            val m = counters.valuesIterator.min
            counters.toArray.foreach { case (key, c) =>
              if (c - m <= 0L) counters.remove(key)
              else counters.update(key, c - m)
            }
          }
        }
        counters.keysIterator
      }.toDF("w").distinct()
    val total = docWords.agg(sum(col("n")).as("n_tokens"))
    docWords.join(broadcast(candidates), "w")
      .groupBy(col("w").as("word"))
      .agg(sum(col("n")).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("n_tokens"))
      // ≤k-row result; the sort costs nothing and keeps the output
      // deterministic like every other query's (repo-wide convention)
      .orderBy(col("word"))
  }

  val heavyHittersOracle: String = heavyHittersOracleAt(400)

  def heavyHittersOracleAt(k: Int): String =
    s"""WITH toks AS (
      |  SELECT t.tok AS w
      |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(tok)
      |  WHERE t.tok <> ''),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks)
      |SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt, tot.n_tokens
      |FROM toks, tot GROUP BY w, tot.n_tokens
      |HAVING count(*) * $k > tot.n_tokens
      |ORDER BY word""".stripMargin

  // --------------------------------------------------------------------
  // q125: stopword-coverage drift per source — the cheapest
  // language/quality drift tripwire a crawl pipeline runs per ingest:
  // natural prose keeps a stable fraction of corpus-global stopwords,
  // so a source whose coverage collapses (code, tables, gibberish,
  // wrong language) or spikes (keyword stuffing) flags BEFORE any
  // model-based scorer runs. The stopword set is q113's
  // guaranteed-support heavy hitters — bounded at ≤k words by the
  // support inequality itself (at most k tokens can each exceed N/k),
  // so the set broadcasts BY CONSTRUCTION at any corpus size.
  //
  // Scale shape: reads the session-memoized docWords collapse (shared
  // with q31/q68/q83/q102/q113 — one corpus tokenization per session);
  // the per-(source, word) sums partial-aggregate behind the doc key,
  // the ≤k-word set broadcasts, and the rollup is |sources| rows.
  // --------------------------------------------------------------------
  def stopwordDrift(documents: DataFrame, k: Int = 400): DataFrame = {
    val stops = heavyHitters(documents, k).select(col("word").as("w"))
    docWordsShared(documents)
      .join(broadcast(stops.withColumn("is_stop", lit(1L))), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("is_stop").isNotNull, col("n")).otherwise(lit(0L)))
          .as("stop_tokens"))
      .select(col("source"), col("n_tokens"), col("stop_tokens"),
        expr("1000L * stop_tokens DIV n_tokens").as("stop_pm"))
      .orderBy(col("source"))
  }

  val stopwordDriftOracle: String = stopwordDriftOracleAt(400)

  def stopwordDriftOracleAt(k: Int): String =
    s"""WITH toks AS (
      |  SELECT source, t.tok AS w
      |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(tok)
      |  WHERE t.tok <> ''),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
      |stops AS (
      |  SELECT w FROM toks, tot GROUP BY w, tot.n
      |  HAVING count(*) * $k > tot.n)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(count(*) FILTER (WHERE w IN (SELECT w FROM stops)) AS BIGINT)
      |         AS stop_tokens,
      |       CAST(1000 * count(*) FILTER (WHERE w IN (SELECT w FROM stops))
      |            // count(*) AS BIGINT) AS stop_pm
      |FROM toks GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // q127: 2-D data map — the joint (quality decile × length decile)
  // doc/token census behind dataset-cartography curation decisions
  // ("short-and-high-quality is instruction-like, long-and-low-quality
  // is boilerplate to crop, the sparse corners are annotation
  // targets"). Both axes use q84's EXACT equal-frequency binning,
  // bin = ⌊B·below/n⌋ over the value histogram — no approximate
  // ntile, no float quantiles, identical in both engines. Marginals
  // recover q84 exactly (spec-pinned), so the map is its faithful
  // 2-D refinement.
  //
  // Scale shape: ONE corpus pass builds the per-doc (q6, n_toks)
  // pairs; each axis histogram is a bounded partial-agg collapse
  // (q6 ≤ 10⁶+1 distinct micro-units under the executable q84
  // ceiling; lengths likewise), the two ≤10⁶-row bin maps broadcast
  // back, and the rollup is ≤ B² rows.
  // --------------------------------------------------------------------
  def dataMap(documents: DataFrame, bins: Int = 10): DataFrame = {
    require(bins > 0, s"need a positive bin count, got $bins")
    val perdoc = perDocQuality(documents)
    def binMap(valueCol: String, what: String): DataFrame =
      perdoc.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
        .select(col(valueCol),
          expr(s"""COALESCE(SUM(cnt) OVER (ORDER BY $valueCol
              | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"""
            .stripMargin).as("below"),
          expr(Guards.boundedWindowSql(1000001L, s"dataMap $what histogram",
            "SUM(cnt) OVER ()", "BIGINT")).as("nd"))
        .select(col(valueCol),
          expr(s"CAST((${bins}L * below) DIV nd AS INT)").as(s"${what}_bin"))
    perdoc
      .join(broadcast(binMap("q6", "q")), "q6")
      .join(broadcast(binMap("n_toks", "len")), "n_toks")
      .groupBy(col("q_bin"), col("len_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"))
      .orderBy(col("q_bin"), col("len_bin"))
  }

  val dataMapOracle: String = dataMapOracleAt(10)

  def dataMapOracleAt(bins: Int): String =
    s"""WITH perdoc AS (
      |  SELECT len(ts) AS n_toks, len(list_distinct(ts)) AS n_uniq,
      |         CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS tok_chars
      |  FROM (SELECT string_split_regex(lower(text), '\\s+') AS ts FROM documents)
      |  WHERE len(ts) > 0),
      |scored AS (
      |  SELECT n_toks,
      |         CAST(floor((
      |           0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) +
      |           0.3 * (CAST(n_uniq AS DOUBLE) / n_toks) +
      |           0.3 * least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0)
      |         ) * 1000000 + 0.5) AS BIGINT) AS q6
      |  FROM perdoc),
      |qh AS (SELECT q6, CAST(count(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
      |qm AS (
      |  SELECT q6, CAST($bins * COALESCE(SUM(cnt) OVER (ORDER BY q6
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         // SUM(cnt) OVER () AS INT) AS q_bin
      |  FROM qh),
      |lh AS (SELECT n_toks, CAST(count(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
      |lm AS (
      |  SELECT n_toks, CAST($bins * COALESCE(SUM(cnt) OVER (ORDER BY n_toks
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         // SUM(cnt) OVER () AS INT) AS len_bin
      |  FROM lh)
      |SELECT qm.q_bin, lm.len_bin, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(s.n_toks) AS BIGINT) AS tokens
      |FROM scored s JOIN qm ON qm.q6 = s.q6 JOIN lm ON lm.n_toks = s.n_toks
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // q128: per-source lexical diversity — type-token ratio and hapax
  // rate, the classic corpus-quality statistics that catch what
  // neither length nor stopword coverage does: template/boilerplate
  // sources read LOW TTR (few types, endlessly repeated) and LOW
  // hapax; OCR noise and random junk read pathologically HIGH hapax
  // (every error is a new "word"). Exact integer per-mille; the q105
  // vocabulary-growth curve shows WHEN new types arrive, this shows
  // each source's steady-state richness.
  //
  // Scale shape: reads the session-memoized docWords collapse; the
  // (source, word) sums partial-aggregate behind the doc-keyed stage
  // (the zipfian head token never keys a raw shuffle), and the final
  // rollup is |sources| rows.
  // --------------------------------------------------------------------
  def lexicalDiversity(documents: DataFrame): DataFrame =
    docWordsShared(documents)
      .groupBy(col("source"), col("w"))
      .agg(sum(col("n")).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("hapax"),
        expr("1000L * n_types DIV n_tokens").as("ttr_pm"),
        expr("1000L * hapax DIV n_types").as("hapax_pm"))
      .orderBy(col("source"))

  val lexicalDiversityOracle: String =
    """WITH sw AS (
      |  SELECT source, t.tok AS w, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(tok)
      |  WHERE t.tok <> '' GROUP BY 1, 2)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_types,
      |       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |       CAST(1000 * count(*) // SUM(cnt) AS BIGINT) AS ttr_pm,
      |       CAST(1000 * SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
      |            // count(*) AS BIGINT) AS hapax_pm
      |FROM sw GROUP BY source ORDER BY source""".stripMargin
}
