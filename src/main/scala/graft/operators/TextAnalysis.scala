package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for training-data pipelines (builder brief):
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure codegen-friendly Column expressions over `documents` — each is
  * a linear scan, embarrassingly parallel, no shuffle except the final
  * ORDER BY the harness requires.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  private val stopEs = Seq("el", "la", "los", "de", "y", "es", "un")
  private val stopFr = Seq("le", "la", "les", "et", "est", "un", "de")

  private def hits(words: Column, stops: Seq[String]): Column =
    size(filter(words, w => w.isin(stops: _*)))

  /** Gopher-style repetition signals (Rae et al. 2021, table A1 —
    * token-fraction variant) over (doc_id, text): the fraction of
    * n-gram INSTANCES claimed by the most frequent n-gram (n = 2, 3,
    * 4) and the duplicated-instance fraction at n = 5 and 10 —
    * boilerplate and degenerate text repeat at SOME width, and a
    * single width (q_text_repetition's bigrams) misses list-like or
    * templated repetition. All five widths ride ONE explode and ONE
    * (doc, n, gram) count shuffle — partial-aggregated, grams leave
    * the map side only as (key, count) rows — then collapse back to
    * one row per doc. Thresholds are Gopher's (0.20/0.18/0.16 top,
    * 0.15/0.10 dup); verdict = repetitive if ANY trips, spelled in
    * exact integer cross-multiplies so the boundary never rests on
    * float rounding. Exposed so PipelineSpec can drive the real logic
    * on planted repeats (the driver corpus verdicts are
    * oracle-covered). */
  def gopherRep(docs: DataFrame): DataFrame = {
    val widths = Seq(2, 3, 4, 5, 10)
    val grams = docs
      .withColumn("toks", split(lower(col("text")), " "))
      .select(col("doc_id"), explode(expr(
        s"""flatten(transform(array(${widths.mkString(",")}), n ->
              CASE WHEN size(toks) < n THEN array()
                   ELSE transform(sequence(0, size(toks) - n),
                          i -> named_struct('n', n,
                                 'gram', concat_ws(' ', slice(toks, i + 1, n))))
              END))""")).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
    val perGram = grams.groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("c"))
    val perN = perGram.groupBy("doc_id", "n")
      .agg(sum(col("c")).as("total"), max(col("c")).as("top"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"))
    def frac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      round(num.cast("double") / den.cast("double"), 4)
    // max over the single matching row (at most one row per (doc, n)
    // reaches the group) — NOT first(), whose default keeps nulls.
    def pick(n: Int, c: String) =
      max(when(col("n") === n, col(c))).as(s"${c}$n")
    val wide = perN.groupBy("doc_id")
      .agg(pick(2, "top"), pick(2, "total"), pick(3, "top"), pick(3, "total"),
        pick(4, "top"), pick(4, "total"), pick(5, "dup"), pick(5, "total"),
        pick(10, "dup"), pick(10, "total"))
    // Docs shorter than a width have no rows at that n → coalesce to
    // 0/1 so the fraction is 0, not null (a 3-token doc cannot be
    // 10-gram-repetitive).
    def f(num: String, den: String) =
      frac(coalesce(col(num), lit(0L)), coalesce(col(den), lit(1L)))
    // Integer cross-multiply verdict: num × 100 > thr × den.
    def trips(num: String, den: String, pct: Int) =
      coalesce(col(num), lit(0L)) * 100 > lit(pct) * coalesce(col(den), lit(1L))
    // LEFT join back onto the corpus: a doc with < 2 tokens has no
    // gram rows at ANY width and would otherwise vanish from the
    // output — a pipeline keeping verdict='ok' docs would silently
    // lose it. Every input doc gets a row (all-zero signals, 'ok').
    docs.select(col("doc_id")).join(wide, Seq("doc_id"), "left")
      .select(col("doc_id"),
        f("top2", "total2").as("top2_frac"),
        f("top3", "total3").as("top3_frac"),
        f("top4", "total4").as("top4_frac"),
        f("dup5", "total5").as("dup5_frac"),
        f("dup10", "total10").as("dup10_frac"),
        when(trips("top2", "total2", 20) || trips("top3", "total3", 18) ||
             trips("top4", "total4", 16) || trips("dup5", "total5", 15) ||
             trips("dup10", "total10", 10), "repetitive")
          .otherwise("ok").as("verdict"))
  }

  /** PII patterns, written in the Java-regex ∩ RE2 COMMON dialect
    * (character classes, bounded repetition, `\b`, `\d` — no
    * backreferences, no lookaround, no capturing groups) so Spark
    * (java.util.regex) and DuckDB (RE2) match byte-identically on the
    * ASCII corpora. Email is the pragmatic pipeline pattern (Dolma/
    * FineWeb-style), not RFC 5322; the IP pattern accepts any dotted
    * quad (masking 999.0.0.1 is the right failure mode for a privacy
    * screen — over-masking beats leaking). */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII screen over (doc_id, text): per-doc email/IP counts and the
    * masked text (every match replaced by a typed placeholder) — the
    * redaction pass every modern training pipeline runs before
    * release. Emails masked BEFORE IPs so a dotted quad inside an
    * email domain is consumed by the email placeholder, not
    * double-masked — and n_ips COUNTS on the email-masked text for the
    * same reason (round-9 advice: counting on the raw text made
    * `a@1.2.3.4.com` increment n_ips while producing no `<IP>`
    * placeholder — counts and mask disagreed; now n_ips is exactly the
    * number of `<IP>` substitutions). Pure per-row regex work: linear
    * scan, no shuffle, fully codegen'd. Driver corpora contain no PII
    * — all-zero counts with text unchanged IS the correct
    * oracle-checked answer there (same posture as
    * `q_quality_outliers`); the masking branch is proven on planted
    * PII in PipelineSpec. */
  def piiMask(docs: DataFrame): DataFrame = {
    val emailMasked = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(emailMasked, lit(IpRe), lit(0))).as("n_ips"),
      regexp_replace(emailMasked, IpRe, "<IP>").as("masked"))
  }

  /** READABILITY (Flesch reading-ease) in exact MILLI-POINTS — the
    * audience-level screen a curation pipeline runs next to the
    * quality score (a "children's encyclopedia" source scoring
    * postgraduate is mislabeled): F·1000 = 206835 − 1015·(words div
    * sentences applied as ONE fused div: 1015·words div sentences) −
    * 84600·(syllables div words, same fusing) — each term is a single
    * truncating division over nonnegative counts, so // == div and
    * the score is integer-exact. Heuristics chosen for bit-identical
    * cross-engine replay: syllables = vowel-group count
    * (regexp_extract_all('[aeiou]+') on the lowered text — the
    * classic approximation), sentences = period count floored at 1
    * (computed by length difference, not split — split's trailing
    * empty handling differs across engines). Banded at the textbook
    * 90/60/30 cuts (≥, milli). Pure projection — zero exchanges. */
  def readability(docs: DataFrame): DataFrame =
    readabilityWith(docs, Nil)

  /** [[readability]] with pass-through columns (the card carries
    * `source` — a projection column, NOT a corpus-sized join back). */
  private def readabilityWith(docs: DataFrame,
                              carry: Seq[String]): DataFrame =
    docs
      .select((col("doc_id") +: carry.map(col)) ++ Seq(
        size(split(lower(col("text")), " ")).cast("bigint").as("n_words"),
        greatest(
          (length(col("text")) -
            length(regexp_replace(col("text"), "\\.", ""))).cast("bigint"),
          lit(1L)).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"),
          lit(0))).cast("bigint").as("n_syllables")): _*)
      .withColumn("flesch_m", expr(
        """206835 - 1015 * n_words div n_sentences
           - 84600 * n_syllables div n_words"""))
      .withColumn("band", expr(
        """CASE WHEN flesch_m >= 90000 THEN 'very_easy'
                WHEN flesch_m >= 60000 THEN 'standard'
                WHEN flesch_m >= 30000 THEN 'difficult'
                ELSE 'very_difficult' END"""))
      .orderBy("doc_id")

  /** READABILITY CARD per source — [[readability]] rolled up to the
    * release table: per source, doc count, truncating mean Flesch
    * milli-score, and the four band counts (the shape that catches a
    * mislabeled source at a glance). One projection + one
    * partial-aggregated groupBy(source). */
  def readabilityCard(docs: DataFrame): DataFrame =
    readabilityWith(docs, Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        // Sign-split: a syllable-dense source can sum negative, and
        // truncating div != flooring // there (the Lloyd convention).
        expr("""CASE WHEN sum(flesch_m) >= 0
                     THEN sum(flesch_m) div count(1)
                     ELSE -((-sum(flesch_m)) div count(1)) END""")
          .as("mean_flesch_m"),
        sum(when(col("band") === "very_easy", 1L).otherwise(0L))
          .as("n_very_easy"),
        sum(when(col("band") === "standard", 1L).otherwise(0L))
          .as("n_standard"),
        sum(when(col("band") === "difficult", 1L).otherwise(0L))
          .as("n_difficult"),
        sum(when(col("band") === "very_difficult", 1L).otherwise(0L))
          .as("n_very_difficult"))
      .orderBy("source")

  /** Head size for the Zipf constancy audit. */
  val ZipfTopK = 50

  /** ZIPF RANK-FREQUENCY audit over the corpus head — the
    * distribution sanity check behind tokenizer/vocab decisions
    * without a single float: for the top-[[ZipfTopK]] tokens by
    * (count DESC, token ASC — total order), the rank, frequency, and
    * the r·f product Zipf's law predicts is ~constant (a head whose
    * r·f collapses after rank 3 is template text; one growing
    * linearly is uniform noise — both visible in the integer column
    * directly, no log-log fit needed). Rank is computed by a bounded
    * self-join COUNT over the K-row head (1 + rows ordered before) —
    * rank within the head equals global rank for head rows, and no
    * global window exists anywhere (the plan-suite ban); the head
    * itself is TakeOrderedAndProject (per-partition heaps). */
  def zipfAudit(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("tok")).limit(ZipfTopK)
    val other = top.select(col("tok").as("tok2"), col("n").as("n2"))
    top.crossJoin(broadcast(other))
      .groupBy("tok", "n")
      .agg((sum(when(col("n2") > col("n") ||
        (col("n2") === col("n") && col("tok2") < col("tok")), 1L)
        .otherwise(0L)) + 1L).as("rank"))
      .select(col("rank").cast("int").as("rank"), col("tok"),
        col("n").as("freq"), expr("rank * n").as("rf"))
      .orderBy("rank")
  }

  /** doc_id base for the PII plant set (disjoint from the corpus and
    * the image/audio plant ranges). */
  val PiiPlantBase = 3000000L

  /** The PII plant set for [[piiStats]] — the driver corpora carry no
    * PII, so without plants every branch of the incidence audit is
    * vacuously zero (the PhashPlantBase lesson); the set covers both
    * entity types, the email-eats-dotted-quad masking-order witness,
    * and a clean doc. Both engines replay the same union. */
  val PiiPlants: Seq[(Long, String, String)] = Seq(
    (PiiPlantBase + 1, "planted", "contact a@b.com and c@d.org today"),
    (PiiPlantBase + 2, "planted", "server at 10.0.0.1 failed"),
    (PiiPlantBase + 3, "planted", "x@1.2.3.4.com only"),
    (PiiPlantBase + 4, "planted", "clean text"))

  /** PII INCIDENCE audit per source — the release-gate table next to
    * [[piiMask]]'s row-level redaction: per source, how many docs
    * carry each entity type, total entity counts, and the any-PII doc
    * share in bp. Same regexes and the same email-before-IP counting
    * order as the mask (n_ips counts on the email-masked text, so a
    * dotted quad inside an email domain never counts — plant-pinned).
    * One regex projection + one partial-aggregated groupBy(source). */
  def piiStats(docs: DataFrame): DataFrame = {
    val emailMasked = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    docs
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("bigint").as("ne"),
        size(regexp_extract_all(emailMasked, lit(IpRe), lit(0)))
          .cast("bigint").as("ni"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ne") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(when(col("ni") > 0, 1L).otherwise(0L)).as("docs_with_ip"),
        sum(col("ne")).as("n_emails"),
        sum(col("ni")).as("n_ips"),
        sum(when(col("ne") > 0 || col("ni") > 0, 1L).otherwise(0L))
          .as("docs_with_any"))
      .withColumn("prevalence_bp",
        expr("docs_with_any * 10000 div n_docs"))
      .drop("docs_with_any")
      .orderBy("source")
  }

  /** Vocabulary floor and divisor for [[vocabCoverage]]'s derived
    * vocab size: V = max(8, n_distinct_tokens / 4) — a quarter of the
    * observed vocabulary, so OOV rates are meaningful on any corpus
    * (a V ≥ vocabulary would report 0.0 everywhere). */
  val VocabFloor = 8
  val VocabDiv = 4

  /** Tokenizer-coverage QA: induce a top-V vocabulary (count desc,
    * token asc — a TOTAL order, so the V boundary is deterministic in
    * both engines) and report each doc's out-of-vocabulary token rate.
    * The signal every pipeline checks before committing a tokenizer:
    * docs with high OOV against the corpus's own head vocabulary are
    * the ones a fixed vocab will shred into bytes.
    *
    * Scale shape: token counts partial-aggregate map-side (one 8-byte
    * count row per distinct token per partition); top-V is
    * TakeOrderedAndProject (per-partition heaps, never a global
    * window); the V-row vocab BROADCASTS into the per-doc coverage
    * join; per-doc counts partial-aggregate. The corpus shuffles only
    * (doc_id, counts) rows. The one driver action is the distinct-
    * token count that derives V — the same O(1)-row knob-derivation
    * action every derived-parameter key performs. */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("n"))
    val v = math.max(VocabFloor.toLong, counts.count() / VocabDiv).toInt
    val vocab = counts.orderBy(col("n").desc, col("tok").asc).limit(v)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 4))
  }

  /** Plant ids for the TTR witnesses (unioned at the KEY boundary —
    * the [[lmScoreBigram]] purity rule: operators stay pure over
    * their input). */
  val TtrPlantBase = 9300001L

  /** LEXICAL DIVERSITY audit — type-token ratio + hapax legomena: per
    * doc, total tokens, distinct types, types occurring exactly once,
    * and the TTR / hapax shares in integer basis points. The standard
    * corpus-quality signal pair: low TTR flags templated/repetitive
    * docs (the continuous cousin of `q_text_repetition`'s verdict),
    * high hapax share flags noisy token soup (OCR garbage, code
    * minification) that inflates vocabulary.
    *
    * Scale shape: two-level aggregation — (doc, token) counts
    * partial-aggregate map-side before the shuffle, then per-doc
    * reduction over count rows (8-byte rows, never token text beyond
    * level 1). No per-doc token arrays materialize, so a 100 MB
    * document costs its partition only streaming token rows. Docs
    * with zero non-empty tokens drop (no token rows reach level 1) —
    * same in both engines by construction. */
  def typeTokenRatio(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 10000 div n_tokens").as("ttr_bp"),
        expr("n_hapax * 10000 div n_types").as("hapax_bp"))

  /** The `q_text_search` query set — literal (query_id, text) pairs
    * over the corpus vocabulary, the tiny side of the search. */
  val SearchQueries: Seq[(Long, String)] = Seq(
    (1L, "spark window agg"),
    (2L, "customer order join"),
    (3L, "slow scan filter"))
  /** Results per query. */
  val SearchK = 10
  /** Integer idf scale: term weight = IdfScale div (df + 1) — a
    * monotone idf surrogate kept in EXACT integer arithmetic (a log()
    * idf is not bit-reproducible across engines; ranking needs
    * monotonicity in 1/df, not the logarithm itself). */
  val IdfScale = 1000000L

  /** Lexical top-k SEARCH over the corpus — the retrieval half of a
    * data-curation stack (audit queries like "which docs mention X",
    * nearest-text lookup for eval leakage triage). tf·idf-family
    * scoring: score(q, d) = Σ_t tf(t, d) × (IdfScale div (df(t) + 1)),
    * rank (score desc, doc_id asc), top k per query.
    *
    * Scale shape — the corpus NEVER shuffles: pass 1 computes df per
    * query term (per-row array_contains over the doc's own tokens →
    * partial-aggregated count, ≤|terms| rows out), folded into a 1-row
    * term→weight map that broadcasts back; pass 2 scores every query
    * row-locally against the doc's own token array (terms × |toks|
    * integer work per doc) and feeds the map-side-combining
    * [[graft.functions.TopK]] aggregator, so the only shuffle is
    * k × queries × partitions candidate rows. The classic inverted-
    * index explode (corpus-wide (doc, tok, tf) shuffle) is exactly
    * what this plan avoids. */
  def lexicalSearch(docs: DataFrame,
                    queries: Seq[(Long, String)] = SearchQueries,
                    k: Int = SearchK): DataFrame = {
    val terms = queries
      .flatMap(_._2.toLowerCase(java.util.Locale.ROOT).split(" ")).distinct
    val termArr = s"array(${terms.map(t => s"'$t'").mkString(",")})"
    val toksDf = docs.withColumn("toks", split(lower(col("text")), " "))
    // df per term: one partial-aggregating count over per-row membership
    // probes; collapses to ≤|terms| rows, then a 1-row weight map.
    val wmap = toksDf
      .select(explode(expr(
        s"filter($termArr, t -> array_contains(toks, t))")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .agg(map_from_entries(collect_list(struct(col("tok"),
        expr(s"${IdfScale}L div (df + 1)")))).as("wmap"))
    val qlit = queries.map { case (qid, q) =>
      val ts = q.toLowerCase(java.util.Locale.ROOT).split(" ").distinct
        .map(t => s"'$t'").mkString(",")
      s"named_struct('query_id', ${qid}L, 'terms', array($ts))"
    }.mkString(",")
    val scored = toksDf.crossJoin(broadcast(wmap)) // 1-row weight map
      .select(col("doc_id"), explode(expr(
        s"""transform(array($qlit), q -> named_struct(
              'query_id', q.query_id,
              'score', aggregate(q.terms, 0L, (acc, t) ->
                acc + size(filter(toks, x -> x = t)) *
                      coalesce(wmap[t], 0L))))""")).as("s"))
      .select(col("s.query_id").as("query_id"), col("doc_id"),
        col("s.score").as("score"))
      .filter(col("score") > 0)
    graft.functions.TopK.perKey(scored, "query_id", "score", "doc_id", k)
  }

  /** Corpus-token budget for [[bm25Search]] — bounds the DENOMINATOR
    * terms (9·dl·nd ≤ 9·tot² ≤ 2.3e16 under it) and the corpus sizes
    * a single-shard score is sensible for. The budget alone does NOT
    * bound the numerator (round-15 advice: wt·22·tf·tot_tok needs a
    * per-doc tf bound too — a long doc dense in one query term could
    * overflow under the token budget); [[Bm25TfTotBound]] closes that
    * side. Both seams fail LOUDLY, compute per shard. */
  val Bm25TokenBudget = 50000000L

  /** Per-term guard completing [[bm25Search]]'s overflow proof: the
    * widest product is wt·22·tf·tot_tok with wt ≤ IdfScale div 2
    * (df ≥ 1 for any term that scores) = 5·10⁵, so it fits a long iff
    * tf·tot_tok ≤ Long.Max div (22·5·10⁵) ≈ 8.385·10¹¹. A term whose
    * tf exceeds this div tot_tok raises instead of wrapping. */
  val Bm25TfTotBound = 838000000000L

  /** BM25-scored top-k SEARCH — [[lexicalSearch]]'s ranking upgraded
    * with the Robertson/Spärck Jones saturation + length
    * normalization (BM25; Robertson et al., TREC-3), kept EXACT in
    * integer arithmetic so the oracle hash-matches: k1 = 6/5 and
    * b = 3/4 as rationals, per-term contribution
    *
    *   wt(t) · (k1+1)·tf / (tf + k1·(1 − b + b·dl/avgdl))
    *     = wt(t) · 22·tf·tot div (10·tf·tot + 3·tot + 9·dl·nd)
    *
    * with dl = doc token count, tot = corpus token count, nd = docs
    * (avgdl = tot/nd never divides — the rational is cleared into one
    * integer numerator/denominator pair), truncating div per term,
    * summed. idf stays [[lexicalSearch]]'s integer surrogate
    * IdfScale div (df+1) — same df/tf frames, so the two rankers
    * differ ONLY in tf shaping, which is what the spec's flip fixture
    * isolates (a long doc's repeated term saturates; a short doc
    * wins). Overflow seams guard BOTH factors: beyond
    * [[Bm25TokenBudget]] corpus tokens, or a per-doc tf past
    * [[Bm25TfTotBound]] div tot_tok (the numerator's missing bound —
    * round-15 advice), the Spark side `raise_error`s rather than
    * silently wrapping (the keyness convention; DuckDB fails its own
    * overflow loudly). Under both guards the proof is complete:
    * numerator ≤ 5e5·22·8.385e11 < 2⁶³, denominator ≤ 2.3e16.
    *
    * Scale shape is lexicalSearch's verbatim: the corpus never
    * shuffles — df probes partial-aggregate to ≤|terms| rows, the
    * weight map and the 1-row (tot, nd) stats frame broadcast back,
    * scoring is row-local over the doc's own token array, and the only
    * shuffle is the map-side-combining TopK's k×queries×partitions
    * candidate rows. */
  def bm25Search(docs: DataFrame,
                 queries: Seq[(Long, String)] = SearchQueries,
                 k: Int = SearchK): DataFrame = {
    val terms = queries
      .flatMap(_._2.toLowerCase(java.util.Locale.ROOT).split(" ")).distinct
    val termArr = s"array(${terms.map(t => s"'$t'").mkString(",")})"
    val toksDf = docs.withColumn("toks", split(lower(col("text")), " "))
    val wmap = toksDf
      .select(explode(expr(
        s"filter($termArr, t -> array_contains(toks, t))")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .agg(map_from_entries(collect_list(struct(col("tok"),
        expr(s"${IdfScale}L div (df + 1)")))).as("wmap"))
    val stats = toksDf.agg(
      sum(size(col("toks"))).cast("bigint").as("tot_tok"),
      count(lit(1)).as("n_docs"))
    val qlit = queries.map { case (qid, q) =>
      val ts = q.toLowerCase(java.util.Locale.ROOT).split(" ").distinct
        .map(t => s"'$t'").mkString(",")
      s"named_struct('query_id', ${qid}L, 'terms', array($ts))"
    }.mkString(",")
    val scored = toksDf
      .crossJoin(broadcast(wmap))   // 1-row weight map
      .crossJoin(broadcast(stats))  // 1-row (tot_tok, n_docs)
      .select(col("doc_id"), explode(expr(
        s"""transform(array($qlit), q -> named_struct(
              'query_id', q.query_id,
              'score', CASE WHEN tot_tok > ${Bm25TokenBudget}L
                THEN raise_error('bm25: corpus exceeds the integer-score token budget; compute per shard (see bm25Search Scaladoc)')
                ELSE aggregate(
                  transform(q.terms, t -> named_struct(
                    'tf', CAST(size(filter(toks, x -> x = t)) AS BIGINT),
                    'wt', coalesce(wmap[t], 0L))),
                  0L, (acc, s) -> acc + (CASE WHEN s.tf = 0 THEN 0L
                    WHEN s.tf > ${Bm25TfTotBound}L div tot_tok
                    THEN raise_error('bm25: per-doc tf x corpus tokens exceeds the integer-score bound; compute per shard (see bm25Search Scaladoc)')
                    ELSE (s.wt * 22L * s.tf * tot_tok)
                         div (10L * s.tf * tot_tok + 3L * tot_tok
                              + 9L * size(toks) * n_docs) END)) END))""")).as("s"))
      .select(col("s.query_id").as("query_id"), col("doc_id"),
        col("s.score").as("score"))
      .filter(col("score") > 0)
    graft.functions.TopK.perKey(scored, "query_id", "score", "doc_id", k)
  }

  /** Unigram corpus-frequency LM score — the integer-exact stand-in for
    * the KenLM-perplexity quality filter every web-scale pipeline runs
    * (CCNet, Gopher, RefinedWeb): a document whose tokens are mostly
    * corpus-rare is noise (OCR garbage, misspellings, codes); one whose
    * tokens are mostly corpus-common is fluent boilerplate. Instead of
    * float log-probs (cross-engine ulp risk), the score is the MEAN
    * CORPUS FREQUENCY of the doc's token instances — monotone in
    * unigram likelihood, hash-exact both engines:
    *   - tf per (doc, token) partial-aggregates BEFORE any join, so the
    *     token-keyed shuffle carries distinct (doc, token) pairs, not
    *     raw token instances;
    *   - cf (corpus frequency) is one more partial aggregate of the
    *     same tf frame — AQE's exchange reuse collapses the two
    *     identical tf subtrees at runtime, so the corpus is scanned
    *     and tokenized ONCE per call (plan-asserted in PlanShapeSpec);
    *   - per-doc score = Σ tf·cf div Σ tf (integer floor), plus min cf
    *     (the rarest-token signal a mean hides).
    * At 100 TB the cf side is vocab-sized (heavy-tailed but bounded):
    * Catalyst broadcasts it when it fits (the plan here — tf never
    * shuffles on the token) and falls back to a token-keyed shuffle
    * join with AQE absorbing stop-word skew when it doesn't; every
    * aggregate is map-side partial. */
  /** Fixed-point scale for the backoff score's rational arithmetic —
    * 1e6 keeps every intermediate far inside BIGINT (Σ tf·s ≤ 1e6 ·
    * corpus bigram instances) while giving 6 digits of resolution. */
  val LmScale = 1000000L

  /** Planted score-side doc for the bigram key: an ODD id (never in
    * the even-id model slice) whose 'zzqx' token no model doc
    * contains, so the unseen-bigram backoff branch and the
    * unseen-unigram zero branch both have rows at EVERY SF (the
    * driver corpus's ~30-word vocabulary is fully covered by the
    * model slice, so without the plant the backoff arms would be
    * dead code at the verify SF — the q_decontaminate_fuzzy_planted
    * rule: an approximate/conditional path needs a planted witness).
    * Bigrams: (zzqx,the)/(zzqx,fast)/(zzqx,sort) hit the cf1(w2)
    * backoff, (the,zzqx)/(fast,zzqx) hit the zero branch. */
  val LmPlantId = 9000001L
  val LmPlantText = "zzqx the zzqx fast zzqx sort"

  /** BIGRAM LM score with STUPID BACKOFF (Brants et al. '07) against a
    * HELD-OUT model — the two-gram step from [[lmScore]] toward the
    * KenLM-perplexity filter, integer-exact in both engines. The model
    * is the even-doc_id half of the corpus (production trains the LM
    * on a reference corpus — CCNet uses Wikipedia — and scores
    * everything else; the half-split gives the same train/score
    * asymmetry without external data, and makes unseen bigrams REAL
    * for odd docs rather than structurally impossible):
    *
    *   - per bigram instance (w1, w2), fixed-point score s =
    *     (LmScale · cf2(w1,w2)) div cf1(w1)        if the model saw the
    *                                               bigram (the ML
    *                                               conditional);
    *     (2 · LmScale · cf1(w2)) div (5 · N)       else if it saw w2
    *                                               (stupid backoff,
    *                                               α = 0.4 = 2/5);
    *     0                                         else;
    *   - doc score = Σ tf·s div Σ tf, plus the backed-off instance
    *     count (the "how much of this doc the model has never seen"
    *     signal a mean hides).
    *
    * Scale shape: bigram tf partial-aggregates per (doc, w1, w2)
    * BEFORE any join; the model's cf2 is one more aggregate of the
    * SAME tf2 frame (the lmScore exchange-reuse economics); cf1/cf2
    * are vocab²-bounded so Catalyst broadcasts them when they fit and
    * falls back to token-keyed joins with AQE skew handling when they
    * don't; N folds to a 1-row broadcast. */
  def lmScoreBigram(docs: DataFrame): DataFrame = {
    // PURE over its input: the planted backoff witness is unioned by
    // the registered key (the q_decontaminate_report convention), not
    // here — an API caller's corpus that happens to contain doc_id
    // 9000001 must never have a fabricated doc's bigrams merged into
    // its score or an extra output row appended.
    val toks = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
    val bg = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ts) - 2),
             i -> named_struct('w1', ts[i], 'w2', ts[i + 1]))""")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // ONE model-half token pass (round-21, guide §2.4): cf1 feeds the
    // total and BOTH backoff joins — vocab-bounded, so materializing
    // it is free and saves two re-tokenizes. tf2's two consumers (cf2
    // and the score join) share an IDENTICAL exchange that AQE reuses
    // at runtime, and tf2 is the token-scale bigram frame — an A/B
    // this round measured its checkpoint as a net LOSS (the
    // materialization write outweighs one saved final-aggregate pass),
    // so tf2 stays lazy. Values unchanged either way.
    val tf2 = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val cf1 = toks.filter(col("doc_id") % 2 === 0)
      .select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cf"))
      .localCheckpoint(true) // multi-consumer: the total and both backoff joins
    val nTok = cf1.agg(sum(col("cf")).as("n"))
    val cf2 = tf2.filter(col("doc_id") % 2 === 0)
      .groupBy("w1", "w2").agg(sum(col("tf")).as("cf2"))
    tf2
      .join(cf2, Seq("w1", "w2"), "left")
      .join(cf1.select(col("w").as("w1"), col("cf").as("cf_w1")),
        Seq("w1"), "left")
      .join(cf1.select(col("w").as("w2"), col("cf").as("cf_w2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(nTok)) // 1-row N
      .select(col("doc_id"), col("tf"),
        expr(s"""CASE WHEN cf2 IS NOT NULL THEN ($LmScale * cf2) div cf_w1
                      WHEN cf_w2 IS NOT NULL
                        THEN (2 * $LmScale * cf_w2) div (5 * n)
                      ELSE 0 END""").as("s"),
        expr("CASE WHEN cf2 IS NULL THEN tf ELSE 0L END").as("bo"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        expr("sum(tf * s) div sum(tf)").as("sb_score"),
        sum(col("bo")).as("n_backoff"))
  }

  /** C4-style heuristic document filters (Raffel et al. '20 §2.2, the
    * doc-level members): terminal punctuation, a minimum word count,
    * the curly-brace code screen, the "lorem ipsum" placeholder screen,
    * and the boilerplate-policy-page screen. Output = one row per doc
    * with each signal as its own column plus the precedence-ordered
    * first-fail verdict (the corpus_filter cascade convention) — a
    * curation run reads the columns to tune, the verdict to act.
    * Pure projection: no shuffle at any scale; every rule is a
    * codegen'd string predicate. The driver corpus has no punctuation,
    * braces, or policy phrases, so the registered key unions
    * [[C4Plants]] — one witness per branch, incl. an all-pass doc. */
  val C4Plants: Seq[(Long, String)] = Seq(
    9200001L -> "this well formed planted sentence carries enough words to pass every single gate.",
    9200002L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor.",
    9200003L -> "function planted() { return code; } the brace rule catches this doc.",
    9200004L -> "tiny stub doc.",
    9200005L -> "please read our privacy policy and the terms of use before continuing here.")

  def c4Filters(docs: DataFrame): DataFrame = {
    val lo = lower(col("text"))
    val nWords = size(split(col("text"), " "))
    val endsPunct = expr("right(text, 1)").isin(".", "!", "?", "\"")
    val hasBrace = col("text").contains("{")
    val hasLorem = lo.contains("lorem ipsum")
    val hasPolicy = lo.contains("privacy policy") ||
      lo.contains("terms of use") || lo.contains("cookie policy")
    docs.select(col("doc_id"),
      nWords.cast("bigint").as("n_words"),
      endsPunct.as("ends_punct"),
      hasBrace.as("has_brace"),
      hasLorem.as("has_lorem"),
      hasPolicy.as("has_policy"),
      when(!endsPunct, "no_terminal_punct")
        .when(nWords < C4MinWords, "too_few_words")
        .when(hasBrace, "brace")
        .when(hasLorem, "lorem_ipsum")
        .when(hasPolicy, "policy_page")
        .otherwise("keep").as("verdict"))
  }

  /** C4's "at least three sentences"-adjacent floor, applied to words
    * (the corpus has single-line docs): verdict rule #2. */
  val C4MinWords = 5

  /** CCNet-style perplexity bucketing (Wenzek et al. '20 §4.3): within
    * each language, rank docs by LM score and cut the corpus into
    * head / middle / tail TERTILES — the mix knob pretraining recipes
    * cite ("CommonCrawl head"). The stand-in for KenLM perplexity is
    * [[lmScore]] (higher = more typical = head, so the orientation
    * matches low-perplexity = head).
    *
    * Scale shape: tertile cutoffs are a per-language TWO-VALUE exact
    * percentile aggregate (no window ever spans a language — the
    * q_corpus_recipe_expand lesson); bucket assignment is a per-row
    * compare against the broadcast 5-row cutoff frame. The exact
    * `percentile` buffers per-group values (the q_agg_percentile
    * caveat) — at 100 TB swap in percentile_approx exactly as the
    * sketch-twin convention does; verdicts then shift only at bucket
    * boundaries. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    // `scored` feeds both the cutoff aggregate and the bucket join —
    // checkpoint the doc-count-sized frame so the lmScore chain runs
    // once (round-21, the lmScore rule).
    val scored = lmScore(docs).select(col("doc_id"), col("lm_score"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint(true) // multi-consumer: cutoff aggregate and bucket join
    val cuts = scored.groupBy(col("lang"))
      .agg(expr(s"percentile(lm_score, ${CcnetP1})").as("c1"),
        expr(s"percentile(lm_score, ${CcnetP2})").as("c2"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("lm_score") >= col("c2"), "head")
          .when(col("lm_score") >= col("c1"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Tertile points as exact decimal literals — the SAME literal text
    * is spliced into the Spark expression and the DuckDB oracle, so
    * both engines parse the identical double and the interpolated
    * percentile arithmetic ((n-1)·p, linear between neighbors) is
    * bit-identical. */
  val CcnetP1 = "0.3333333333333333"
  val CcnetP2 = "0.6666666666666666"

  def lmScore(docs: DataFrame): DataFrame = {
    // ONE corpus tokenize (round-21, guide §2.4): tf feeds both the cf
    // derivation and the score join — left lazy, the scan+explode+agg
    // subtree runs once per consumer (and once more per consumer of
    // every CALLER: ccnetBuckets' measured plan re-tokenized the
    // corpus 4×, 12 parquet scans). Values unchanged.
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // multi-consumer: cf derivation and score join
    val cf = tf.groupBy("tok").agg(sum(col("tf")).as("cf"))
    tf.join(cf, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        expr("sum(tf * cf) div sum(tf)").as("lm_score"),
        min(col("cf")).as("min_cf"))
  }

  /** The langid prediction frame — doc_id, labeled lang, per-language
    * stopword hits, and the ordered-argmax prediction; shared by
    * `q_text_langid` (per-doc view) and `q_text_langid_confusion`
    * (the grouped audit), so the two can never disagree on the rule. */
  private def langidPlan(docs: DataFrame): DataFrame = {
    val words = split(lower(col("text")), " ")
    val (en, de, es, fr) =
      (hits(words, stopEn), hits(words, stopDe),
        hits(words, stopEs), hits(words, stopFr))
    docs.select(col("doc_id"), col("lang"),
      en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
      when(greatest(en, de, es, fr) === 0, "und")
        .when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es")
        .otherwise("fr").as("pred_lang"))
  }

  /** Minimum in-source frequency for a keyness row — kills the
    * hapax noise floor before the ratio can flatter it. */
  val KeynessMinTf = 5L

  /** A token is DISTINCTIVE iff its +1-smoothed in-source rate
    * STRICTLY exceeds its rest-of-corpus rate (lift > 10⁴ bp = above
    * parity; the exactly-at-parity token is not reported,
    * spec-pinned). Parity is the non-vacuous operating point for the
    * driver corpus, whose per-source signature tokens sit at
    * 10–16.5k bp across every SF — a 1.5× bar reports nothing. */
  val KeynessLiftBp = 10000L

  /** DISTINCTIVE VOCABULARY per source (keyness) — the
    * domain-signature report behind mixing and contamination triage
    * (a "general web" source whose key terms are SKU codes is a
    * product dump): per (source, token) with tf ≥ [[KeynessMinTf]],
    * the rate-ratio lift tf_s·N_rest·10⁴ div (N_s·(tf_rest+1))
    * (+1-smoothed against zero rest counts), reported iff STRICTLY
    * above [[KeynessLiftBp]]. A THRESHOLD report, not a top-k: no
    * rank window, no tie rule, fully order-free. Overflow: the
    * tf·N·10⁴ product caps at ~5e15 for 5M-token shards; past that,
    * compute per shard (documented seam, the embDimStats convention).
    * The seam FAILS LOUDLY on both engines (round-14 advice): DuckDB
    * raises on BIGINT overflow natively, and the Spark side guards
    * with `raise_error` once n_all exceeds 3·10⁷ tokens (the bound
    * under which tf·(n_all−n_s)·10⁴ < n_all²·10⁴ ≤ 9.0e18 provably
    * fits a long) — a silent Long wrap can never ship a
    * plausible-looking wrong lift.
    *
    * Scale shape: tf partial-aggregates on (source, tok); the rest
    * frame is the same aggregate re-keyed on tok — the join keys both
    * sides on tok (co-partitioned); per-source totals broadcast. */
  def keyness(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf_s"))
    val tfAll = tf.groupBy("tok").agg(sum(col("tf_s")).as("tf_all"))
    val totals = tf.groupBy("source").agg(sum(col("tf_s")).as("n_s"))
    val nAll = totals.agg(sum(col("n_s")).as("n_all"))
    tf.join(tfAll, Seq("tok"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("tok"), col("tf_s"),
        (col("tf_all") - col("tf_s")).as("tf_rest"),
        expr("""CASE WHEN n_all > 30000000 THEN raise_error(
                  'keyness: corpus exceeds the 3e7-token integer-lift budget; compute per shard (see keyness Scaladoc)')
                ELSE tf_s * (n_all - n_s) * 10000
                     div (n_s * (tf_all - tf_s + 1)) END""").as("lift_bp"))
      .filter(col("tf_s") >= KeynessMinTf &&
        col("lift_bp") > KeynessLiftBp)
      .orderBy("source", "tok")
  }

  /** VOCABULARY GROWTH (Heaps-law) curve — distinct types vs token
    * instances at ten doc_id-prefix cutoffs: the scale diagnostic
    * behind tokenizer sizing and dedup health (a corpus whose type
    * curve flattens early is recycling text; one growing linearly is
    * noise/IDs). Order-dependent by construction (prefixes in doc_id
    * order), so the cumulative TYPE count derives from each token's
    * FIRST doc — one token-keyed min aggregate, after which every
    * cutoff is a filter over the distinct-type frame: the corpus is
    * tokenized ONCE, never ten times. Cumulation is the bounded
    * cuts-crossJoin (each doc/type row joins the ≤ 10 cut rows it
    * precedes — no global window, which the plan suite bans;
    * inflation is ×10 on the doc- and type-count frames, not on
    * token instances). All integer: cutoffs mx·k div 10, TTR in bp. */
  def heapsCurve(docs: DataFrame): DataFrame = {
    val cuts = docs.agg(max(col("doc_id")).as("mx"))
      .select(explode(expr("sequence(1, 10)")).as("k"), col("mx"))
      .select(col("k").cast("int").as("k"),
        expr("mx * k div 10").as("cut_doc_id"))
    val perDoc = docs.select(col("doc_id"),
      size(split(lower(col("text")), " ")).cast("bigint").as("n"))
    val firsts = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(min(col("doc_id")).as("fd"))
    val tokensCum = perDoc.crossJoin(broadcast(cuts))
      .filter(col("doc_id") <= col("cut_doc_id"))
      .groupBy("k").agg(sum(col("n")).as("n_tokens_cum"))
    val typesCum = firsts.crossJoin(broadcast(cuts))
      .filter(col("fd") <= col("cut_doc_id"))
      .groupBy("k").agg(count(lit(1)).as("n_types_cum"))
    cuts.join(tokensCum, Seq("k")).join(typesCum, Seq("k"))
      .select(col("k").as("decile"), col("cut_doc_id"),
        col("n_tokens_cum"), col("n_types_cum"),
        expr("n_types_cum * 10000 div n_tokens_cum").as("ttr_bp"))
      .orderBy("decile")
  }

  /** [[heapsCurve]] PER SOURCE — the curve that localizes recycling:
    * a flat per-source type curve flags THAT source as template/dup
    * text even when the corpus-level curve looks healthy (big diverse
    * sources mask a recycled one). Same first-doc derivation keyed by
    * (source, tok) and the same global decile cutoffs; inner joins
    * drop a source's empty prefixes identically in both engines. */
  def heapsCurveBySource(docs: DataFrame): DataFrame = {
    val cuts = docs.agg(max(col("doc_id")).as("mx"))
      .select(explode(expr("sequence(1, 10)")).as("k"), col("mx"))
      .select(col("k").cast("int").as("k"),
        expr("mx * k div 10").as("cut_doc_id"))
    val perDoc = docs.select(col("source"), col("doc_id"),
      size(split(lower(col("text")), " ")).cast("bigint").as("n"))
    val firsts = docs
      .select(col("source"), col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("source", "tok").agg(min(col("doc_id")).as("fd"))
    val tokensCum = perDoc.crossJoin(broadcast(cuts))
      .filter(col("doc_id") <= col("cut_doc_id"))
      .groupBy("source", "k").agg(sum(col("n")).as("n_tokens_cum"))
    val typesCum = firsts.crossJoin(broadcast(cuts))
      .filter(col("fd") <= col("cut_doc_id"))
      .groupBy("source", "k").agg(count(lit(1)).as("n_types_cum"))
    tokensCum.join(typesCum, Seq("source", "k"))
      .join(broadcast(cuts), Seq("k"))
      .select(col("source"), col("k").as("decile"), col("cut_doc_id"),
        col("n_tokens_cum"), col("n_types_cum"),
        expr("n_types_cum * 10000 div n_tokens_cum").as("ttr_bp"))
      .orderBy("source", "decile")
  }

  /** Merge rounds for the BPE trainer — the classic "few thousand" is
    * the production setting; 10 keeps the oracle's unrolled SQL replay
    * bounded while exercising every mechanism (pair counting, argmax
    * tie rule, merge application, re-counting under merges). */
  val BpeMerges = 10

  /** Segment width (tokens) for the code-switching detector — small
    * enough that a two-language document yields segments of each. */
  val LangMixSegTokens = 20

  /** A document is MIXED iff its dominant language holds STRICTLY
    * less than this share of segments (the exactly-80% doc is NOT
    * mixed — spec-pinned). */
  val LangMixDomBp = 8000L

  /** CODE-SWITCHING / language-mixing detection — the per-SEGMENT
    * refinement of `q_text_langid` (a whole-doc argmax calls a 60/40
    * EN/DE document "en" and hides the mixing that poisons
    * monolingual training slices): the token stream splits into
    * [[LangMixSegTokens]]-token segments, each labeled by the SAME
    * stopword-argmax rule (shared tie cascade, so the two keys can
    * never disagree on a single-segment doc), then per doc the
    * dominant label's segment share (bp, truncating), the count of
    * adjacent-segment label SWITCHES (the code-switching signal
    * proper), and the mixed verdict (dominant share < 80%, strict).
    *
    * Scale shape: ENTIRELY array-native inside one projection —
    * segments are slices of the doc's own token array, labels a
    * transform over them, switches a positional filter; no explode,
    * no re-group, ZERO exchanges at any corpus size (the
    * `q_text_c4_filters` cost class). */
  def langMix(docs: DataFrame): DataFrame = {
    def inList(l: Seq[String]) = l.map("'" + _ + "'").mkString(",")
    def segHits(lang: String, stops: Seq[String]) =
      s"size(filter(slice(ws, k * $LangMixSegTokens + 1, $LangMixSegTokens), " +
        s"w -> w IN (${inList(stops)}))) AS h_$lang"
    // Per-segment hit struct (each filter evaluated once), then the
    // SAME ordered argmax cascade as [[langidPlan]].
    val hitsArr = s"""transform(
        sequence(0, (greatest(size(ws), 1) + ${LangMixSegTokens - 1})
                    div $LangMixSegTokens - 1),
        k -> struct(${segHits("en", stopEn)}, ${segHits("de", stopDe)},
                    ${segHits("es", stopEs)}, ${segHits("fr", stopFr)}))"""
    val labelsCol = s"""transform($hitsArr, h ->
        CASE WHEN greatest(h.h_en, h.h_de, h.h_es, h.h_fr) = 0 THEN 'und'
             WHEN h.h_en >= h.h_de AND h.h_en >= h.h_es
                  AND h.h_en >= h.h_fr THEN 'en'
             WHEN h.h_de >= h.h_es AND h.h_de >= h.h_fr THEN 'de'
             WHEN h.h_es >= h.h_fr THEN 'es'
             ELSE 'fr' END)"""
    def cnt(l: String) = s"size(filter(labels, l -> l = '$l'))"
    docs
      .select(col("doc_id"),
        split(lower(col("text")), " ").as("ws"))
      .select(col("doc_id"), expr(labelsCol).as("labels"))
      .select(col("doc_id"),
        size(col("labels")).cast("bigint").as("n_segments"),
        expr(s"CAST(${cnt("en")} AS BIGINT)").as("c_en"),
        expr(s"CAST(${cnt("de")} AS BIGINT)").as("c_de"),
        expr(s"CAST(${cnt("es")} AS BIGINT)").as("c_es"),
        expr(s"CAST(${cnt("fr")} AS BIGINT)").as("c_fr"),
        expr(s"CAST(${cnt("und")} AS BIGINT)").as("c_und"),
        // sequence(1, 0) counts DOWN in Spark (the bpeSymSql lesson):
        // guard the single-segment doc explicitly.
        expr("""CAST(CASE WHEN size(labels) < 2 THEN 0 ELSE
            size(filter(sequence(1, size(labels) - 1),
              k -> element_at(labels, k + 1) != element_at(labels, k)))
            END AS BIGINT)""").as("n_switches"))
      .withColumn("dom_lang", expr(
        """CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
                     AND c_en >= c_und THEN 'en'
                WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_und THEN 'de'
                WHEN c_es >= c_fr AND c_es >= c_und THEN 'es'
                WHEN c_fr >= c_und THEN 'fr'
                ELSE 'und' END"""))
      .withColumn("dom_share_bp", expr(
        """greatest(c_en, c_de, c_es, c_fr, c_und) * 10000
           div n_segments"""))
      .withColumn("mixed", col("dom_share_bp") < LangMixDomBp)
      .select("doc_id", "n_segments", "dom_lang", "dom_share_bp",
        "n_switches", "mixed")
      .orderBy("doc_id")
  }

  /** ' c h a r s ' — a word as space-separated character symbols with
    * sentinel pads, the string representation every BPE step rewrites.
    * Both engines enumerate chars by position (no empty-regex split —
    * its edge cases differ across engines); callers must filter empty
    * words first (Spark's sequence(1, 0) counts DOWN). */
  private def bpeSymSql(word: String): String =
    s"concat(' ', array_join(transform(sequence(1, length($word)), " +
      s"i -> substring($word, i, 1)), ' '), ' ')"

  /** BPE MERGE TRAINING (Sennrich et al. '16), deterministic and
    * oracle-replayable — the tokenizer-training step of an LLM data
    * pipeline (`q_text_token_count` counts tokens; THIS learns them):
    *
    *   1. word-frequency pass over the corpus (the vocab-bounding
    *      step real BPE trainers start with — after it, training cost
    *      is VOCAB-sized, independent of corpus size);
    *   2. each word becomes ' c h a r s ' (no end-of-word marker —
    *      words are separate strings, merges cannot cross them);
    *   3. [[BpeMerges]] rounds of: count adjacent symbol pairs
    *      weighted by word frequency → pick argmax (count DESC, then
    *      (left, right) ASC — a total order, so both engines pick the
    *      same pair) → apply the merge.
    *
    * MERGE APPLICATION SEMANTICS: leftmost non-overlapping via string
    * `replace(' l r ' → ' lr ')` — scan resumes after each match, so
    * a run like `a a a a` merges once per occurrence scan (` aa a a `),
    * not pairwise-greedy. This is the ONE deliberate divergence from
    * the reference implementation's run handling, chosen because
    * replace() has bit-identical semantics in Spark and DuckDB — the
    * oracle replays training exactly, which a "faithful" but
    * unreplayable loop could not claim. The sentinel pads make a
    * symbol boundary exactly one space, so a pattern can never match
    * across symbols ('xa b' does not contain ' a b ').
    *
    * Scale shape: the corpus is touched ONCE (word count); every
    * round is a vocab-sized explode + partial-aggregated count and a
    * 1-row argmax (the bounded driver action, like the IVF cell
    * list); the vocab frame re-checkpoints per round. Output: the
    * merge table (rank, left, right, merged, pair_count) — the
    * artifact a tokenizer ships. */
  def bpeTrain(docs: DataFrame,
               nMerges: Int = BpeMerges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var state = wf
      .select(col("cnt"), expr(bpeSymSql("word")).as("sym"))
      .localCheckpoint(true) // iterative cut: BPE round-0 symbols
    val merges = scala.collection.mutable.ArrayBuffer[
      (Int, String, String, String, Long)]()
    for (r <- 1 to nMerges) {
      val best = state
        .select(col("cnt"), split(trim(col("sym")), " ").as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(0, size(ts) - 2),
               i -> named_struct('l', ts[i], 'r', ts[i + 1]))""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      require(best.nonEmpty,
        s"BPE pair space exhausted at round $r — corpus too small for $nMerges merges")
      val (l, rr, pc) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((r, l, rr, l + rr, pc))
      state = state
        .withColumn("sym", replace(col("sym"),
          lit(" " + l + " " + rr + " "), lit(" " + l + rr + " ")))
        .localCheckpoint(true) // iterative cut: one BPE merge round
    }
    merges.toSeq.toDF("rk", "left", "right", "merged", "pair_count")
      .withColumn("rk", col("rk").cast("int"))
  }

  /** ONE trained merge table per CORPUS STATE — the merge table is
    * exactly the artifact a tokenizer trains once and ships: it
    * persists through the warehouse keyed on the documents fingerprint
    * (round-17), so a warm process registers + reads [[BpeMerges]]
    * rows where a cold one pays the sequential training rounds.
    * Deterministic training (spec-pinned) ⟹ reuse == rebuild. */
  private[graft] def bpeMergesArtifact(s: SparkSession,
                                       dir: String): DataFrame =
    Artifacts.store(s, "bpe_merges", dir, "documents")(
      bpeTrain(Tables.documents(s, dir)))((_, _) => None)

  /** APPLY the trained merges: per doc, symbolize every word and run
    * the merge table in rank order (same replace semantics as
    * training), then count the resulting BPE tokens — the segmentation
    * a packing/budgeting stage bills by. The merge table is the
    * driver-resident trained artifact (ships broadcast in production);
    * application is one partition-local pass, corpus never shuffles. */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val wordSym = expr(
      s"""transform(filter(split(lower(text), ' '), w -> length(w) > 0),
            w -> ${bpeSymSql("w")})""")
    val merged = merges.foldLeft[Column](wordSym) { case (c, (l, r)) =>
      transform(c, s => replace(s,
        lit(" " + l + " " + r + " "), lit(" " + l + r + " ")))
    }
    docs.select(col("doc_id"), merged.as("syms"))
      .select(col("doc_id"),
        size(col("syms")).as("n_words"),
        coalesce(aggregate(col("syms"), lit(0L),
          (acc, s) => acc + size(split(trim(s), " "))), lit(0L))
          .cast("bigint").as("n_bpe_tokens"))
  }

  val queries: Map[String, Q] = Map(
    // BPE merge training — see [[bpeTrain]]: the learned merge table,
    // replayed round for round by the oracle's unrolled SQL (the
    // Lloyd-unroll pattern on strings).
    "q_text_bpe_train" -> ((s, dir) =>
      bpeMergesArtifact(s, dir).orderBy("rk")),

    // The trained merges applied back to the corpus: per-doc BPE token
    // counts under the learned segmentation.
    "q_text_bpe_apply" -> ((s, dir) => {
      val m = bpeMergesArtifact(s, dir).orderBy("rk")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      bpeApply(Tables.documents(s, dir), m).orderBy("doc_id")
    }),

    // The OTHER half of the shipped tokenizer artifact (merges +
    // vocab): the final symbol vocabulary with corpus frequencies —
    // the word-frequency frame re-symbolized under the full merge
    // chain and exploded to symbols. Vocab-sized end to end.
    "q_text_bpe_vocab" -> ((s, dir) => {
      val m = bpeMergesArtifact(s, dir).orderBy("rk")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val wf = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val sym = m.foldLeft(expr(bpeSymSql("word"))) { case (c, (l, r)) =>
        replace(c, lit(" " + l + " " + r + " "), lit(" " + l + r + " "))
      }
      wf.select(col("cnt"), explode(split(trim(sym), " ")).as("symbol"))
        .groupBy("symbol").agg(sum(col("cnt")).as("freq"))
        .orderBy("symbol")
    }),

    // Tokenizer FERTILITY audit (round 16): BPE tokens per whitespace
    // word, per language, in basis points — the table a multilingual
    // pipeline reads to see which languages the trained tokenizer
    // fragments (fertility ≫ 10000 ⟹ under-merged scripts get fewer
    // effective context tokens). Reuses the cached merge artifact and
    // the bpeApply chain; one ≤-langs-group aggregate on top.
    "q_text_bpe_fertility" -> ((s, dir) => {
      val m = bpeMergesArtifact(s, dir).orderBy("rk")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      bpeApply(Tables.documents(s, dir), m)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_words").cast("bigint")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          expr("n_bpe_tokens * 10000 div n_words").as("fertility_bp"))
        .orderBy("lang")
    }),

    // Lexical top-k search — see [[lexicalSearch]]: integer tf·idf
    // scoring, corpus scored row-locally, map-side TopK per query.
    "q_text_search" -> ((s, dir) =>
      lexicalSearch(Tables.documents(s, dir))
        .orderBy("query_id", "rk")),

    // BM25 top-k search — see [[bm25Search]]: saturation + length
    // normalization as exact integer rationals over the same df/tf
    // frames; same row-local scoring plan.
    "q_text_bm25" -> ((s, dir) =>
      bm25Search(Tables.documents(s, dir))
        .orderBy("query_id", "rk")),

    // Unigram-LM quality score — see [[lmScore]]: mean corpus frequency
    // of the doc's tokens + rarest-token frequency, integer-exact.
    "q_text_lm_score" -> ((s, dir) =>
      lmScore(Tables.documents(s, dir)).orderBy("doc_id")),

    // Bigram stupid-backoff LM score vs the held-out even-id model —
    // see [[lmScoreBigram]]: fixed-point ML conditional / α=2/5
    // backoff / zero, mean per doc + backed-off instance count. The
    // planted backoff witness (LmPlantId/LmPlantText) unions HERE,
    // at the key boundary — the operator itself is pure.
    "q_text_lm_score_bigram" -> ((s, dir) => {
      import s.implicits._
      val plant = Seq((LmPlantId, LmPlantText)).toDF("doc_id", "text")
      lmScoreBigram(Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).unionByName(plant))
        .orderBy("doc_id")
    }),

    // C4 heuristic doc filters — see [[c4Filters]]; plants union at
    // the key boundary (one witness per branch; the real corpus fails
    // the terminal-punctuation rule wholesale, which the flag columns
    // make visible rather than hiding).
    "q_text_c4_filters" -> ((s, dir) => {
      import s.implicits._
      c4Filters(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .unionByName(C4Plants.toDF("doc_id", "text")))
        .orderBy("doc_id")
    }),

    // CCNet head/middle/tail perplexity tertiles per language — see
    // [[ccnetBuckets]].
    "q_corpus_ccnet_buckets" -> ((s, dir) =>
      ccnetBuckets(Tables.documents(s, dir)).orderBy("doc_id")),

    // n-gram-heuristic language ID: stopword-hit argmax with ordered
    // tie-break (en > de > es > fr > und), mirroring the ordered-cascade
    // classification shape of agent-loop.sh:399-411.
    "q_text_langid" -> ((s, dir) =>
      langidPlan(Tables.documents(s, dir))
        .select("doc_id", "s_en", "s_de", "s_es", "s_fr", "pred_lang")
        .orderBy("doc_id")),

    // Classifier AUDIT: predicted vs labeled language as a confusion
    // matrix — the table that tells you WHERE the heuristic fails
    // (which labeled langs bleed into which predictions) before you
    // trust its verdicts on a corpus slice. Same prediction frame as
    // q_text_langid; one grouped count over ≤ langs² rows.
    "q_text_langid_confusion" -> ((s, dir) =>
      langidPlan(Tables.documents(s, dir))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang")),

    // Code-switching detection: per-segment langid, dominant share,
    // adjacent-label switch count — see [[langMix]].
    "q_text_lang_mix" -> ((s, dir) =>
      langMix(Tables.documents(s, dir))),

    // Heaps-law vocabulary growth at doc_id-prefix deciles — see
    // [[heapsCurve]].
    "q_text_heaps" -> ((s, dir) =>
      heapsCurve(Tables.documents(s, dir))),

    // Distinctive vocabulary per source — see [[keyness]].
    "q_text_keyness" -> ((s, dir) =>
      keyness(Tables.documents(s, dir))),

    // Quality scoring: length band + stopword ratio + mean word length,
    // composed into an integer 0-3 score (exact arithmetic only).
    "q_text_quality" -> ((s, dir) => {
      val words = split(lower(col("text")), " ")
      val wc = size(words)
      val letters = length(regexp_replace(col("text"), " ", ""))
      val stopRatio = hits(words, stopEn).cast("double") / wc.cast("double")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          wc.as("n_words"),
          round(letters.cast("double") / wc.cast("double"), 4).as("avg_word_len"),
          round(stopRatio, 4).as("stop_ratio"),
          (when(col("n_chars").between(100, 500), 1).otherwise(0) +
           when(wc >= 20, 1).otherwise(0) +
           when(stopRatio > 0, 1).otherwise(0)).as("quality"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens, BPE-ish regex pieces, and the
    // chars/4 estimate every LLM pipeline uses for budgeting.
    "q_text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("bpe_ish"),
          // pure-integer div: same form as the oracle's (n_chars + 3) // 4,
          // so no side ever rounds through a double
          expr("(n_chars + 3) div 4").as("est_tokens"))
        .orderBy("doc_id")),

    // Lexical diversity — see [[typeTokenRatio]]. Witness plants union
    // at the KEY boundary (operator stays pure): an all-repeat doc
    // (hapax 0), an all-hapax doc (ttr 10000), and a double-space doc
    // proving the empty-token filter.
    "q_text_ttr" -> ((s, dir) => {
      import s.implicits._
      val plants = Seq(
        (TtrPlantBase, "dup dup dup dup"),
        (TtrPlantBase + 1, "one two three"),
        (TtrPlantBase + 2, "a  b")).toDF("doc_id", "text")
      typeTokenRatio(
        Tables.documents(s, dir).select("doc_id", "text").union(plants))
        .orderBy("doc_id")
    }),

    // Text normalization — the cleaning pass every corpus gets before
    // tokenization: lowercase, strip non-text characters, collapse
    // whitespace runs, trim. Reports the byte delta so the pipeline can
    // monitor how destructive cleaning is.
    "q_text_clean" -> ((s, dir) => {
      val cleaned = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 .,]", " "), " +", " "))
      Tables.documents(s, dir)
        .select(col("doc_id"), cleaned.as("cleaned"),
          (col("n_chars") - length(cleaned)).cast("bigint").as("chars_removed"))
        .orderBy("doc_id")
    }),

    // Composite corpus gate — the keep/drop decision with a first-fail
    // reason, precedence-ordered like every routing cascade in the
    // reference: length band first, then content checks.
    "q_corpus_filter" -> ((s, dir) => {
      val words = split(lower(col("text")), " ")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("n_chars") < 100, "too_short")
            .when(col("n_chars") > 500, "too_long")
            .when(hits(words, stopEn) === 0, "no_stopwords")
            .when(size(words) < 20, "too_few_words")
            .otherwise("keep").as("verdict"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split — hash-of-key assignment (90/5/5),
    // the standard reproducible split for training corpora: stable under
    // reruns, additions, and repartitioning (never rand()-based, which
    // breaks on retry). md5-fold keeps it cross-engine checkable.
    "q_text_split" -> ((s, dir) => {
      val bucket = expr(
        graft.Tables.md5FoldBucketSql("cast(doc_id as string)", 100))
      Tables.documents(s, dir)
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // Corpus bigram frequency — the statistics table a tokenizer/LM data
    // pipeline computes. Explode is linear; the count shuffles one row
    // per (bigram × partition); top-100 is TakeOrderedAndProject.
    "q_text_ngram_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", split(lower(col("text")), " "))
        .select(explode(expr(
          """CASE WHEN size(toks) < 2 THEN array()
                  ELSE transform(sequence(0, size(toks) - 2),
                                 i -> concat_ws(' ', toks[i], toks[i+1]))
             END""")).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(100)
        .orderBy("bigram")),

    "q_corpus_pipeline" -> ((s, dir) => corpusPipeline(Tables.documents(s, dir))),

    // Gopher-style repetition signals — see [[gopherRep]].
    "q_text_gopher_rep" -> ((s, dir) =>
      gopherRep(Tables.documents(s, dir)).orderBy("doc_id")),

    // Zipf head audit — see [[zipfAudit]].
    "q_text_zipf" -> ((s, dir) =>
      zipfAudit(Tables.documents(s, dir))),

    // Flesch reading-ease in exact milli-points — see [[readability]].
    "q_text_readability" -> ((s, dir) =>
      readability(Tables.documents(s, dir))),

    // Per-source readability release card — see [[readabilityCard]].
    "q_text_readability_card" -> ((s, dir) =>
      readabilityCard(Tables.documents(s, dir))),

    // Per-source vocabulary-growth curves — see [[heapsCurveBySource]].
    "q_text_heaps_by_source" -> ((s, dir) =>
      heapsCurveBySource(Tables.documents(s, dir))),

    // Per-source PII incidence over corpus ∪ plants — see [[piiStats]]
    // and [[PiiPlants]].
    "q_text_pii_stats" -> ((s, dir) => {
      import s.implicits._
      piiStats(Tables.documents(s, dir).select("doc_id", "source", "text")
        .unionByName(PiiPlants.toDF("doc_id", "source", "text")))
    }),

    // PII screen — see [[piiMask]]. Zero hits on the driver corpora is
    // the correct answer; the masking branch is PipelineSpec-proven.
    "q_text_pii_mask" -> ((s, dir) =>
      piiMask(Tables.documents(s, dir)).orderBy("doc_id")),

    // Tokenizer-coverage QA — see [[vocabCoverage]].
    "q_text_vocab_coverage" -> ((s, dir) =>
      vocabCoverage(Tables.documents(s, dir)).orderBy("doc_id")),

    // Bag-of-words fingerprint: sha256 of the sorted distinct word set —
    // catches reordered near-dups that exact hashing misses; cluster size
    // via a window on the fingerprint.
    "q_text_fingerprint" -> ((s, dir) => {
      val fp = sha2(
        array_join(array_sort(array_distinct(split(lower(col("text")), " "))), " "), 256)
      Tables.documents(s, dir)
        .select(col("doc_id"), fp.as("fingerprint"))
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")))
        .orderBy("doc_id")
    }),
  )

  /** The capstone composition — the complete training-data flow as ONE
    * declarative job: quality gate → exact dedup (survivor = min doc_id
    * per digest) → deterministic split, reporting per-stage counts.
    * Every stage reuses the operators above, fused by Catalyst into a
    * single plan: one scan, two hash aggregates, no driver round-trips. */
  def corpusPipeline(docs: DataFrame): DataFrame = {
    val words = split(lower(col("text")), " ")
    val gated = docs
      .withColumn("verdict",
        when(col("n_chars") < 100, "too_short")
          .when(col("n_chars") > 500, "too_long")
          .when(hits(words, stopEn) === 0, "no_stopwords")
          .when(size(words) < 20, "too_few_words")
          .otherwise("keep"))
    val survivors = gated.filter(col("verdict") === "keep")
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
    val bucket = expr(
      graft.Tables.md5FoldBucketSql("cast(doc_id as string)", 100))
    val split_ = survivors.select(col("doc_id"),
      when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
    val totals = gated.agg(
      count(lit(1)).as("n_total"),
      count(when(col("verdict") === "keep", 1)).as("n_keep"))
    val dedupN = split_.agg(
      count(lit(1)).as("n_unique"),
      count(when(col("split") === "train", 1)).as("n_train"),
      count(when(col("split") === "val", 1)).as("n_val"),
      count(when(col("split") === "test", 1)).as("n_test"))
    totals.crossJoin(dedupN) // two 1-row aggregates — the one legal cross
  }

  private def sqlHits(stops: Seq[String]): String =
    s"len(list_filter(string_split(lower(text), ' '), w -> w IN (${stops.map("'" + _ + "'").mkString(",")})))"

  /** One BPE round as CTE text: pair counts over the previous symbol
    * frame, the (count DESC, pair ASC) argmax, the merge applied with
    * the same replace semantics [[bpeTrain]] documents. */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"sym${r - 1}"
    s"""p$r AS (
      SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
        SELECT cnt, unnest(list_transform(
            range(1, len(string_split(trim(sym), ' '))),
            i -> struct_pack(l := string_split(trim(sym), ' ')[i],
                             r := string_split(trim(sym), ' ')[i + 1])))
          AS p
        FROM $prev
        WHERE len(string_split(trim(sym), ' ')) >= 2)
      GROUP BY p.l, p.r),
    b$r AS MATERIALIZED (SELECT l, r, pc FROM p$r ORDER BY pc DESC, l, r LIMIT 1),
    sym$r AS MATERIALIZED (SELECT cnt, replace(sym,
        (SELECT ' ' || l || ' ' || r || ' ' FROM b$r),
        (SELECT ' ' || l || r || ' ' FROM b$r)) AS sym FROM $prev)"""
  }

  /** Word frequencies → char symbols → [[BpeMerges]] unrolled rounds
    * (the Lloyd-unroll pattern on strings). */
  private def bpeTrainCtes: String = s"""wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents)
      WHERE word <> '' GROUP BY word),
    sym0 AS MATERIALIZED (
      SELECT cnt,
             ' ' || array_to_string(list_transform(
               range(1, length(word) + 1),
               i -> substr(word, CAST(i AS INTEGER), 1)), ' ') || ' '
               AS sym
      FROM wf),
    ${(1 to BpeMerges).map(bpeRoundSql).mkString(",\n    ")}"""

  val oracle: Map[String, String] = Map(
    // Training replayed round for round: a hash match proves the pair
    // counts, the argmax tie rule and every merge application.
    "q_text_bpe_train" -> s"""
      WITH $bpeTrainCtes
      SELECT * FROM (
        ${(1 to BpeMerges).map(r =>
          s"""SELECT CAST($r AS INTEGER) AS rk, l AS "left", r AS "right", l || r AS merged, pc AS pair_count FROM b$r""")
          .mkString("\n        UNION ALL ")})
      ORDER BY rk""",

    // The learned merges applied back to every doc with the identical
    // replace chain, then token counting under the new segmentation.
    "q_text_bpe_apply" -> s"""
      WITH $bpeTrainCtes,
      m AS (SELECT ${(1 to BpeMerges).map(r =>
        s"(SELECT ' ' || l || ' ' || r || ' ' FROM b$r) AS s$r, " +
          s"(SELECT ' ' || l || r || ' ' FROM b$r) AS t$r").mkString(", ")}),
      applied AS (
        SELECT doc_id,
               list_transform(
                 list_filter(string_split(lower(text), ' '),
                             w -> length(w) > 0),
                 w -> ${(1 to BpeMerges).foldLeft(
                   "' ' || array_to_string(list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)), ' ') || ' '") {
                   (acc, r) => s"replace($acc, m.s$r, m.t$r)" }}) AS syms
        FROM documents, m)
      SELECT doc_id,
             CAST(len(syms) AS INTEGER) AS n_words,
             CAST(coalesce(list_sum(list_transform(syms,
               s2 -> len(string_split(trim(s2), ' ')))), 0) AS BIGINT)
               AS n_bpe_tokens
      FROM applied ORDER BY doc_id""",

    // The apply chain grouped per language; fertility by nonnegative
    // integer //.
    "q_text_bpe_fertility" -> s"""
      WITH $bpeTrainCtes,
      m AS (SELECT ${(1 to BpeMerges).map(r =>
        s"(SELECT ' ' || l || ' ' || r || ' ' FROM b$r) AS s$r, " +
          s"(SELECT ' ' || l || r || ' ' FROM b$r) AS t$r").mkString(", ")}),
      applied AS (
        SELECT doc_id, lang,
               list_transform(
                 list_filter(string_split(lower(text), ' '),
                             w -> length(w) > 0),
                 w -> ${(1 to BpeMerges).foldLeft(
                   "' ' || array_to_string(list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)), ' ') || ' '") {
                   (acc, r) => s"replace($acc, m.s$r, m.t$r)" }}) AS syms
        FROM documents, m),
      g AS (
        SELECT lang,
               CAST(sum(len(syms)) AS BIGINT) AS n_words,
               CAST(sum(coalesce(list_sum(list_transform(syms,
                 s2 -> len(string_split(trim(s2), ' ')))), 0)) AS BIGINT)
                 AS n_bpe_tokens
        FROM applied GROUP BY lang)
      SELECT lang, n_words, n_bpe_tokens,
             CAST(n_bpe_tokens * 10000 // n_words AS BIGINT) AS fertility_bp
      FROM g ORDER BY lang""",

    // The final symbol vocabulary off the last training round's frame.
    "q_text_bpe_vocab" -> s"""
      WITH $bpeTrainCtes
      SELECT symbol, CAST(sum(cnt) AS BIGINT) AS freq FROM (
        SELECT cnt, unnest(string_split(trim(sym), ' ')) AS symbol
        FROM sym$BpeMerges)
      GROUP BY symbol ORDER BY symbol""",

    // Relational twin of the row-local scoring: unnest→tf→df→weighted
    // sum→row_number top-k — same exact integer arithmetic (tf, df,
    // IdfScale div (df+1)), so scores and ranks hash-match.
    "q_text_search" -> s"""
      WITH queries(query_id, qtext) AS (VALUES
        ${SearchQueries.map(q => s"(${q._1}, '${q._2}')").mkString(", ")}),
      qterms AS (SELECT DISTINCT query_id, tok FROM (
        SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS tok
        FROM queries)),
      toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
             WHERE tok IN (SELECT tok FROM qterms) GROUP BY doc_id, tok),
      dfc AS (SELECT tok, CAST($IdfScale // (count(*) + 1) AS BIGINT) AS wt
              FROM tf GROUP BY tok),
      scored AS (
        SELECT q.query_id, t.doc_id, CAST(sum(t.tf * d.wt) AS BIGINT) AS score
        FROM tf t JOIN dfc d USING (tok) JOIN qterms q USING (tok)
        GROUP BY q.query_id, t.doc_id),
      ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rk
        FROM scored WHERE score > 0)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
             CAST(rk AS INTEGER) AS rk
      FROM ranked WHERE rk <= $SearchK ORDER BY query_id, rk""",

    // Same tf/df frames as q_text_search plus the per-doc length and
    // the 1-row (tot_tok, n_docs) stats; the k1=6/5, b=3/4 rational is
    // cleared into the same integer numerator/denominator pair, per
    // term, truncating // == div (all operands nonnegative).
    "q_text_bm25" -> s"""
      WITH queries(query_id, qtext) AS (VALUES
        ${SearchQueries.map(q => s"(${q._1}, '${q._2}')").mkString(", ")}),
      qterms AS (SELECT DISTINCT query_id, tok FROM (
        SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS tok
        FROM queries)),
      toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
             WHERE tok IN (SELECT tok FROM qterms) GROUP BY doc_id, tok),
      dfc AS (SELECT tok, CAST($IdfScale // (count(*) + 1) AS BIGINT) AS wt
              FROM tf GROUP BY tok),
      dl AS (SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
             FROM documents),
      st AS (SELECT CAST(sum(dl) AS BIGINT) AS tot_tok,
                    CAST(count(*) AS BIGINT) AS n_docs FROM dl),
      scored AS (
        SELECT q.query_id, t.doc_id,
               CAST(sum((d.wt * 22 * t.tf * st.tot_tok)
                    // (10 * t.tf * st.tot_tok + 3 * st.tot_tok
                        + 9 * l.dl * st.n_docs)) AS BIGINT) AS score
        FROM tf t JOIN dfc d USING (tok) JOIN qterms q USING (tok)
             JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN st
        GROUP BY q.query_id, t.doc_id),
      ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rk
        FROM scored WHERE score > 0)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
             CAST(rk AS INTEGER) AS rk
      FROM ranked WHERE rk <= $SearchK ORDER BY query_id, rk""",

    // Same tf → cf frames; CASTs keep DuckDB's HUGEINT sums at BIGINT
    // so the dtype compare holds, and // mirrors Spark's div exactly
    // (both operands nonnegative).
    // Lateral alias references are avoided (subquery instead) so the
    // flag expressions are written once and the verdict CASE reads
    // them — same shape as the Spark side.
    "q_text_c4_filters" -> s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL ${C4Plants.map { case (id, t) =>
          s"SELECT CAST($id AS BIGINT) AS doc_id, '$t' AS text"
        }.mkString("\n        UNION ALL ")}),
      flags AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               right(text, 1) IN ('.', '!', '?', '"') AS ends_punct,
               contains(text, '{') AS has_brace,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               (contains(lower(text), 'privacy policy')
                OR contains(lower(text), 'terms of use')
                OR contains(lower(text), 'cookie policy')) AS has_policy
        FROM docs)
      SELECT doc_id, n_words, ends_punct, has_brace, has_lorem, has_policy,
             CASE WHEN NOT ends_punct THEN 'no_terminal_punct'
                  WHEN n_words < $C4MinWords THEN 'too_few_words'
                  WHEN has_brace THEN 'brace'
                  WHEN has_lorem THEN 'lorem_ipsum'
                  WHEN has_policy THEN 'policy_page'
                  ELSE 'keep' END AS verdict
      FROM flags ORDER BY doc_id""",

    // The q_text_lm_score chain + per-lang tertile cutoffs; the
    // percentile points are the SAME decimal literals the Spark
    // expression parses, and quantile_cont's (n-1)·p linear
    // interpolation is Spark percentile's exact formula.
    "q_corpus_ccnet_buckets" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf
             FROM toks GROUP BY doc_id, tok),
      cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf
             FROM tf GROUP BY tok),
      scored AS (
        SELECT t.doc_id,
               CAST(sum(t.tf * c.cf) AS BIGINT) // CAST(sum(t.tf) AS BIGINT)
                 AS lm_score
        FROM tf t JOIN cf c USING (tok) GROUP BY t.doc_id),
      j AS (
        SELECT s.doc_id, d.lang, s.lm_score
        FROM scored s JOIN documents d USING (doc_id)),
      cuts AS (
        SELECT lang, quantile_cont(lm_score, $CcnetP1) AS c1,
               quantile_cont(lm_score, $CcnetP2) AS c2
        FROM j GROUP BY lang)
      SELECT j.doc_id, j.lang, j.lm_score,
             CASE WHEN j.lm_score >= c.c2 THEN 'head'
                  WHEN j.lm_score >= c.c1 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM j JOIN cuts c USING (lang)
      ORDER BY doc_id""",

    "q_text_lm_score" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf
             FROM toks GROUP BY doc_id, tok),
      cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf
             FROM tf GROUP BY tok)
      SELECT t.doc_id,
             CAST(sum(t.tf) AS BIGINT) AS n_tokens,
             CAST(sum(t.tf * c.cf) AS BIGINT) // CAST(sum(t.tf) AS BIGINT)
               AS lm_score,
             CAST(min(c.cf) AS BIGINT) AS min_cf
      FROM tf t JOIN cf c USING (tok)
      GROUP BY t.doc_id ORDER BY doc_id""",

    // Same frames in DuckDB lambda/list arithmetic: the plant is a
    // literal UNION ALL in both engines; every branch of the CASE is
    // nonnegative-integer // (== Spark div); CASTs pin HUGEINT sums.
    "q_text_lm_score_bigram" -> s"""
      WITH docs_u AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT $LmPlantId AS doc_id, '$LmPlantText' AS text),
      toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ts FROM docs_u),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)), i ->
                 struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS p
        FROM toks WHERE len(ts) >= 2),
      tf2 AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2,
               CAST(count(*) AS BIGINT) AS tf
        FROM bg GROUP BY doc_id, p.w1, p.w2),
      cf1 AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cf FROM (
          SELECT unnest(ts) AS w FROM toks WHERE doc_id % 2 = 0)
        GROUP BY w),
      nn AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM cf1),
      cf2 AS (
        SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cf2
        FROM tf2 WHERE doc_id % 2 = 0 GROUP BY w1, w2),
      scored AS (
        SELECT t.doc_id, t.tf,
               CASE WHEN c2.cf2 IS NOT NULL
                      THEN (${LmScale}::BIGINT * c2.cf2) // c1a.cf
                    WHEN c1b.cf IS NOT NULL
                      THEN (2::BIGINT * ${LmScale}::BIGINT * c1b.cf)
                           // (5::BIGINT * (SELECT n FROM nn))
                    ELSE 0::BIGINT END AS s,
               CASE WHEN c2.cf2 IS NULL THEN t.tf ELSE 0::BIGINT END AS bo
        FROM tf2 t
        LEFT JOIN cf2 c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
        LEFT JOIN cf1 c1a ON t.w1 = c1a.w
        LEFT JOIN cf1 c1b ON t.w2 = c1b.w)
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_bigrams,
             CAST(sum(tf * s) AS BIGINT) // CAST(sum(tf) AS BIGINT)
               AS sb_score,
             CAST(sum(bo) AS BIGINT) AS n_backoff
      FROM scored GROUP BY doc_id ORDER BY doc_id""",

    "q_text_langid" -> s"""
      WITH t AS (
        SELECT doc_id,
               CAST(${sqlHits(stopEn)} AS INTEGER) AS s_en,
               CAST(${sqlHits(stopDe)} AS INTEGER) AS s_de,
               CAST(${sqlHits(stopEs)} AS INTEGER) AS s_es,
               CAST(${sqlHits(stopFr)} AS INTEGER) AS s_fr
        FROM documents)
      SELECT doc_id, s_en, s_de, s_es, s_fr,
             CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM t ORDER BY doc_id""",

    // Same tf frames; the lift arithmetic is one nonnegative product
    // chain with a single trailing //.
    "q_text_keyness" -> s"""
      WITH tf AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS tf_s
        FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY source, tok),
      tfall AS (SELECT tok, CAST(sum(tf_s) AS BIGINT) AS tf_all
                FROM tf GROUP BY tok),
      tot AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS n_s
              FROM tf GROUP BY source),
      nall AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all FROM tot)
      SELECT source, tok, tf_s,
             CAST(tf_all - tf_s AS BIGINT) AS tf_rest,
             CAST(tf_s * (n_all - n_s) * 10000
                  // (n_s * (tf_all - tf_s + 1)) AS BIGINT) AS lift_bp
      FROM tf JOIN tfall USING (tok) JOIN tot USING (source), nall
      WHERE tf_s >= $KeynessMinTf
        AND tf_s * (n_all - n_s) * 10000
            // (n_s * (tf_all - tf_s + 1)) > $KeynessLiftBp
      ORDER BY source, tok""",

    // Same first-doc derivation and cuts cross join; inner joins drop
    // empty prefixes identically in both engines.
    "q_text_heaps" -> """
      WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      cuts AS (
        SELECT CAST(k AS INTEGER) AS k, m * k // 10 AS cut_doc_id
        FROM mx, unnest(range(1, 11)) t(k)),
      perdoc AS (
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
        FROM documents),
      firsts AS (
        SELECT tok, min(doc_id) AS fd
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY tok),
      tc AS (
        SELECT k, CAST(sum(n) AS BIGINT) AS n_tokens_cum
        FROM perdoc, cuts WHERE doc_id <= cut_doc_id GROUP BY k),
      ty AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_types_cum
        FROM firsts, cuts WHERE fd <= cut_doc_id GROUP BY k)
      SELECT k AS decile, cut_doc_id, n_tokens_cum, n_types_cum,
             CAST(n_types_cum * 10000 // n_tokens_cum AS BIGINT) AS ttr_bp
      FROM cuts JOIN tc USING (k) JOIN ty USING (k)
      ORDER BY decile""",

    // Segment langid replay: same slice windows, same hit filters,
    // same cascades; switches as a positional label compare.
    "q_text_lang_mix" -> {
      def inList(l: Seq[String]) = l.map("'" + _ + "'").mkString(",")
      val st = LangMixSegTokens
      def segHits(lang: String, stops: Seq[String]) =
        s"h_$lang := len(list_filter(ws[k * $st + 1 : k * $st + $st], " +
          s"w -> w IN (${inList(stops)})))"
      def cnt(l: String) = s"len(list_filter(labels, l -> l = '$l'))"
      s"""
      WITH w AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      hs AS (
        SELECT doc_id,
               list_transform(range(0, (greatest(len(ws), 1) + ${st - 1}) // $st),
                 k -> struct_pack(${segHits("en", stopEn)},
                   ${segHits("de", stopDe)}, ${segHits("es", stopEs)},
                   ${segHits("fr", stopFr)})) AS h
        FROM w),
      lab AS (
        SELECT doc_id, list_transform(h, x ->
          CASE WHEN greatest(x.h_en, x.h_de, x.h_es, x.h_fr) = 0 THEN 'und'
               WHEN x.h_en >= x.h_de AND x.h_en >= x.h_es
                    AND x.h_en >= x.h_fr THEN 'en'
               WHEN x.h_de >= x.h_es AND x.h_de >= x.h_fr THEN 'de'
               WHEN x.h_es >= x.h_fr THEN 'es'
               ELSE 'fr' END) AS labels
        FROM hs),
      agg AS (
        SELECT doc_id, CAST(len(labels) AS BIGINT) AS n_segments,
               CAST(${cnt("en")} AS BIGINT) AS c_en,
               CAST(${cnt("de")} AS BIGINT) AS c_de,
               CAST(${cnt("es")} AS BIGINT) AS c_es,
               CAST(${cnt("fr")} AS BIGINT) AS c_fr,
               CAST(${cnt("und")} AS BIGINT) AS c_und,
               CAST(CASE WHEN len(labels) < 2 THEN 0 ELSE
                 len(list_filter(range(1, len(labels)),
                   k -> labels[k + 1] != labels[k])) END AS BIGINT)
                 AS n_switches
        FROM lab)
      SELECT doc_id, n_segments,
             CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
                       AND c_en >= c_und THEN 'en'
                  WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_und
                       THEN 'de'
                  WHEN c_es >= c_fr AND c_es >= c_und THEN 'es'
                  WHEN c_fr >= c_und THEN 'fr'
                  ELSE 'und' END AS dom_lang,
             CAST(greatest(c_en, c_de, c_es, c_fr, c_und) * 10000
                  // n_segments AS BIGINT) AS dom_share_bp,
             n_switches,
             greatest(c_en, c_de, c_es, c_fr, c_und) * 10000
               // n_segments < $LangMixDomBp AS mixed
      FROM agg ORDER BY doc_id"""
    },

    // The same hit/CASE arithmetic grouped by the labeled lang.
    "q_text_langid_confusion" -> s"""
      WITH t AS (
        SELECT doc_id, lang,
               CAST(${sqlHits(stopEn)} AS INTEGER) AS s_en,
               CAST(${sqlHits(stopDe)} AS INTEGER) AS s_de,
               CAST(${sqlHits(stopEs)} AS INTEGER) AS s_es,
               CAST(${sqlHits(stopFr)} AS INTEGER) AS s_fr
        FROM documents),
      v AS (
        SELECT lang,
               CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM t)
      SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM v GROUP BY lang, pred_lang ORDER BY lang, pred_lang""",

    "q_text_quality" -> s"""
      WITH t AS (
        SELECT doc_id, n_chars,
               len(string_split(lower(text), ' ')) AS wc,
               length(replace(text, ' ', '')) AS letters,
               ${sqlHits(stopEn)} AS stops
        FROM documents)
      SELECT doc_id,
             CAST(wc AS INTEGER) AS n_words,
             round(CAST(letters AS DOUBLE) / wc, 4) AS avg_word_len,
             round(CAST(stops AS DOUBLE) / wc, 4) AS stop_ratio,
             CAST((CASE WHEN n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END) +
                  (CASE WHEN wc >= 20 THEN 1 ELSE 0 END) +
                  (CASE WHEN stops > 0 THEN 1 ELSE 0 END) AS INTEGER) AS quality
      FROM t ORDER BY doc_id""",

    "q_text_tokens" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_ish,
             (n_chars + 3) // 4 AS est_tokens
      FROM documents ORDER BY doc_id""",

    // Two-level token aggregation replayed; the same plants injected
    // via VALUES; empties filtered identically on both sides.
    "q_text_ttr" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES
          (${TtrPlantBase}, 'dup dup dup dup'),
          (${TtrPlantBase + 1}, 'one two three'),
          (${TtrPlantBase + 2}, 'a  b')) v(doc_id, text)),
      toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM corpus),
      tf AS (
        SELECT doc_id, tok, count(*) AS n FROM toks
        WHERE tok != '' GROUP BY doc_id, tok),
      per AS (
        SELECT doc_id, sum(n) AS n_tokens, count(*) AS n_types,
               sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax
        FROM tf GROUP BY doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_types AS BIGINT) AS n_types,
             CAST(n_hapax AS BIGINT) AS n_hapax,
             CAST(n_types * 10000 // n_tokens AS BIGINT) AS ttr_bp,
             CAST(n_hapax * 10000 // n_types AS BIGINT) AS hapax_bp
      FROM per ORDER BY doc_id""",

    "q_text_gopher_rep" -> """
      WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      grams AS (
        SELECT doc_id, w.n AS n,
               unnest(CASE WHEN len(tk) < w.n THEN []
                           ELSE list_transform(range(1, len(tk) - w.n + 2),
                                  i -> array_to_string(tk[i:i+w.n-1], ' '))
                      END) AS gram
        FROM t, (VALUES (2),(3),(4),(5),(10)) w(n)),
      pg AS (
        SELECT doc_id, n, gram, count(*) AS c
        FROM grams GROUP BY doc_id, n, gram),
      pn AS (
        SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS total, max(c) AS top,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
        FROM pg GROUP BY doc_id, n),
      wide AS (
        SELECT doc_id,
               max(CASE WHEN n = 2 THEN top END) AS top2,
               max(CASE WHEN n = 2 THEN total END) AS total2,
               max(CASE WHEN n = 3 THEN top END) AS top3,
               max(CASE WHEN n = 3 THEN total END) AS total3,
               max(CASE WHEN n = 4 THEN top END) AS top4,
               max(CASE WHEN n = 4 THEN total END) AS total4,
               max(CASE WHEN n = 5 THEN dup END) AS dup5,
               max(CASE WHEN n = 5 THEN total END) AS total5,
               max(CASE WHEN n = 10 THEN dup END) AS dup10,
               max(CASE WHEN n = 10 THEN total END) AS total10
        FROM pn GROUP BY doc_id)
      SELECT d.doc_id,
             round(CAST(coalesce(top2, 0) AS DOUBLE) / CAST(coalesce(total2, 1) AS DOUBLE), 4) AS top2_frac,
             round(CAST(coalesce(top3, 0) AS DOUBLE) / CAST(coalesce(total3, 1) AS DOUBLE), 4) AS top3_frac,
             round(CAST(coalesce(top4, 0) AS DOUBLE) / CAST(coalesce(total4, 1) AS DOUBLE), 4) AS top4_frac,
             round(CAST(coalesce(dup5, 0) AS DOUBLE) / CAST(coalesce(total5, 1) AS DOUBLE), 4) AS dup5_frac,
             round(CAST(coalesce(dup10, 0) AS DOUBLE) / CAST(coalesce(total10, 1) AS DOUBLE), 4) AS dup10_frac,
             CASE WHEN coalesce(top2, 0) * 100 > 20 * coalesce(total2, 1)
                    OR coalesce(top3, 0) * 100 > 18 * coalesce(total3, 1)
                    OR coalesce(top4, 0) * 100 > 16 * coalesce(total4, 1)
                    OR coalesce(dup5, 0) * 100 > 15 * coalesce(total5, 1)
                    OR coalesce(dup10, 0) * 100 > 10 * coalesce(total10, 1)
                  THEN 'repetitive' ELSE 'ok' END AS verdict
      FROM documents d LEFT JOIN wide ON d.doc_id = wide.doc_id
      ORDER BY d.doc_id""",

    "q_corpus_pipeline" -> s"""
      WITH gated AS (
        SELECT doc_id, text,
               CASE WHEN n_chars < 100 THEN 'too_short'
                    WHEN n_chars > 500 THEN 'too_long'
                    WHEN ${sqlHits(stopEn)} = 0 THEN 'no_stopwords'
                    WHEN len(string_split(lower(text), ' ')) < 20 THEN 'too_few_words'
                    ELSE 'keep' END AS verdict
        FROM documents),
      survivors AS (
        SELECT min(doc_id) AS doc_id FROM gated
        WHERE verdict = 'keep' GROUP BY sha256(text)),
      split AS (
        SELECT doc_id,
               CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
              FROM survivors)),
      totals AS (
        SELECT count(*) AS n_total,
               count(*) FILTER (verdict = 'keep') AS n_keep FROM gated),
      dn AS (
        SELECT count(*) AS n_unique,
               count(*) FILTER (split = 'train') AS n_train,
               count(*) FILTER (split = 'val') AS n_val,
               count(*) FILTER (split = 'test') AS n_test
        FROM split)
      SELECT * FROM totals, dn""",

    "q_text_clean" -> """
      SELECT doc_id, cleaned,
             CAST(n_chars - length(cleaned) AS BIGINT) AS chars_removed
      FROM (
        SELECT doc_id, n_chars,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 .,]', ' ', 'g'), ' +', ' ', 'g')) AS cleaned
        FROM documents)
      ORDER BY doc_id""",

    "q_corpus_filter" -> s"""
      SELECT doc_id,
             CASE WHEN n_chars < 100 THEN 'too_short'
                  WHEN n_chars > 500 THEN 'too_long'
                  WHEN ${sqlHits(stopEn)} = 0 THEN 'no_stopwords'
                  WHEN len(string_split(lower(text), ' ')) < 20 THEN 'too_few_words'
                  ELSE 'keep' END AS verdict
      FROM documents ORDER BY doc_id""",

    "q_text_split" -> """
      SELECT doc_id, bucket,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM documents)
      ORDER BY doc_id""",

    "q_text_ngram_freq" -> """
      SELECT bigram, n FROM (
        SELECT bigram, count(*) AS n FROM (
          SELECT unnest(CASE WHEN len(tk) < 2 THEN []
                             ELSE list_transform(range(1, len(tk)),
                                                 i -> tk[i] || ' ' || tk[i+1])
                        END) AS bigram
          FROM (SELECT string_split(lower(text), ' ') AS tk FROM documents))
        GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 100)
      ORDER BY bigram""",

    "q_text_fingerprint" -> """
      WITH t AS (
        SELECT doc_id,
               sha256(array_to_string(list_sort(list_distinct(
                 string_split(lower(text), ' '))), ' ')) AS fingerprint
        FROM documents)
      SELECT doc_id, fingerprint,
             count(*) OVER (PARTITION BY fingerprint) AS cluster_size
      FROM t ORDER BY doc_id""",

    // Same patterns verbatim (single-quoted SQL literals pass the
    // backslashes raw to RE2); DuckDB's regexp_replace needs the 'g'
    // flag to mirror Spark's replace-all default.
    // The per-doc scoring rolled up; truncating mean, band CASE sums.
    "q_text_readability_card" -> """
      WITH t AS (
        SELECT source,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                 AS n_words,
               greatest(CAST(length(text) -
                 length(replace(text, '.', '')) AS BIGINT), 1)
                 AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                 AS BIGINT) AS n_syllables
        FROM documents),
      f AS (
        SELECT source,
               206835 - 1015 * n_words // n_sentences
               - 84600 * n_syllables // n_words AS fm
        FROM t)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(CASE WHEN sum(fm) >= 0 THEN sum(fm) // count(*)
                       ELSE -((-sum(fm)) // count(*)) END AS BIGINT)
               AS mean_flesch_m,
             CAST(sum(CASE WHEN fm >= 90000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_very_easy,
             CAST(sum(CASE WHEN fm >= 60000 AND fm < 90000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
             CAST(sum(CASE WHEN fm >= 30000 AND fm < 60000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_difficult,
             CAST(sum(CASE WHEN fm < 30000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_very_difficult
      FROM f GROUP BY source ORDER BY source""",

    // Same first-doc/cuts machinery keyed by (source, tok).
    "q_text_heaps_by_source" -> """
      WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      cuts AS (
        SELECT CAST(k AS INTEGER) AS k, m * k // 10 AS cut_doc_id
        FROM mx, unnest(range(1, 11)) t(k)),
      perdoc AS (
        SELECT source, doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
        FROM documents),
      firsts AS (
        SELECT source, tok, min(doc_id) AS fd
        FROM (SELECT source, doc_id,
                     unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY source, tok),
      tc AS (
        SELECT source, k, CAST(sum(n) AS BIGINT) AS n_tokens_cum
        FROM perdoc, cuts WHERE doc_id <= cut_doc_id GROUP BY source, k),
      ty AS (
        SELECT source, k, CAST(count(*) AS BIGINT) AS n_types_cum
        FROM firsts, cuts WHERE fd <= cut_doc_id GROUP BY source, k)
      SELECT source, k AS decile, cut_doc_id, n_tokens_cum, n_types_cum,
             CAST(n_types_cum * 10000 // n_tokens_cum AS BIGINT) AS ttr_bp
      FROM tc JOIN ty USING (source, k) JOIN cuts USING (k)
      ORDER BY source, decile""",

    // Same fused single-div terms (nonnegative operands, // == div);
    // sentences by length difference, not split.
    "q_text_readability" -> """
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                 AS n_words,
               greatest(CAST(length(text) -
                 length(replace(text, '.', '')) AS BIGINT), 1)
                 AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                 AS BIGINT) AS n_syllables
        FROM documents)
      SELECT doc_id, n_words, n_sentences, n_syllables,
             CAST(206835 - 1015 * n_words // n_sentences
                  - 84600 * n_syllables // n_words AS BIGINT) AS flesch_m,
             CASE WHEN 206835 - 1015 * n_words // n_sentences
                       - 84600 * n_syllables // n_words >= 90000
                    THEN 'very_easy'
                  WHEN 206835 - 1015 * n_words // n_sentences
                       - 84600 * n_syllables // n_words >= 60000
                    THEN 'standard'
                  WHEN 206835 - 1015 * n_words // n_sentences
                       - 84600 * n_syllables // n_words >= 30000
                    THEN 'difficult'
                  ELSE 'very_difficult' END AS band
      FROM t ORDER BY doc_id""",

    // row_number twin of the head + bounded self-join rank (rank
    // within the head == global rank for head rows).
    "q_text_zipf" -> s"""
      WITH counts AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY tok),
      ranked AS (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok) AS rank
        FROM counts)
      SELECT CAST(rank AS INTEGER) AS rank, tok, n AS freq,
             CAST(rank * n AS BIGINT) AS rf
      FROM ranked WHERE rank <= $ZipfTopK ORDER BY rank""",

    // Corpus ∪ plant union replayed, same regexes, same email-first
    // counting order.
    "q_text_pii_stats" -> {
      val plantRows = PiiPlants.map { case (id, src, t) =>
        s"SELECT CAST($id AS BIGINT) AS doc_id, '$src' AS source, '$t' AS text" }
        .mkString("\n        UNION ALL ")
      s"""
      WITH u AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL $plantRows),
      per AS (
        SELECT source,
               CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
                 AS ne,
               CAST(len(regexp_extract_all(
                 regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
                 '$IpRe')) AS BIGINT) AS ni
        FROM u)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_email,
             CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_ip,
             CAST(sum(ne) AS BIGINT) AS n_emails,
             CAST(sum(ni) AS BIGINT) AS n_ips,
             CAST(sum(CASE WHEN ne > 0 OR ni > 0 THEN 1 ELSE 0 END)
                  * 10000 // count(*) AS BIGINT) AS prevalence_bp
      FROM per GROUP BY source ORDER BY source"""
    },

    // n_ips counts on the email-masked text (matching the engine), so
    // counts and the <IP> substitutions in `masked` always agree.
    "q_text_pii_mask" -> s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_emails,
             CAST(len(regexp_extract_all(
               regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), '$IpRe'))
               AS INTEGER) AS n_ips,
             regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
                            '$IpRe', '<IP>', 'g') AS masked
      FROM documents ORDER BY doc_id""",

    // V derives from the SAME distinct-token count (greatest(floor,
    // n_distinct // 4)); row_number over the identical (count desc,
    // token asc) total order stands in for the engine's
    // TakeOrderedAndProject limit.
    "q_text_vocab_coverage" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
      params AS (SELECT greatest($VocabFloor, count(*) // $VocabDiv) AS V
                 FROM counts),
      ranked AS (
        SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS r
        FROM counts),
      vocab AS (SELECT tok FROM ranked, params WHERE r <= V)
      SELECT t.doc_id,
             count(*) AS n_tokens,
             count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
             round(count(CASE WHEN v.tok IS NULL THEN 1 END)::DOUBLE
                   / count(*)::DOUBLE, 4) AS oov_ratio
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id ORDER BY t.doc_id""",
  )
}
