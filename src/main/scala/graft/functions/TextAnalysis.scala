package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All built from catalyst `functions._` (codegen'd, no UDFs) and chosen to
  * be expressible in ANSI SQL so each has a DuckDB oracle.
  *
  * At 100 TB these are embarrassingly parallel per-row maps — zero
  * shuffles; the only cost is the scan, so predicate/column pushdown is
  * preserved by keeping them as pure column expressions.
  */
object TextAnalysis {

  /** Occurrences of a literal word surrounded by spaces — the classic
    * (len - len(replace)) / len(pattern) trick, identical semantics in
    * Spark and DuckDB. Counts on ' '||text||' ' so edge words match. */
  private def wordHits(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val pat = s" $word "
    (length(padded) - length(replace(padded, lit(pat), lit("")))) / lit(pat.length.toDouble)
  }

  /** Stopword-marker score for one language = sum of hits of its top
    * function words. */
  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(w => wordHits(text, w)).reduce(_ + _)

  /** Marker sets per language (top function words; public linguistic
    * knowledge). Kept tiny so the oracle SQL stays writable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "que", "los", "una"),
    "de" -> Seq("der", "und", "die", "nicht"))

  /** N-gram-heuristic language ID: argmax of marker scores with fixed
    * priority ties (en > fr > es > de), "und" (undetermined) when all
    * scores are 0. Deterministic; oracle-expressible as a CASE cascade. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> langScore(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** Whitespace-ish token count: maximal runs of alphanumerics.
    * regexp_extract_all exists in both Spark (3.4+) and DuckDB. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0)))

  /** Heuristic syllable count: vowel GROUPS per word (min 1 per word) —
    * the standard regex approximation behind readability scores. */
  def syllableCount(text: Column): Column = {
    val words = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
    aggregate(
      transform(words, w => greatest(lit(1L),
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long"))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Sentence count: non-empty [.!?]-delimited runs, min 1 — the other
    * denominator of [[fleschReadingEase]]. */
  def sentenceCount(text: Column): Column =
    greatest(lit(1L), size(filter(split(text, "[.!?]+"),
      s => length(trim(s)) > 0)).cast("long"))

  /** Flesch reading ease (Flesch 1948): 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words) — the classic fluency gate a
    * quality pipeline thresholds (very low = word salad or legalese,
    * implausibly high = fragment spam). All three inputs are exact
    * integer counts; the score's float ops are written in one fixed
    * order so an oracle replays them IEEE-identically. 0 words → null
    * (no evidence). */
  def fleschReadingEase(text: Column): Column = {
    val w = size(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))
      .cast("double")
    val s = sentenceCount(text).cast("double")
    val sy = syllableCount(text).cast("double")
    when(w > 0,
      lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w))
  }

  /** Word count via space counting (fast path, exactly matched by the
    * oracle's length/replace arithmetic). */
  def wordCount(text: Column): Column =
    (length(text) - length(replace(text, lit(" "), lit("")))) + lit(1)

  /** Quality features: length, punctuation ratio, stopword ratio, mean
    * token length — the standard cheap quality filters for web-scale
    * corpora. Returns a struct; see SparkEntry for the flattened form. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  /** The quality-gate stopword list — THE single definition; the oracle
    * SQL builders derive their hit arithmetic from this Seq so a list
    * edit cannot silently diverge engine and oracle. */
  val qualityStopwords: Seq[String] =
    Seq("the", "and", "of", "is", "a", "to", "in")

  def stopwordCount(text: Column): Column =
    langScore(text, qualityStopwords)

  /** Composite quality score in [0,1]: rewards mid-length docs with
    * healthy stopword density and low punctuation noise. Deterministic
    * arithmetic only (round at the call site for oracle parity). */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val lenScore = least(n / lit(500.0), lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(n, lit(1.0))
    val stopRatio = stopwordCount(text).cast("double") /
      greatest(wordCount(text).cast("double"), lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio * lit(10.0))
    val stopScore = least(stopRatio * lit(4.0), lit(1.0))
    (lenScore + punctScore + stopScore) / lit(3.0)
  }

  /** Canonical text form: lowercase, strip non-alphanumerics, collapse
    * runs of spaces, trim — the formatting-invariant view every
    * fingerprint below hashes. */
  def canonical(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Canonical-form fingerprint: md5 of [[canonical]]. Identical md5 in
    * Spark and DuckDB → exact-dup detection robust to formatting noise. */
  def fingerprint(text: Column): Column = md5(canonical(text))

  /** Unicode-hygiene normalization — the standard first pass of a web
    * corpus pipeline: (1) NFC composition (decomposed "e"+U+0301 and
    * composed "é" must hash/dedup/tokenize identically — utf8proc and
    * java.text.Normalizer agree on NFC, so the DuckDB oracle replays
    * with nfc_normalize); (2) strip C0 control characters except the
    * whitespace ones (BEL/NUL spill from bad decoders; \\x0B stripped
    * explicitly since Java's \\s includes it and RE2's does not);
    * (3) collapse whitespace runs to one space; (4) trim. NULL in,
    * NULL out. NFC has no Catalyst form, so step 1 is the text family's
    * one UDF; steps 2-4 stay codegen'd regexp_replace. */
  def normalizeText(text: Column): Column = {
    val nfc = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    trim(regexp_replace(
      regexp_replace(nfc(text),
        "[\\x00-\\x08\\x0B\\x0E-\\x1F]", ""),
      "\\s+", " "))
  }

  /** PII redaction for training corpora: emails, URLs, IPv4 addresses,
    * and phone-like digit runs replaced by typed placeholder tokens, in
    * a fixed order (email before phone so an address's digits never
    * half-match as a phone). Patterns restricted to the Java∩RE2 regex
    * subset for oracle parity; pure codegen'd per-row map, zero shuffle. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^ ]+", "<URL>")
    val ip = regexp_replace(url,
      "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>")
    regexp_replace(ip, "\\+?[0-9][0-9() -]{7,}[0-9]", "<PHONE>")
  }

  /** Per-document mean unigram surprisal −ln p̂(token), with p̂ the
    * corpus MLE unigram distribution — the cheap language-model quality
    * score (CCNet filters on exactly this statistic, with a Wikipedia
    * LM in place of the corpus itself): low = repetitive boilerplate,
    * high = rare-token soup/gibberish, mid-band = prose worth keeping.
    * Rounded to 6 decimals (cross-engine float convention).
    *
    * Plan: token explode → ONE (doc, term)-count aggregate
    * (map-side combinable, materialized once) → term-count and total
    * derived from it → equi-join over the aggregated pairs →
    * broadcast 1-row total → per-doc tf-weighted mean. Same shape as
    * tf-idf: doc/term-keyed shuffles over aggregated rows, nothing
    * quadratic. Eager: the call itself runs ONE job (the counts'
    * local checkpoint; see [[tfidfTopTerms]]). */
  def unigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)))
        .as("term"))
    // aggregate to per-(doc, term) counts FIRST and materialize once:
    // the former shape re-executed the corpus tokenize+explode three
    // times (term counts, total, join) and shuffled every token
    // INSTANCE through the term join; this shape runs the explode once
    // and joins the aggregated pairs (guide §2.3/§2.4). The per-doc
    // mean is the tf-weighted mean over distinct terms — identical up
    // to float summation order, far below the round-6 convention.
    // Bounded intermediate (distinct (doc, term) pairs).
    val tc = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")).localCheckpoint(true)
    val termCount = tc.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val total = tc.agg(sum(col("tf")).as("n_total"))
    tc.join(termCount, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(
          sum(col("tf") * -log(col("c").cast("double") / col("n_total"))) /
            sum(col("tf")), 6)
          .as("surprisal"))
  }

  /** Per-document mean bigram surprisal −ln p̂(r | l), with p̂ the corpus
    * MLE conditional bigram model c(l,r) / c(l,·) — one model order above
    * [[unigramSurprisal]] in the CCNet statistic family: context-aware
    * enough to separate shuffled-token soup (every transition rare →
    * high) from templated boilerplate (every transition deterministic →
    * near zero) where the unigram score sees the same bag of words.
    * Documents with fewer than two tokens emit no row. Rounded to 6
    * decimals (cross-engine float convention).
    *
    * Plan: per-row adjacent-pair zip (`zip_with` over two slices — no
    * window, no positional shuffle) → pair explode → ONE
    * (doc, l, r)-count aggregate (map-side combinable, materialized
    * once) → bigram and left-context counts derived from it →
    * equi-joins over the aggregated pairs → per-doc count-weighted
    * mean. All shuffles are key-uniform aggregates/joins, nothing
    * quadratic; the model tables are corpus-bounded aggregates, the
    * same class as [[tfIdf]]'s term table. Eager: the call itself runs
    * ONE job (the counts' local checkpoint; see [[tfidfTopTerms]]). */
  def bigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)).as("ts"))
    val pairs = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (l, r) => struct(l.as("l"), r.as("r")))).as("bg"))
      .select(col("doc_id"), col("bg.l").as("l"), col("bg.r").as("r"))
    // aggregate to per-(doc, l, r) counts FIRST and materialize once:
    // the former shape re-executed the corpus tokenize+zip+explode
    // three times (bigram counts, left counts, join) and shuffled every
    // pair INSTANCE through the model joins; this shape runs the
    // explode once and joins the aggregated pairs (guide §2.3/§2.4).
    // The per-doc mean is the count-weighted mean over distinct
    // bigrams — identical up to float summation order, far below the
    // round-6 convention. Bounded intermediate.
    val pc = pairs.groupBy(col("doc_id"), col("l"), col("r"))
      .agg(count(lit(1)).as("n")).localCheckpoint(true)
    val bgCount = pc.groupBy(col("l"), col("r")).agg(sum(col("n")).as("c_lr"))
    val leftCount = pc.groupBy(col("l")).agg(sum(col("n")).as("c_l"))
    pc.join(bgCount, Seq("l", "r")).join(leftCount, Seq("l"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        round(
          sum(col("n") * -log(col("c_lr").cast("double") / col("c_l"))) /
            sum(col("n")), 6)
          .as("surprisal"))
  }

  // ——— trained language ID (hashed char-trigram Naive Bayes) ———————

  /** Per-row hashed char-TRIGRAM bucket keys of ' '||lower(text)||' '
    * (padding captures word-boundary trigrams — the strongest
    * language signal), hashed to 256 buckets by md5 prefix (the DSIR
    * bucket law, [[graft.pipeline.CurationPipeline]]'s dsirScores /
    * qualityLrTrain convention — string keys both engines hash
    * identically). array<string>; '' texts yield an empty array (the
    * sequence guard — Spark's sequence(1, 0) would COUNT DOWN). */
  private def triBuckets(text: Column): Column = {
    val p = concat(lit(" "), lower(text), lit(" "))
    when(length(p) >= 3,
      transform(sequence(lit(1), length(p) - 2),
        i => substring(md5(p.substr(i, lit(3))), 1, 2)))
      .otherwise(array().cast("array<string>"))
  }

  /** Train a multinomial Naive Bayes language identifier IN the
    * engine from labeled (lang, text) rows — the trained upgrade of
    * the [[langId]] marker heuristic, same oracle convention as the
    * other in-engine training paths (curate_quality_lr's GD steps,
    * BPE's merge rounds): every step is relational, so the DuckDB
    * oracle replays train AND classify end to end.
    *
    * Model frame (lang, bucket, n): bucket-keyed rows carry hashed
    * char-trigram OCCURRENCE counts per language; one bucket='' row
    * per language carries its DOC count (the prior's numerator).
    * Two aggregates with map-side combine over the exploded trigram
    * stream; the model is ≤ langs×257 rows — broadcast everywhere. */
  def langIdNbTrain(docs: DataFrame, langCol: String = "lang",
                    textCol: String = "text"): DataFrame = {
    val tri = docs.select(col(langCol).as("lang"),
        explode(triBuckets(col(textCol))).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val priors = docs.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), lit("").as("bucket"), col("n"))
    tri.unionByName(priors)
  }

  /** Fold a NEW labeled batch into a trained [[langIdNbTrain]] model
    * WITHOUT rescanning the old corpus: counts merge by full-outer
    * sum (the updateTrapStats convention) — EXACT, not approximate,
    * because the model frame is a sufficient statistic (trigram
    * occurrence counts + doc-count priors), so incremental-update
    * equals retrain-on-the-union row for row. The standing face is
    * the same read-modify-write loop the trap stats use: a stream of
    * labeled batches maintains the model at two tiny aggregates per
    * batch, the old corpus never re-read. One aggregate over the
    * batch + one (lang, bucket)-keyed merge join against the
    * ≤ langs×257-row model. */
  def langIdNbUpdate(model: DataFrame, newDocs: DataFrame,
                     langCol: String = "lang",
                     textCol: String = "text"): DataFrame = {
    val delta = langIdNbTrain(newDocs, langCol, textCol)
      .withColumnRenamed("n", "__nb_delta")
    model.join(delta, Seq("lang", "bucket"), "full_outer")
      .select(col("lang"), col("bucket"),
        (coalesce(col("n"), lit(0L)) +
          coalesce(col("__nb_delta"), lit(0L))).as("n"))
  }

  /** Classify texts under a [[langIdNbTrain]] model: per (doc, lang)
    * score = ln(n_docs_l/N) + Σ_buckets cnt·(ln(n_lb+1) − ln(T_l+256))
    * (add-one smoothing over the 256 hashed buckets; unseen buckets
    * take the smoothed floor via coalesce(n,0)), argmax per doc with
    * the deterministic (score desc, lang asc) tie-break. Returns
    * (idCol, lang_pred, score) with score rounded to 6 (the
    * cross-engine float convention).
    *
    * Plan: doc-keyed trigram-count aggregate → cross join the
    * HANDFUL of language rows → one broadcast hash join against the
    * ≤ langs×257-row model → doc-keyed sum → per-doc argmax window
    * (partitioned by doc — uniform, never global). Docs with no
    * trigrams (empty text) score on priors alone. Eager: the call itself
    * runs ONE job (the merged model's local checkpoint; see
    * [[tfidfTopTerms]]). */
  def langIdNbClassify(docs: DataFrame, model: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // merge duplicate (lang, bucket) rows on entry: a caller handing
    // a UNION of model frames (instead of langIdNbUpdate's summed
    // merge) would otherwise fan the weight join out and silently
    // corrupt every score — summing makes union-of-models ≡ update,
    // and is free on well-formed models (≤ langs×257 rows).
    // localCheckpoint materializes the merged model ONCE: counts,
    // priors, totals and n_all below all re-reference this frame, and
    // without the cut Catalyst inlines the caller's whole model
    // lineage (the training aggregates) once PER REFERENCE — the
    // trained-on-the-fly queries paid the corpus explode+count 5×
    // (a 61-Exchange plan for the incremental face; 9 after the cut)
    val m = model.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n")).as("n"))
      .localCheckpoint(true)
    val counts = m.filter(col("bucket") =!= "")
    val priors = m.filter(col("bucket") === "")
      .select(col("lang"), col("n").as("n_docs"))
    val totals = counts.groupBy(col("lang")).agg(sum("n").as("t_l"))
    val nAll = priors.agg(sum(col("n_docs")).as("n_all"))
    val langs = priors.join(totals, Seq("lang"), "left")
      .crossJoin(nAll)
      .select(col("lang"), col("n_docs"),
        coalesce(col("t_l"), lit(0L)).as("t_l"), col("n_all"))
    val docB = docs.select(col(idCol).as("__nb_id"),
        explode(triBuckets(col(textCol))).as("bucket"))
      .groupBy(col("__nb_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val scoredParts = docB
      .crossJoin(broadcast(langs))
      .join(broadcast(counts.withColumnRenamed("n", "n_lb")),
        Seq("lang", "bucket"), "left")
      .groupBy(col("__nb_id"), col("lang"), col("n_docs"), col("t_l"),
        col("n_all"))
      .agg(sum(col("cnt") * (log(coalesce(col("n_lb"), lit(0L)) + 1.0) -
        log(col("t_l") + lit(256.0)))).as("ll"))
    // empty-text docs produce no docB rows: score them on priors
    // alone via a left join from the doc list × langs
    val allPairs = docs.select(col(idCol).as("__nb_id")).distinct()
      .crossJoin(broadcast(langs))
    val scored = allPairs
      .join(scoredParts,
        Seq("__nb_id", "lang", "n_docs", "t_l", "n_all"), "left")
      .select(col("__nb_id"), col("lang"),
        (log(col("n_docs").cast("double")) - log(col("n_all")
          .cast("double")) + coalesce(col("ll"), lit(0.0))).as("score"))
    val w = Window.partitionBy(col("__nb_id"))
      .orderBy(col("score").desc, col("lang").asc)
    scored.withColumn("__nb_rk", row_number().over(w))
      .filter(col("__nb_rk") === 1)
      .select(col("__nb_id").as(idCol), col("lang").as("lang_pred"),
        round(col("score"), 6).as("score"))
  }

  /** Per-document character-level Shannon entropy over [a-z0-9] of the
    * lowercased text, in nats — near-zero for single-character runs,
    * ~ln(26) for uniform letter soup; real prose sits in a stable band,
    * so both tails are gibberish/binary-spill filters (the
    * character-distribution analog of the Gopher repetition rules).
    *
    * Plan: pure per-row map (codegen'd [[org.apache.spark.sql.graft.CharEntropy]]
    * expression) — the entropy depends only on the row's own text, so
    * zero shuffles, same shape as [[qualityScore]]/[[langId]]. Documents
    * with no [a-z0-9] characters are dropped, matching the former
    * explode form (which emitted no row for them). */
  def charEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        round(org.apache.spark.sql.graft.TextExpressions.charEntropy(
          col(textCol)), 6).as("entropy"))
      .filter(col("entropy").isNotNull)

  /** Encoding-damage counters — the "is this text validly decoded" gate
    * a web-scale ingest runs before any content filter (mangled decodes
    * poison every downstream statistic: tokenization, language ID, dedup
    * shingles). Three classic damage signatures, each a codegen'd regexp
    * count (zero shuffle, same per-row-map shape as [[qualityScore]]):
    *
    *  - U+FFFD replacement characters: the upstream decoder already gave
    *    up on those bytes.
    *  - CP1252-mojibake lead pairs: UTF-8 multibyte sequences decoded as
    *    Latin-1/CP1252 surface as 'Ã' or 'Â' (the decoded forms of lead
    *    bytes 0xC3/0xC2) followed by a Latin-1 continuation character —
    *    "é" becomes "Ã©".
    *  - C0 control characters (minus tab/newline/carriage-return), which
    *    never appear in validly decoded prose and indicate binary spill.
    */
  def replacementCharCount(text: Column): Column =
    regexp_count(text, lit("\uFFFD"))

  def mojibakePairCount(text: Column): Column =
    regexp_count(text, lit("[\u00C3\u00C2][\u0080-\u00FF]"))

  def controlCharCount(text: Column): Column =
    regexp_count(text,
      lit("[\u0000-\u0008\u000B\u000C\u000E-\u001F]"))

  /** Gopher rule-card ingredients (Rae et al. 2021 §A1.1, public) not
    * already covered by [[qualityScore]] (composite) or the repetition
    * gates (text_repetition): mean word length, symbol-to-word ratio,
    * alphabetic-word fraction. All pure per-row column arithmetic —
    * the word filters are higher-order functions over the split array
    * (codegen'd, no UDF) — zero shuffle. Word = NON-EMPTY space-
    * delimited token, deliberately NOT [[wordCount]]'s spaces+1 fast
    * path: stray leading/trailing/double spaces must not mint empty
    * "words" that deflate the fractions and flip a keep verdict. */
  def strictWordCount(text: Column): Column =
    size(filter(split(text, " ", -1), w => w =!= ""))

  /** Division-safe word denominator (empty/all-space text → 1). */
  private def wordDenom(text: Column): Column =
    greatest(strictWordCount(text), lit(1)).cast("double")

  def meanWordLength(text: Column): Column =
    length(replace(text, lit(" "), lit(""))).cast("double") / wordDenom(text)

  /** (# of '#' + # of '...') per word — the Gopher symbol-noise rule.
    * Ellipses count non-overlapping occurrences, the same left-to-right
    * scan as SQL replace. */
  def symbolToWordRatio(text: Column): Column = {
    val hashes = length(text) - length(replace(text, lit("#"), lit("")))
    val dots = (length(text) - length(replace(text, lit("..."), lit("")))) / lit(3)
    (hashes + dots).cast("double") / wordDenom(text)
  }

  /** Fraction of words containing at least one ASCII letter. */
  def alphaWordFraction(text: Column): Column =
    size(filter(split(text, " ", -1), w => w.rlike("[A-Za-z]"))).cast("double") /
      wordDenom(text)

  /** Gopher n-gram repetition rules computed PER ROW: the fraction of
    * gram occurrences belonging to the single most frequent n-gram
    * (top_frac — templated spam pushes this toward 1) and the fraction
    * belonging to any gram seen more than once in the document
    * (dup_frac). Token-occurrence fractions, a documented simplification
    * of the paper's character-weighted form (Rae et al. 2021 §A1.1).
    *
    * A document's gram multiset depends only on that document, so — the
    * charEntropy lesson — the corpus explode + groupBy form would pay
    * multiple exchanges for a per-row scalar. Instead the row's gram
    * array is sorted and scanned with a higher-order `aggregate` (run
    * lengths over adjacent equality), zero shuffle; the relational form
    * survives as the DuckDB oracle, which is exactly the cross-check
    * the per-row rewrite needs. Returns a struct col with
    * (n_grams, top_frac, dup_frac); callers flatten. TOTAL: documents
    * with fewer than n tokens (including empty text) get the zero card
    * (0, 0.0, 0.0) instead of a slice error — callers wanting absence
    * semantics filter on n_grams >= 1 (or pre-filter tokens).
    *
    * Evaluation-cost note: Spark's subexpression elimination does not
    * cross lambda-bearing trees, so flattening the card pays the
    * O(m log m) sort+scan once per heavy field (top_frac, dup_frac) —
    * twice total. Keeping the result a TOP-LEVEL CreateNamedStruct is
    * what holds it at two: see the in-body comment for the measured
    * 23x regression when a CASE WHEN hides the struct from
    * SimplifyExtractValueOps. */
  def ngramRepetition(text: Column, n: Int): Column = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val ts = regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))
    val nGrams = (size(ts) - (n - 1)).cast("long")
    // totality WITHOUT a CASE WHEN around the result struct: wrapping
    // the struct in when() hides CreateNamedStruct from
    // SimplifyExtractValueOps, so every getField re-evaluates the whole
    // sort+scan — measured 23x slower at sf0.1. Instead each INPUT is
    // made safe (safeLen >= 1 keeps sequence ascending and slice starts
    // positive; short docs produce one bogus ""-gram that the
    // scalar-level guards below never read) and the guards live on the
    // scalar children, where they are cheap.
    val safeLen = greatest(nGrams, lit(1L))
    val grams = transform(sequence(lit(1), safeLen.cast("int")),
      i => concat_ws(" ", slice(ts, i, lit(n))))
    val sorted = sort_array(grams)
    val eq = zip_with(
      slice(sorted, lit(1), (safeLen - 1).cast("int")),
      slice(sorted, lit(2), (safeLen - 1).cast("int")),
      (a, b) => a === b)
    // run-length scan: cur = current run, best = longest run, dup =
    // occurrences inside runs of length >= 2 (entering a run counts
    // both members, continuing counts one — total k per k-run)
    val scanned = aggregate(eq,
      struct(lit(1L).as("cur"), lit(1L).as("best"), lit(0L).as("dup")),
      (acc, e) => {
        val cur = acc.getField("cur")
        val ncur = when(e, cur + 1).otherwise(lit(1L))
        struct(ncur.as("cur"),
          greatest(acc.getField("best"), ncur).as("best"),
          (acc.getField("dup") +
            when(e, when(cur === 1, 2L).otherwise(1L)).otherwise(0L)).as("dup"))
      })
    // top-level CreateNamedStruct: getField on the card simplifies to
    // the per-column child, so flattening costs two scan evaluations
    // (top + dup), not one per output column plus the filter
    struct(greatest(nGrams, lit(0L)).as("n_grams"),
      when(nGrams >= 1,
        round(scanned.getField("best").cast("double") /
          nGrams.cast("double"), 6)).otherwise(0.0).as("top_frac"),
      when(nGrams >= 1,
        round(scanned.getField("dup").cast("double") /
          nGrams.cast("double"), 6)).otherwise(0.0).as("dup_frac"))
  }

  /** Fraction of characters participating in a damage signature, in
    * [0,1] (each counted signature spans ≤2 characters; the ratio uses
    * match counts, not span width, so it is a lower bound). 0 = clean.
    * Round at the call site for oracle parity. */
  def encodingDamageRatio(text: Column): Column =
    (replacementCharCount(text) + mojibakePairCount(text) +
      controlCharCount(text)).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Per-document top-k terms by TF-IDF — the classic corpus-salience
    * ranking (keyword extraction / topic labeling for training-data
    * reports). score = tf · ln(N / df) with tf = in-document term count,
    * df = documents containing the term, N = corpus size; the score is
    * rounded to 6 decimals BEFORE ranking (cross-engine libm/aggregation
    * -order drift can swap near-equal scores in a rank-only output — the
    * same convention as curate_best_per_source) and ties break on the
    * term for determinism. Emits (doc_id, rank, term) — no float
    * columns, so the oracle compares exactly.
    *
    * Plan shape: token explode → (doc, term) count (map-side combinable)
    * → term-keyed df aggregate joined back on term (high-cardinality
    * equi-join) → broadcast 1-row N → per-doc window top-k. Three
    * shuffles, all on high-cardinality keys; N is an O(1) broadcast.
    * Eager: the call itself runs ONE job, the (doc, term) counts' local
    * checkpoint; on a cluster, executor loss then fails the query
    * instead of recomputing them. */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)))
        .as("term"))
    // tf is read twice (df aggregate AND the scored join): materialize
    // it once so the corpus tokenize+explode+aggregate lineage is not
    // re-executed per reference (guide §2.4 — the bm25 postings
    // pattern). Bounded: one row per distinct (doc, term), the
    // aggregated face of the corpus, far smaller than the token
    // explode.
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")).localCheckpoint(true)
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"), col("term"))
  }
}
