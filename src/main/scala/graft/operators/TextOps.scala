package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.rolling_hash
import graft.functions.NgramHashes

/** Text-analysis operators: language id, quality scoring, token
  * counting, fingerprinting. Everything is `functions._` string/regex
  * arithmetic — codegen'd, whole-stage-fusable, no UDFs — so a 100 TB
  * pass is a single pruned-column scan.
  */
object TextOps {

  /** Occurrences of `sub` in `text` via the length-delta trick (portable
    * to the DuckDB oracle verbatim). */
  def occ(text: Column, sub: String): Column =
    ((length(text) - length(replace(text, lit(sub), lit("")))) / lit(sub.length)).cast("int")

  private def padded: Column = concat(lit(" "), col("text"), lit(" "))

  /** HTML → text extraction — the step between a WARC response body
    * and every text operator (langid/quality/dedup all want prose,
    * not markup): `<script>/<style>/<noscript>` blocks and HTML
    * comments drop WITH their content, remaining tags become spaces
    * (so `a</p><p>b` keeps its word boundary), the common entities
    * decode (`&amp;` LAST — `&amp;lt;` must surface as the literal
    * `&lt;`, never double-decode to `<`), and whitespace collapses.
    * A pure codegen'd `regexp_replace` chain — no UDF, no per-row JVM
    * call, scales like any other projection. Heuristic BY DESIGN
    * (real HTML is adversarial — attributes can smuggle `>`): the
    * contract is WET-style extraction of ordinary markup, not a
    * conforming DOM parse. */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html",
                  out: String = "text"): DataFrame = {
    val noBlocks = regexp_replace(col(htmlCol),
      "(?is)<(script|style|noscript)\\b[^>]*>.*?</\\1\\s*>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "(?s)<[^>]*>", " ")
    // order matters: named/numeric entities first, the ampersand LAST
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (e, (k, v)) =>
        regexp_replace(e, java.util.regex.Pattern.quote(k),
          java.util.regex.Matcher.quoteReplacement(v))
      }
    docs.withColumn(out, trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** Stopword-profile language heuristic: per-language marker-word hit
    * counts, argmax with a fixed priority tie-break. */
  def langId(docs: DataFrame): DataFrame = {
    val en = (occ(padded, " the ") + occ(padded, " a ")).as("en_hits")
    val es = (occ(padded, " el ") + occ(padded, " la ")).as("es_hits")
    val de = (occ(padded, " der ") + occ(padded, " und ")).as("de_hits")
    val fr = (occ(padded, " le ") + occ(padded, " et ")).as("fr_hits")
    docs
      .select(col("doc_id"), en, es, de, fr)
      .withColumn(
        "pred_lang",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits"), "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits"), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
      .orderBy("doc_id")
  }

  /** Quality metrics: word count, punctuation count, stopword ratio,
    * average word length. */
  def quality(docs: DataFrame): DataFrame = {
    val nWords = size(split(col("text"), " ")).as("n_words")
    val nSpaces = length(col("text")) - length(replace(col("text"), lit(" "), lit("")))
    docs
      .select(
        col("doc_id"),
        nWords,
        (occ(col("text"), ".") + occ(col("text"), ",") + occ(col("text"), "!")).as("n_punct"),
        round(occ(padded, " the ") / size(split(col("text"), " ")), 6).as("stop_ratio"),
        round((length(col("text")) - nSpaces) / size(split(col("text"), " ")), 6).as("avg_wlen"))
      .orderBy("doc_id")
  }

  /** Token counts: whitespace tokens, BPE-ish regex tokens (letter runs,
    * digit runs, single other symbols), distinct whitespace tokens. */
  def tokens(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("re_tokens"),
        size(array_distinct(split(col("text"), " "))).as("distinct_tokens"))
      .orderBy("doc_id")

  /** Overlapping token-window chunking — the context-window splitter
    * every RAG / pre-training pipeline runs before embedding or
    * packing. Chunk starts are multiples of `stride`; a start is kept
    * iff it is 0 or the PREVIOUS start's window did not already reach
    * the end (`start - stride + size < n`), so the tail is covered
    * exactly once and no chunk is a suffix of its predecessor. Output
    * (doc_id, chunk_start, n_tokens, chunk_text), one row per chunk.
    *
    * Scale shape: pure per-row array arithmetic (split → sequence →
    * filter → posexplode → slice), zero shuffles before the harness
    * sort; output size is corpus tokens × size/stride — the explode
    * multiplies rows by ~n/stride, never by n². */
  def chunk(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame = {
    require(stride >= 1 && size >= stride,
      s"need size >= stride >= 1, got size=$size stride=$stride")
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), toks.as("toks"),
        org.apache.spark.sql.functions.size(toks).cast("long").as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(filter(
          sequence(lit(0L), col("n") - 1L, lit(stride.toLong)),
          s => s === 0L || s - stride + size < col("n"))).as(Seq("i", "chunk_start")))
      .select(
        col("doc_id"),
        col("chunk_start"),
        least(lit(size.toLong), col("n") - col("chunk_start")).as("n_tokens"),
        array_join(slice(col("toks"), (col("chunk_start") + 1L).cast("int"), lit(size)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_start")
  }

  /** Content fingerprint: md5 of the lowercased text (oracle-checkable). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(lower(col("text"))).as("fp_md5"))
      .orderBy("doc_id")

  /** PII scrub: redact email-shaped and long-digit-run tokens — the
    * pre-training scrub pass, pure regexp_replace (codegen'd, global
    * replace in both engines). */
  def redact(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
          "[0-9]{6,}", "<NUM>").as("clean_text"))
      .orderBy("doc_id")

  /** Benchmark decontamination: drop documents whose fingerprint
    * appears in a blocklist (e.g., eval-set hashes) — an anti join on
    * md5, broadcastable for realistic blocklist sizes. */
  def decontaminate(docs: DataFrame, blocklist: DataFrame): DataFrame =
    docs
      .withColumn("fp", md5(lower(col("text"))))
      .join(broadcast(blocklist), Seq("fp"), "left_anti")
      .select("doc_id", "fp")
      .orderBy("doc_id")

  /** (id…, gram-hash) pairs for every word n-gram of `textCol`: md5
    * over the space-joined n-word window, one output row per window
    * ([[explodeNgramHashesAt]] without its position columns). */
  private def explodeNgramHashes(df: DataFrame, n: Int, textCol: String,
                                 keep: Seq[Column]): DataFrame =
    explodeNgramHashesAt(df, n, textCol, keep).drop("start", "first")

  /** n-gram-level benchmark decontamination — the GPT-3-style 13-gram
    * scrub: a document is contaminated if ANY of its word n-grams
    * appears anywhere in the benchmark corpus, not only if its whole
    * text matches. This catches eval questions quoted verbatim INSIDE
    * larger documents, which the whole-doc fingerprint pass
    * ([[decontaminate]]) structurally misses. Returns the surviving
    * documents.
    *
    * Shape: the benchmark side shingles into DISTINCT gram hashes
    * (eval-suite-sized — small); documents explode into (id, hash)
    * pairs — linear in corpus tokens, 32-byte hashes on the wire, not
    * text; one equi-join marks contaminated ids and one anti join
    * returns survivors. No broadcast hint: AQE broadcasts the
    * benchmark grams when they fit. */
  def decontaminateNgrams(docs: DataFrame, benchmark: DataFrame, n: Int = 13,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val benchGrams = explodeNgramHashes(benchmark, n, textCol, Nil).distinct()
    val contaminated = explodeNgramHashes(docs, n, textCol, Seq(col(idCol)))
      .join(benchGrams, "g")
      .select(idCol).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-BENCHMARK-item contamination report — the operational
    * complement of [[decontaminateNgrams]]: that filters the corpus,
    * this QUANTIFIES the leak per eval item so a curator can rank
    * which benchmarks are burned and by how much. Output one row per
    * benchmark doc: total distinct n-grams, how many of them appear
    * anywhere in the corpus, the overlap fraction, and how many
    * DISTINCT corpus documents carry at least one of them.
    *
    * Shape at 100 TB: the corpus explodes once (linear in corpus
    * tokens, fixed-width hashes on the wire, never text) and
    * immediately semi-joins the DISTINCT benchmark gram set (eval-
    * suite-sized — AQE broadcasts it), so everything downstream of
    * the one corpus pass is CANDIDATE-BOUNDED: the distinct and both
    * aggregates run over matching grams only. */
  def decontaminationReport(docs: DataFrame, benchmark: DataFrame,
                            n: Int = 13, textCol: String = "text",
                            idCol: String = "doc_id",
                            benchIdCol: String = "bench_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val benchGrams =
      explodeNgramHashes(benchmark, n, textCol, Seq(col(benchIdCol)))
        .distinct()
    val benchGramSet = benchGrams.select("g").distinct()
    val matching = explodeNgramHashes(docs, n, textCol, Seq(col(idCol)))
      .join(benchGramSet, "g")
      .distinct() // (doc_id, g) of MATCHING grams only — candidate-bounded
    val totals = benchGrams.groupBy(benchIdCol)
      .agg(count(lit(1)).as("n_grams"))
    val hits = benchGrams.join(matching, "g")
      .groupBy(benchIdCol)
      .agg(countDistinct(col("g")).as("hit_grams"),
        countDistinct(col(idCol)).as("corpus_docs"))
    totals.join(hits, Seq(benchIdCol), "left")
      .select(col(benchIdCol), col("n_grams"),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        (coalesce(col("hit_grams"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("overlap_frac"),
        coalesce(col("corpus_docs"), lit(0L)).as("corpus_docs"))
      .orderBy(benchIdCol)
  }

  /** Repetition-based quality signals (the Gopher/MassiveText repetition
    * rules, applied at the granularity this corpus has — words and word
    * bigrams, since the synthetic documents carry no line or sentence
    * structure): a document dominated by a few repeated phrases is
    * boilerplate or spam, and these fractions are the standard filter
    * inputs.
    *
    * Output per document: `n_words`, `dup_word_frac`
    * (1 − distinct/total words — pure codegen'd array arithmetic, no
    * shuffle), `n_2grams`, `top_2gram_frac` (occurrences of the most
    * frequent bigram / total bigrams) and `dup_2gram_frac`
    * (1 − distinct/total bigrams). The bigram side reuses
    * [[explodeNgramHashes]]: one explode linear in corpus tokens with
    * fixed-width hashes on the wire, then two partial-agg-friendly
    * groupBys — (doc, gram) counts, then per-doc max/sum — so the
    * shuffle carries counts, never text. Docs with fewer than 2 words
    * keep n_2grams = 0 with null fractions (left join + nullif, same
    * semantics both engines). */
  def repetition(docs: DataFrame): DataFrame = {
    val perGram = explodeNgramHashes(docs, 2, "text", Seq(col("doc_id")))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val gramAgg = perGram.groupBy("doc_id").agg(
      sum("c").as("n2"), max("c").as("topn"), count(lit(1)).as("ndist"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        size(array_distinct(split(col("text"), " "))).as("ndw"))
      .join(gramAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_words"),
        round(lit(1.0) - col("ndw") / col("n_words"), 6).as("dup_word_frac"),
        coalesce(col("n2"), lit(0L)).as("n_2grams"),
        round(col("topn") / nullif(col("n2"), lit(0L)), 6).as("top_2gram_frac"),
        round(lit(1.0) - col("ndist") / nullif(col("n2"), lit(0L)), 6)
          .as("dup_2gram_frac"))
      .orderBy("doc_id")
  }

  /** Vocabulary induction: corpus-wide token counts, top-k by count —
    * the wordcount that feeds tokenizer training. Explode + two-phase
    * count (map-side combine ships one (token, partial-count) row per
    * token per partition) and a TakeOrderedAndProject top-k — never a
    * full sort of the vocabulary, never a driver-side dictionary.
    * Deterministic tie-break on the token itself. */
  def vocab(docs: DataFrame, k: Int = 1000): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("tok"))
      .limit(k)

  /** Feature hashing ("the hashing trick") — fixed-dimension token
    * count features with NO vocabulary pass, the ML-prep step that
    * works at any vocabulary size because the feature space never
    * grows: bucket = md5(token) mod `dim`. Output is the SPARSE (COO)
    * form — one (doc_id, bucket, n) row per occupied bucket — which is
    * both the representation a 10^9-doc feature matrix actually ships
    * in and value-comparable cross-engine (a dense array column would
    * dodge the oracle's cell compare).
    *
    * One explode + one partial-aggregable groupBy; the bucket rides
    * the first 8 md5 hex chars parsed as an integer — Spark `conv` and
    * DuckDB `'0x…'::BIGINT` agree exactly, so the bucketing is
    * engine-portable (the [[Sampling]] md5-permutation rationale). */
  def featureHash(docs: DataFrame, dim: Int = 16): DataFrame = {
    require(dim >= 2, s"featureHash: dim must be >= 2, got $dim")
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** Cross-document boilerplate detection: word n-grams appearing in at
    * least `minDocs` DISTINCT documents — headers, footers, license
    * blurbs, navigation chrome. (Distinct from [[decontaminateNgrams]],
    * which hunts a KNOWN benchmark's grams; this finds unknown repeated
    * spans from the corpus itself.) Output: (gram hash, n_docs) for
    * spans over the threshold; feed it back as a removal list or QC
    * signal.
    *
    * Scale shape: one linear gram explode ([[explodeNgramHashesAt]])
    * keeps only each document's FIRST window of a gram, so in-doc
    * repetition can't fake corpus-wide spread, then a partial-agg row
    * count per gram — hashes and counts on the wire, never text, and
    * no (doc, gram) distinct shuffle. `doc_id` is a key: two input
    * rows sharing an id count as two documents. */
  def commonSpans(docs: DataFrame, n: Int = 5, minDocs: Int = 3): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"bad commonSpans params n=$n minDocs=$minDocs")
    explodeNgramHashesAt(docs, n, "text", Nil)
      .filter(col("first"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(desc("n_docs"), col("g"))
  }

  /** One (id…, start, g, first) row per word n-gram window of
    * `textCol`: `g` is the md5 of the space-joined n-word window,
    * `start` its 0-based token position (the join-back key that lets a
    * matched gram hash resolve to the SPAN it covers), and `first` is
    * true on the row's first window carrying `g`. One
    * [[graft.functions.NgramHashes]] eval per row hashes every window
    * straight off the text's bytes; docs shorter than n words (and
    * null texts) emit no grams. */
  private def explodeNgramHashesAt(df: DataFrame, n: Int, textCol: String,
                                   keep: Seq[Column]): DataFrame =
    df.select((keep :+ posexplode(NgramHashes.hashes(col(textCol), n))
        .as(Seq("start", "_h"))): _*)
      .withColumn("g", col("_h.g"))
      .withColumn("first", col("_h.first"))
      .drop("_h")

  /** Boilerplate REMOVAL — the consumer of [[commonSpans]]: strip every
    * word covered by an n-gram span shared by ≥ `minDocs` documents,
    * and report the per-doc boilerplate fraction (the Gopher-style
    * filter signal). Gram hashes are not invertible to text, so the
    * resolution rides positions instead: the positioned gram explode
    * ([[explodeNgramHashesAt]]) semi-joins the offending gram set, the
    * matched window STARTS collect per doc (bounded by doc length),
    * and a per-row array filter drops tokens inside any matched
    * window. Returns (doc_id, clean_text, boilerplate_frac) for every
    * input doc — untouched docs pass through with frac 0, fully-
    * boilerplate docs come back empty with frac 1.
    *
    * Scale shape: two linear gram explodes (hashes on the wire, one
    * kernel eval per row): [[commonSpans]]' first-occurrence count per
    * gram, then the positioned explode's equi-join on `g` against the
    * (small) offending-gram set — AQE broadcasts that set while it is
    * small and can split a hot gram's partition when it is not — one
    * per-doc aggregate of matched starts, one id-keyed join back.
    * Never corpus × corpus, and the reconstruction is per-row array
    * math. `doc_id` must be a key: under a repeated id, the join back
    * would apply both rows' matched starts to each. */
  def stripBoilerplate(docs: DataFrame, n: Int = 5, minDocs: Int = 3): DataFrame = {
    val spans = commonSpans(docs, n, minDocs).select("g")
    val starts = explodeNgramHashesAt(docs, n, "text", Seq(col("doc_id")))
      .join(spans, "g")
      .groupBy("doc_id").agg(collect_set("start").as("_starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("_toks", split(col("text"), " "))
      .withColumn("_starts",
        coalesce(col("_starts"), array().cast("array<int>")))
      // token at 0-based idx is covered iff some matched window start s
      // (0-based) satisfies s <= idx <= s + n - 1
      .withColumn("_kept", filter(col("_toks"), (_, idx) =>
        !exists(col("_starts"), s => idx >= s && idx <= s + lit(n - 1))))
      .select(col("doc_id"),
        concat_ws(" ", col("_kept")).as("clean_text"),
        round(lit(1.0) - size(col("_kept")) / size(col("_toks")), 6)
          .as("boilerplate_frac"))
      .orderBy("doc_id")
  }

  /** Per-source heavy-hitter tokens with BOUNDED state: Spark 4's
    * built-in `approx_top_k` (DataSketches frequent-items sketch).
    * Where [[vocab]]'s exact two-phase count ships one row per distinct
    * token per partition — fine until the vocabulary itself is huge —
    * the sketch caps state at `maxTracked` counters per group and
    * ships sketch BYTES through the shuffle, so a 10^9-distinct-token
    * corpus aggregates in constant memory per group. While the group's
    * distinct count stays ≤ maxTracked the sketch is in its exact
    * regime (counts exact, all items retained), which is what makes the
    * driver query DuckDB-oracle-exact on this corpus; the approximation
    * regime (distinct ≫ maxTracked, planted heavy hitter must survive
    * with bounded count error) is spec'd separately. */
  def heavyHitters(docs: DataFrame, k: Int = 40, maxTracked: Int = 10000): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source")
      .agg(expr(s"approx_top_k(tok, $k, $maxTracked)").as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("source"), col("t.item").as("tok"), col("t.count").as("n"))
      .orderBy(col("source"), desc("n"), col("tok"))

  /** Incremental form of [[heavyHitters]] — the lakehouse rollup
    * pattern: each ingest slice (day, batch, partition) reduces to one
    * SKETCH row per group via `approx_top_k_accumulate`, and any set of
    * slices answers top-k later through `approx_top_k_combine` +
    * `_estimate` WITHOUT rescanning the token stream. Sketch rows are
    * maxTracked-bounded binaries; combining n slices costs n sketch
    * merges, not n corpus scans. Exact regime combines exactly
    * (spec: two half-corpus sketches combine to the single-pass
    * answer). */
  def heavyHitterSketches(docs: DataFrame, maxTracked: Int = 10000): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source")
      .agg(expr(s"approx_top_k_accumulate(tok, $maxTracked)").as("sketch"))

  /** Merge per-slice sketches and report per-group top-k (same output
    * shape as [[heavyHitters]]). */
  def combineHeavyHitterSketches(sketches: DataFrame, k: Int = 40): DataFrame =
    sketches.groupBy("source")
      .agg(expr("approx_top_k_combine(sketch)").as("sketch"))
      .select(col("source"), explode(expr(s"approx_top_k_estimate(sketch, $k)")).as("t"))
      .select(col("source"), col("t.item").as("tok"), col("t.count").as("n"))
      .orderBy(col("source"), desc("n"), col("tok"))

  /** Corpus-fit bigram language-model quality score — the CCNet-style
    * "train a cheap LM, keep fluent documents" filter signal. The model
    * IS the corpus's own bigram statistics: add-k smoothed
    * P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V), and each document
    * scores its mean log-probability over its bigrams (a low mean =
    * improbable word sequences = gibberish / spam / wrong-language).
    * Output: (doc_id, n_bigrams, avg_logprob) for every doc with ≥2
    * tokens; shorter docs have no bigrams and no row.
    *
    * Scale shape: model fit is two explode + partial-agg count passes
    * (tokens on the wire — they are the join keys); scoring re-explodes
    * the corpus bigrams and equi-joins the two count tables (AQE
    * broadcasts them while the vocabulary is small; at web-scale
    * vocabularies they hash-join — either way shuffle keys are tokens,
    * never text), then one doc_id aggregate. The vocabulary size rides
    * a broadcast 1-row crossJoin (the anchor pattern). No driver
    * collect, no UDF: `log`/`transform` are codegen'd.
    *
    * The per-doc log sum goes through DECIMAL(18,6) per term (the
    * [[graft.queries.Det]] rationale: double addition is
    * order-dependent and Spark's partial aggregates combine in
    * partition order, so an exact decimal accumulator keeps the score
    * bit-identical to a sequential-sum engine). */
  def lmScore(docs: DataFrame, addK: Double = 0.5): DataFrame = {
    require(addK > 0.0, s"addK must be > 0, got $addK")
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("_toks"))
    val uni = toks.select(explode(col("_toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocabN = uni.agg(count(lit(1)).as("v"))
    // size>=2 guard: sequence(1, 0) would count DOWNWARD and fabricate
    // windows — same guard as Joins.rangeJoin
    val bi = toks.select(col("doc_id"),
        explode(when(size(col("_toks")) >= 2,
          transform(sequence(lit(1), size(col("_toks")) - 1),
            i => struct(element_at(col("_toks"), i).as("w1"),
              element_at(col("_toks"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val term = log((col("c2") + lit(addK)) / (col("c1") + lit(addK) * col("v")))
    bi.join(bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2")), Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocabN))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(term.cast(DecimalType(18, 6))).cast("double").as("_lsum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("_lsum") / col("n_bigrams"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** BM25 keyword search: rank documents against a bag of query terms —
    * the full-text-search shape (the reference's app IS an interactive
    * search front end; this is its ranked generalization, and the
    * retrieval half of a training-data curation stack next to the ANN
    * operators). Lucene's BM25 variant: idf = ln((N − df + ½)/(df + ½)
    * + 1) (always positive), tf saturation k1, length normalization b
    * against the mean document length.
    *
    * Shape: this is the inverted-index computation expressed
    * relationally — the (doc, term, tf) explode IS the posting list,
    * built in one linear pass with map-side-combinable counts; df is a
    * term-cardinality aggregate over it (query-term-sized); corpus
    * stats (N, Σdl) ride a broadcast one-row anchor. Scoring joins
    * postings to the tiny df/stats tables (AQE broadcasts them), one
    * doc_id aggregate, TakeOrdered top-k — no full sort, no driver
    * data. Terms prune at the explode, so the shuffle carries only
    * postings of the query's terms, not the corpus vocabulary.
    *
    * Determinism: tf/df/dl/N are integers; Σdl goes through DECIMAL;
    * every constant in the score is spelled as the same IEEE
    * expression on both engines; the per-term contribution rounds
    * through DECIMAL(18,6) before the per-doc sum (the lmScore
    * rationale), so the DuckDB oracle is hash-exact. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("_toks"))
      .withColumn("dl", size(col("_toks")))
    val stats = toks.agg(
      count(lit(1)).cast("double").as("_n"),
      sum(col("dl").cast(DecimalType(18, 6))).cast("double").as("_sdl"))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Scored(tf, df, stats, k1, b, k)
  }

  /** The shared ranking tail: postings (doc_id, dl, term, tf) ⋈ df
    * table ⋈ broadcast corpus stats → top-k (score desc, doc_id). */
  private def bm25Scored(tf: DataFrame, df: DataFrame, stats: DataFrame,
                         k1: Double, b: Double, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val avgdl = col("_sdl") / col("_n")
    val idf = log((col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val contrib = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    tf.join(df, "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(contrib.cast(DecimalType(18, 6))).cast("double").as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** OFFLINE inverted index build — the [[graft.operators.Ivf]]
    * pattern applied to text: [[bm25]] re-shingles the whole corpus
    * per query, which is the right shape for ad-hoc exploration and
    * the wrong one for a serving path. This pass runs the corpus
    * explode ONCE and persists
    *  - `postings/`: (doc_id, dl, term, tf), partitioned by a term
    *    hash bucket,
    *  - `terms/`: (term, df), same bucketing,
    *  - `stats/`: one row (N, Σdl, buckets).
    * A query then touches ≤ |query terms| bucket partitions of
    * m-row postings — the file listing itself prunes (spec-asserted),
    * the corpus text is never re-read. */
  def buildTextIndex(docs: DataFrame, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("_toks"))
      .withColumn("dl", size(col("_toks")))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("_bucket", pmod(xxhash64(col("term")), lit(buckets)))
    tf.write.mode("overwrite").partitionBy("_bucket").parquet(s"$path/postings")
    tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("_bucket", pmod(xxhash64(col("term")), lit(buckets)))
      .write.mode("overwrite").partitionBy("_bucket").parquet(s"$path/terms")
    toks.agg(
        count(lit(1)).cast("double").as("_n"),
        sum(col("dl").cast(DecimalType(18, 6))).cast("double").as("_sdl"))
      .withColumn("buckets", lit(buckets))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Serve BM25 from a persisted [[buildTextIndex]] artifact: results
    * are IDENTICAL to [[bm25]] over the same corpus (same statistics,
    * same formula — the driver gate runs both against one oracle),
    * but the scan is the query's bucket partitions only. */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                  k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25Indexed needs at least one query term")
    val statsFull = spark.read.parquet(s"$path/stats")
    val buckets = statsFull.select("buckets").head().getInt(0)
    // the query terms' buckets, via the same engine hash the build used
    val bucketIds = spark.createDataFrame(terms.map(Tuple1(_))).toDF("term")
      .select(pmod(xxhash64(col("term")), lit(buckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    def pruned(sub: String): DataFrame =
      spark.read.parquet(s"$path/$sub")
        .filter(col("_bucket").isin(bucketIds: _*) && col("term").isin(terms: _*))
        .drop("_bucket")
    bm25Scored(pruned("postings"), pruned("terms"),
      statsFull.select("_n", "_sdl"), k1, b, k)
  }

  /** Character-distribution Shannon entropy per document — the
    * byte-level quality signal (binary junk and single-char spam score
    * near 0, natural text ~4 bits): H = ln(n) − (Σ c·ln c)/n over the
    * per-character counts, all from one explode + two partial-agg
    * passes. The c·ln c terms round through DECIMAL(18,6) before the
    * sum (lmScore's rationale), so the DuckDB oracle is hash-exact. */
  def entropy(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), ""), x => x =!= "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_chars"),
        sum((col("c") * log(col("c"))).cast(DecimalType(18, 6)))
          .cast("double").as("_clogc"))
      .select(col("doc_id"), col("n_chars"),
        round(log(col("n_chars")) - col("_clogc") / col("n_chars"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** One greedy left-to-right BPE merge pass over a symbol array:
    * every adjacent (a, b) becomes a+b, non-overlapping ("aaa" under
    * (a,a) → ["aa","a"]) — after a merge the accumulator's last element
    * is a+b, which cannot re-match `a`, so the fold IS the standard
    * scan. A codegen'd higher-order aggregate: the corpus-wide pass
    * stays a distributed projection. */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Byte-pair-encoding merge training (Sennrich-style, word-internal):
    * learn `numMerges` merges from the corpus's own statistics — the
    * tokenizer-construction step of a training-data pipeline.
    *
    * Distributed shape: the state is the WORD-FREQUENCY dictionary
    * (distinct word → symbol array + count), built by one corpus
    * explode+count — at web scale that dictionary is a 10^8-row
    * DataFrame, which is exactly why it stays distributed here rather
    * than collapsing to a driver hash map. Each round is (1) a pair
    * explode + partial-agg count weighted by word frequency, (2) an
    * argmax that collects ONE row (count desc, then lexicographic —
    * deterministic), (3) the [[mergePair]] projection over the
    * dictionary. Per-round lineage is cut by Checkpoints.cut (reliable when graft.checkpointDir is set),
    * the [[Dedup.components]] precedent. Driver data per round: one
    * row; total rounds: `numMerges`.
    *
    * Stops early when no pair reaches `minPairCount` (merging
    * singletons teaches nothing). Returns (rank, left, right,
    * pair_count) in merge order. */
  def bpeMerges(docs: DataFrame, numMerges: Int,
                minPairCount: Long = 2): Seq[(Int, String, String, Long)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    var state = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(filter(split(col("w"), ""), x => x =!= "").as("syms"), col("n"))
      // lazy cuts throughout this loop: every round's pair-count
      // top-1/window collect scans the whole state and materializes
      // the checkpoint in the same job (Checkpoints.cutLazy)
      .transform(Checkpoints.cutLazy)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    for (rank <- 1 to numMerges if !done) {
      val top = state
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy("p.a", "p.b").agg(sum("n").as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(1).collect()
      top.headOption.filter(_.getLong(2) >= minPairCount) match {
        case None => done = true
        case Some(r) =>
          val (a, b) = (r.getString(0), r.getString(1))
          merges += ((rank, a, b, r.getLong(2)))
          state = state
            .withColumn("syms", mergePair(col("syms"), a, b))
            .transform(Checkpoints.cutLazy)
      }
    }
    state.unpersist()
    merges.toSeq
  }

  /** One greedy scan applying a whole SYMBOL-DISJOINT merge batch: each
    * symbol is the left of at most one pair and the right of at most
    * one, so at any adjacency at most one merge can fire and no merge
    * can consume a symbol another needs — a single left-to-right pass
    * is order-equivalent to chaining [[mergePair]] per merge, without
    * the O(batch)-deep lambda nesting. Lookup is two flat map literals
    * (left → expected right, left → merged symbol); created symbols
    * are concatenations, never map keys, so they cannot re-fire. */
  private def mergeBatchDisjoint(syms: Column, batch: Seq[(String, String)]): Column = {
    val expectR = map(batch.flatMap { case (a, b) => Seq(lit(a), lit(b)) }: _*)
    val mergedV = map(batch.flatMap { case (a, b) => Seq(lit(a), lit(a + b)) }: _*)
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(expectR, element_at(acc, -1)) === x,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(element_at(mergedV, element_at(acc, -1)))))
        .otherwise(concat(acc, array(x))))
  }

  /** Batched BPE training: learn the SAME merge sequence as
    * [[bpeMerges]] in O(numMerges / batch) distributed rounds instead
    * of one round per merge — the difference between hours and days at
    * a real tokenizer's 32k-100k merges.
    *
    * Per round: ONE pair-count pass, fetch the top `window` candidates
    * sorted by (count desc, pair lex — the sequential tie-break), then
    * accept a prefix that is pairwise SYMBOL-DISJOINT, stopping at the
    * first candidate that shares a symbol with the accepted set, and
    * trim to counts strictly above that stop candidate's count.
    *
    * Why the batch is provably order-equivalent to sequential BPE:
    *  - Disjoint merges cannot change each other's pair counts: merging
    *    (a,b) only changes counts of pairs of the form (·,a), (b,·) or
    *    (a,b) itself — all share a symbol with it.
    *  - Any pair whose count a batch merge can change therefore shares
    *    a symbol with an accepted pair, so it was never accepted and
    *    ranks at-or-after the stop point: its count <= cStop.
    *  - A merge of (a,b) only CREATES pairs (x,ab)/(ab,y) whose counts
    *    are bounded by the feeding pairs (x,a)/(b,y) — which share a
    *    symbol with (a,b), so every created pair's count <= cStop too.
    *  - Every kept candidate's count is strictly > cStop, so at each
    *    intermediate sequential step the kept candidate still strictly
    *    dominates all changed and created pairs, and dominates-or-
    *    lex-precedes every unchanged one. Sequential BPE's next |kept|
    *    picks are exactly the kept prefix, in order.
    * When the window comes back conflict-free, unseen candidates (count
    * <= the last fetched count) play the cStop role; when the candidate
    * table is exhausted conflict-free, the whole batch is kept (pairs
    * below `minPairCount` can only feed created pairs below it). The
    * top candidate is always kept — it is sequential's next pick by
    * definition — so every round makes progress.
    *
    * Returns (merges in rank order, distributed rounds used). */
  def bpeMergesBatched(docs: DataFrame, numMerges: Int,
                       minPairCount: Long = 2,
                       window: Int = 64): (Seq[(Int, String, String, Long)], Int) = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(window >= 2, s"window must be >= 2, got $window")
    var state = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(filter(split(col("w"), ""), x => x =!= "").as("syms"), col("n"))
      // lazy cuts: each round's windowed top collect is full-coverage
      .transform(Checkpoints.cutLazy)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rounds = 0
    var done = false
    while (!done && merges.size < numMerges) {
      val top = state
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy("p.a", "p.b").agg(sum("n").as("cnt"))
        .filter(col("cnt") >= minPairCount)
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(window).collect()
      rounds += 1
      if (top.isEmpty) done = true
      else {
        val cands = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val touched = scala.collection.mutable.Set.empty[String]
        val created = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        // cStop = best count a pair the batch may perturb could still
        // hold: the first symbol-sharing candidate, else the window
        // tail, else (exhausted table) nothing — MinValue keeps all.
        var cStop = if (cands.length < window) Long.MinValue else cands.last._3
        var stopped = false
        for (c @ (a, b, cnt) <- cands if !stopped) {
          // Disjointness is on symbol STRINGS, and a merge's created
          // symbol is itself a string that can collide with another
          // candidate's input (e.g. (ab,c) creating "abc" while (a,bc)
          // is also in the window): accept only if the candidate's
          // inputs avoid both the accepted inputs AND the accepted
          // created strings, and its own created string avoids the
          // accepted inputs — otherwise one pass could cascade a
          // created symbol into a second merge, which sequential BPE
          // would only do after a recount.
          if (touched(a) || touched(b) || created(a) || created(b) ||
              touched(a + b)) { cStop = cnt; stopped = true }
          else { accepted += c; touched += a; touched += b; created += (a + b) }
        }
        val kept = accepted.take(1) ++ accepted.drop(1).takeWhile(_._3 > cStop)
        val batch = kept.take(numMerges - merges.size)
        batch.foreach { case (a, b, cnt) =>
          merges += ((merges.size + 1, a, b, cnt))
        }
        state = state
          .withColumn("syms",
            mergeBatchDisjoint(col("syms"), batch.toSeq.map(t => (t._1, t._2))))
          .transform(Checkpoints.cutLazy)
      }
    }
    state.unpersist()
    (merges.toSeq, rounds)
  }

  /** [[bpeMergesBatched]] as a DataFrame — the driver-checkable merge
    * table (identical to the sequential [[bpeMerges]] sequence by the
    * batching proof; the equivalence is additionally spec-pinned). */
  def bpeTrain(docs: DataFrame, numMerges: Int,
               minPairCount: Long = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergesBatched(docs, numMerges, minPairCount)._1
      .toDF("merge_rank", "left", "right", "pair_count")
      .orderBy("merge_rank")
  }

  /** Apply learned merges to the corpus — the ENCODE side: each word
    * splits to characters and replays the merge list in rank order
    * (one chained [[mergePair]] projection per merge, all codegen'd,
    * zero shuffles — a pure scan at any corpus size). Returns
    * (doc_id, tokens, n_tokens). */
  def bpeSegment(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val charSplit = transform(split(col("text"), " "),
      w => filter(split(w, ""), x => x =!= ""))
    val applied = merges.foldLeft(charSplit) { case (c, (a, b)) =>
      transform(c, w => mergePair(w, a, b))
    }
    docs.select(col("doc_id"), flatten(applied).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
      .orderBy("doc_id")
  }

  /** 64-bit polynomial rolling-hash fingerprint via the custom Catalyst
    * expression [[graft.functions.RollingHash]] (codegen'd). */
  def rollhash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), rolling_hash(lower(col("text"))).as("fp64"))
      .orderBy("doc_id")
}
