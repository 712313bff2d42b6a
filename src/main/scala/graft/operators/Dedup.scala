package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale text corpus.
  *
  * Scale design: signatures (minhash, simhash) are computed via
  * explode + partial aggregation — map-side combine means each shuffle
  * carries one signature row per doc per upstream partition, and the
  * whole path stays inside whole-stage codegen (the per-row
  * higher-order-lambda alternative is interpreted and benched 20×
  * slower). Candidate pairs come only from band-bucket self-joins
  * (tight S-curve banding keeps them near-linear in corpus size), and
  * exact n-gram Jaccard runs only as a verify stage on those
  * candidates (array_intersect on two small arrays), never
  * corpus × corpus.
  */
object Dedup {

  /** Exact duplicate groups keyed by sha2-256 of the content column.
    * Shuffles only (hash, id) pairs — never the text. Returns
    * (keep_id, n_copies, h); keep_id is the smallest id in the group
    * (the canonical survivor). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "h")
      .orderBy("keep_id")

  /** URL canonicalization — the web-crawl dedup key: the same page
    * arrives under casing, tracking-parameter, default-port, www, and
    * trailing-slash variants, and byte-level dedup misses all of them.
    * Normalizations applied (all codegen'd regex/string ops, one scan):
    *   1. fragment dropped (`#…` never reaches the server),
    *   2. tracking params removed (utm_*, fbclid, gclid) with
    *      separator repair (no dangling `?`/`&`),
    *   3. default ports stripped — scheme-aware (`:80` only for http,
    *      `:443` only for https; `http://x:443` is NOT default and
    *      survives),
    *   4. scheme+host lowercased (the path stays case-SENSITIVE),
    *   5. leading `www.` dropped from the host,
    *   6. trailing slash trimmed.
    * Strings without a scheme pass through unchanged (the extract
    * matches nothing and every later rule needs URL structure). */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val noTrack = regexp_replace(noFrag,
      "(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&?", "")
    val noDangle = regexp_replace(noTrack, "[?&]+$", "")
    val noP80 = regexp_replace(noDangle, "^(http://[^/?#:]*):80(?=[/?#]|$)", "$1")
    val noP443 = regexp_replace(noP80, "^(https://[^/?#:]*):443(?=[/?#]|$)", "$1")
    val schemeHost = regexp_extract(noP443, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(schemeHost),
      noP443.substr(length(schemeHost) + lit(1), length(noP443)))
    val noWww = regexp_replace(lowered, "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
    regexp_replace(noWww, "/$", "")
  }

  /** Duplicate groups by canonical URL — [[exact]]'s shape keyed on
    * [[canonicalUrl]]: (keep_id, n_copies, url_canon). */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(canonicalUrl(col(urlCol)).as("url_canon"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "url_canon")
      .orderBy("keep_id")

  /** Distinct word-k-gram shingles per document as a per-row array
    * column `sh` — one tight loop per row via the WordShingles
    * expression (the lambda composition it replaces was the hottest
    * part of the minhash bench). */
  def withShingles(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("sh", graft.functions.WordShingles.shingles(col("text"), k))
      .filter(size(col("sh")) > 0)

  /** MinHash signatures: sig_i = min over shingles of h_i(shingle),
    * one column per hash. Each shingle is string-hashed ONCE
    * (xxhash64), then h_i re-hashes the fixed-width 64-bit value with
    * seed column i — 32 cheap 8-byte hashes instead of 32 string
    * hashes per shingle (long-multiply mixing would trip ANSI overflow
    * checks). Shingles are exploded and min-aggregated per doc — the
    * partial (map-side) aggregation means the shuffle carries one
    * signature row per doc per partition, and the whole pipeline is
    * codegen'd (a transform/array_min lambda composition benched 20×
    * slower). */
  /** The MinHash seed scheme: signature i re-hashes a shingle's 64-bit
    * string hash with seed column i. The batch path (explode +
    * min-aggregate, map-side combinable) and the streaming path
    * (per-row array_min — StreamJobs.nearDupPairsStream) BOTH build on
    * this one expression; so does [[bandHash]]. Any change here must
    * keep them identical or streamed buckets stop matching batch
    * buckets (StreamingSpec's subset assertion is the enforcement). */
  private[graft] def seedHash(i: Int, h0: Column): Column = xxhash64(lit(i), h0)

  /** Band bucket hash over `rowsPerBand` consecutive signature mins. */
  private[graft] def bandHash(sig: Int => Column, b: Int, rowsPerBand: Int): Column =
    xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(sig): _*)

  def withMinhashSig(shingled: DataFrame, numHashes: Int): DataFrame = {
    val exploded = shingled
      .select(col("doc_id"), explode(col("sh")).as("s1"))
      .withColumn("h0", xxhash64(col("s1")))
    val aggs = (0 until numHashes).map(i =>
      min(seedHash(i, col("h0"))).as(s"sig$i"))
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: the signature is cut into `bands` groups of
    * `rowsPerBand`, each hashed to a bucket; docs sharing any (band,
    * bucket) meet. Defaults (8 bands × 4 rows) put the S-curve
    * threshold at (1/8)^(1/4) ≈ 0.59 — near-dup territory — which
    * keeps the candidate set linear-ish in corpus size instead of the
    * quadratic flood a looser scheme produces on same-domain text. The band explode emits bands×N small rows and the
    * self-join keys on (band, bucket) — each signature shuffles once,
    * pair generation is local to a bucket. */
  def minhashCandidates(docs: DataFrame, shingleK: Int = 2, bands: Int = 8,
                        rowsPerBand: Int = 4): DataFrame =
    bandedPairs(
      withMinhashSig(withShingles(docs, shingleK), bands * rowsPerBand),
      bands, rowsPerBand)
      .select("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")

  /** Explode a signature frame into (doc_id, band, bh) rows — the LSH
    * bucket coordinates shared by the self-join pair path and the
    * incremental path. */
  private def explodeBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map(b =>
      bandHash(i => col(s"sig$i"), b, rowsPerBand))
    sigs
      .select(col("doc_id"), array(bandCols: _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
  }

  /** The corpus's banded MinHash coordinates as a PERSISTABLE artifact:
    * (doc_id, band, bh), bands×N small rows. Write this once per
    * corpus build; every future ingest batch dedups against the
    * parquet with [[incrementalCandidates]] — the 100 TB corpus is
    * never re-shingled and never self-joined again. */
  def bandedSignatures(docs: DataFrame, shingleK: Int = 2, bands: Int = 8,
                       rowsPerBand: Int = 4): DataFrame =
    explodeBands(
      withMinhashSig(withShingles(docs, shingleK), bands * rowsPerBand),
      bands, rowsPerBand)

  /** The parameters a banding artifact was built under. The batch side
    * of an incremental join MUST band identically: coordinates computed
    * under a different (shingleK, bands, rowsPerBand) hash into
    * disjoint buckets, so the (band, bh) equi-join silently yields
    * ~zero candidates and the dedup gate FAILS OPEN — duplicates
    * admitted with no error. */
  case class Banding(shingleK: Int = 2, bands: Int = 8, rowsPerBand: Int = 4)

  /** A persisted corpus banding tied to its parameters — the typed
    * handle the incremental operators take, so a batch can never join
    * an artifact banded under different parameters. */
  case class BandedCorpus(bands: DataFrame, banding: Banding)

  /** Write the banding artifact WITH its parameters: `path/bands`
    * holds the (doc_id, band, bh) rows, `path/banding` a one-row
    * parquet of the parameters they were built under. */
  def saveBandedSignatures(docs: DataFrame, path: String,
                           banding: Banding = Banding()): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandedSignatures(docs, banding.shingleK, banding.bands, banding.rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/bands")
    Seq((banding.shingleK, banding.bands, banding.rowsPerBand))
      .toDF("shingle_k", "bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/banding")
  }

  /** Reopen a persisted banding with the parameters it was built
    * under — feed the result straight to the [[BandedCorpus]]
    * overloads of [[incrementalCandidates]]/[[incrementalIngest]]. */
  def loadBandedSignatures(spark: org.apache.spark.sql.SparkSession,
                           path: String): BandedCorpus = {
    val p = spark.read.parquet(s"$path/banding").head()
    BandedCorpus(spark.read.parquet(s"$path/bands"),
      Banding(p.getInt(0), p.getInt(1), p.getInt(2)))
  }

  /** Typed-artifact form of [[incrementalCandidates]]: the batch is
    * banded under the ARTIFACT's own parameters. */
  def incrementalCandidates(newDocs: DataFrame, corpus: BandedCorpus): DataFrame =
    incrementalCandidates(newDocs, corpus.bands, corpus.banding.shingleK,
      corpus.banding.bands, corpus.banding.rowsPerBand)

  /** Typed-artifact form of [[incrementalIngest]]. */
  def incrementalIngest(newDocs: DataFrame, corpusDocs: DataFrame,
                        corpus: BandedCorpus, minJaccard: Double): DataFrame =
    incrementalIngest(newDocs, corpusDocs, corpus.bands, corpus.banding.shingleK,
      minJaccard, corpus.banding.bands, corpus.banding.rowsPerBand)

  /** Incremental near-dup candidates: a new ingest batch against the
    * persisted corpus banding. Only the BATCH is shingled and hashed
    * (linear in batch tokens); the corpus side is a plain scan of
    * [[bandedSignatures]] output, and the equi-join on (band, bh)
    * shuffles batch coordinates against bucket-matched corpus rows —
    * never corpus × corpus. An exact re-presented document shares every
    * band, so it is a GUARANTEED candidate; near-dups follow the same
    * S-curve as [[minhashCandidates]] (the hash scheme is identical —
    * seedHash/bandHash are shared code). Within-batch duplicates are
    * [[minhashCandidates]] on the batch, by composition. Output:
    * (new_id, corpus_id) distinct pairs. */
  def incrementalCandidates(newDocs: DataFrame, corpusBands: DataFrame,
                            shingleK: Int = 2, bands: Int = 8,
                            rowsPerBand: Int = 4): DataFrame =
    bandedSignatures(newDocs, shingleK, bands, rowsPerBand).as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
      .distinct()

  /** End-to-end incremental ingest gate: admit the subset of `newDocs`
    * with NO verified near-duplicate already in the corpus. Candidates
    * come from the persisted banding ([[incrementalCandidates]] —
    * batch-linear); the exact-Jaccard verify then shingles the BATCH
    * and only the corpus docs that appear as candidates (a candidate-
    * bounded semi-join pulls their text — never a corpus-wide shingle
    * pass). An exact re-present is a guaranteed candidate with
    * jaccard 1.0, so it is always rejected; borderline candidates are
    * admitted or rejected by the same `minJaccard` the batch sweep
    * uses. Returns admitted rows of `newDocs`. */
  def incrementalIngest(newDocs: DataFrame, corpusDocs: DataFrame,
                        corpusBands: DataFrame, shingleK: Int = 2,
                        minJaccard: Double = 0.5, bands: Int = 8,
                        rowsPerBand: Int = 4): DataFrame = {
    // eager cut: the candidate list (batch-bounded) feeds both the
    // corpus-text semi-join and the verify join — lazily the batch
    // banding + corpus-bands join executed twice (guide §5)
    val cands = Checkpoints.cut(
      incrementalCandidates(newDocs, corpusBands, shingleK, bands, rowsPerBand))
    val newSh = withShingles(newDocs, shingleK)
      .select(col("doc_id").as("new_id"), col("sh").as("sh_a"))
    val corpusCand = corpusDocs
      .join(cands.select(col("corpus_id").as("doc_id")).distinct(), "doc_id")
    val corpSh = withShingles(corpusCand, shingleK)
      .select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
    val rejected = cands
      .join(newSh, "new_id")
      .join(corpSh, "corpus_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= minJaccard)
      .select(col("new_id").as("doc_id")).distinct()
    newDocs.join(rejected, Seq("doc_id"), "left_anti")
  }

  private def bandedPairs(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // eager cut on the SIGNATURE frame (doc-sized: 32 ints/doc — never
    // the shingle set, whose no-cache posture ngramJaccard documents):
    // both sides of the bucket self-join descend from it, so lazily the
    // whole shingle+minhash subtree executed twice (guide §5)
    val banded = explodeBands(Checkpoints.cut(sigs), bands, rowsPerBand)
    banded.as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** 64-bit SimHash fingerprints: tokens exploded with term counts,
    * 64 signed bit-vote sums per doc (codegen'd partial aggregation —
    * the shuffle carries 64 longs per doc per partition), votes packed
    * into one long. */
  def withSimhash(docs: DataFrame): DataFrame = {
    // one vote per token OCCURRENCE — identical to pre-counting term
    // frequencies but with a single shuffle (the 64 sums partial-agg
    // map-side) instead of a (doc, tok) pre-aggregation
    val tokens = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", xxhash64(col("tok")))
    val bitAggs = (0 until 64).map { j =>
      sum(
        when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"b$j")
    }
    val fpTerms = (0 until 64).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    tokens
      .groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .withColumn("fp", fpTerms.reduce(_ + _))
      .select("doc_id", "fp")
  }

  /** SimHash near-dup pairs, blocked on *pairs* of fingerprint chunks
    * and verified with bit_count(xor).
    *
    * Recall guarantee (pigeonhole): the 64 bits are cut into
    * m = maxHamming + 2 chunks; ≤ maxHamming flipped bits can dirty at
    * most maxHamming chunks, leaving ≥ 2 chunks intact, so every
    * qualifying pair collides in at least one of the C(m,2) pair
    * tables. (Blocking on *single* chunks with m = maxHamming + 1 has
    * the same guarantee but a far smaller key space — the round-1
    * design's 16-bit keys cap at 65,536 buckets, which goes quadratic
    * per bucket at 10^9+ docs.)
    *
    * Bucket-size bound: each pair table keys on the concatenation of
    * two chunk values — ≥ 2·⌊64/m⌋ bits, so ≥ 2^25 buckets for the
    * default m = 5 (13+13…12-bit chunks). SimHash outputs are
    * near-uniform over docs that aren't near-dups, so expected bucket
    * occupancy is N/2^25 (≈ 30 at 10^9 docs) and candidate generation
    * stays near-linear: C(m,2)·N·E[occupancy] vs the 2^16-bucket
    * scheme's N²/65536-per-table blowup. Cost: C(m,2) = 10 exploded
    * rows per doc instead of 4 — each row is (doc_id, fp, 2 ints). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFromFps(withSimhash(docs), maxHamming)

  /** Blocking + verify over precomputed (doc_id, fp) fingerprints —
    * split out so recall can be spec'd on planted hamming distances. */
  def simhashPairsFromFps(fingerprints: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 14,
      s"maxHamming must be in [0, 14] (m = maxHamming + 2 chunks over 64 bits), got $maxHamming")
    val m = maxHamming + 2
    // chunk i covers bits [offsets(i), offsets(i) + widths(i)); the
    // first (64 % m) chunks take the extra bit
    val widths = Array.tabulate(m)(i => 64 / m + (if (i < 64 % m) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def chunk(i: Int): Column =
      shiftrightunsigned(col("fp"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    // one exact (no hashing → no false negatives from key collisions
    // mattering for recall; collisions only add verify work) key per
    // chunk pair: cv_i concatenated above cv_j
    val pairKeys = for { i <- 0 until m; j <- i + 1 until m }
      yield shiftleft(chunk(i), widths(j)).cast("long") + chunk(j)
    // eager cut: the fingerprint frame (doc-sized, 16 bytes/doc) feeds
    // both sides of the chunk-pair self-join — lazily the 64-bit-vote
    // aggregation upstream executed twice (guide §5)
    val fps = Checkpoints.cut(fingerprints.select("doc_id", "fp"))
    val keyed = fps
      .withColumn("pks", array(pairKeys: _*))
      .select(col("doc_id"), col("fp"), posexplode(col("pks")).as(Seq("pi", "pk")))
    keyed.as("a")
      .join(
        keyed.as("b"),
        col("a.pi") === col("b.pi") && col("a.pk") === col("b.pk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard as a verify stage over LSH candidates: join
    * each side's per-row shingle array onto the (small) candidate list
    * and compute |A∩B| / |A∪B| with array set ops — the corpus is
    * scanned twice for arrays, the quadratic part never materializes. */
  def ngramJaccard(docs: DataFrame, shingleK: Int = 2, minJaccard: Double = 0.5,
                   cache: Boolean = false): DataFrame = {
    // shingle arrays feed both the signature path and the verify join.
    // cache=false is the default: the operator returns a LAZY frame, so
    // an internal persist could never be unpersisted at the right time
    // and would pin executor storage for the session; at 100 TB a
    // second scan also beats spilling the full shingle set. Callers
    // iterating on a corpus that fits in memory can opt in with
    // cache=true and own the unpersist via
    // spark.catalog.clearCache() when done.
    val shingledRaw = withShingles(docs, shingleK)
    val shingled =
      if (cache) shingledRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else shingledRaw
    val sigs = withMinhashSig(shingled, 32)
    val cands = bandedPairs(sigs, bands = 8, rowsPerBand = 4)
    val shSets = shingled.select(col("doc_id"), col("sh"))
    cands
      .join(shSets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shSets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn(
        "jaccard",
        round(col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Blocked edit-distance (Levenshtein) near-dup pairs — the fuzzy
    * entity-resolution / record-linkage primitive for SHORT strings
    * (names, titles, product labels) where shingle Jaccard is too
    * coarse. Every pair sharing a caller-supplied blocking key is
    * verified with exact `levenshtein`; pairs at distance ≤ `maxDist`
    * come back as (id_a, id_b, dist) with id_a < id_b.
    *
    * The blocking key IS the scale contract (standard record-linkage
    * practice): comparisons are quadratic only within a block, and the
    * self-join shuffles both sides once on the key, so block-size × key
    * cardinality is the knob the caller owns — first token, sorted-char
    * signature, phonetic code, (prefix, length-band) all work. A
    * degenerate block (one giant key) degrades to the quadratic the
    * caller asked for; this operator never builds corpus². */
  def editPairs(df: DataFrame, blockKey: Column, maxDist: Int = 2,
                idCol: String = "id", textCol: String = "name"): DataFrame = {
    val p = df.select(col(idCol).as("id"), col(textCol).as("txt"), blockKey.as("blk"))
    p.as("a")
      .join(p.as("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.txt"), col("b.txt")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("id_a", "id_b")
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise candidates into dedup CLUSTERS (keep min-id per
    * component, drop the rest). Returns (doc_id, component) with
    * component = the smallest doc_id reachable.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (1) every node takes the min label over its neighbors, then
    * (2) every node re-reads the label OF its label (comp -> comp's
    * comp) — the doubling step that collapses chains in O(log diameter)
    * rounds instead of O(diameter). Per round: one shuffle join on the
    * edge list + one self-join on the label table, each keyed by id —
    * the classic large-graph CC shape (no driver-side adjacency, no
    * assumption the graph fits anywhere).
    *
    * Lineage control: each round re-reads `labels` in three places, so
    * chaining rounds lazily would grow the logical plan ~4^rounds and
    * stall Catalyst long before the data is the problem. Every round
    * therefore ends in an EAGER checkpoint — the plan restarts from
    * materialized partitions; superseded round blocks are freed by the
    * ContextCleaner as the loop drops its references. By default that
    * is a localCheckpoint (executor-memory-resident — fast, fine on
    * local[*]); pass `checkpointDir` on a real cluster to switch to
    * reliable dir-backed checkpointing, which survives executor loss
    * mid-loop. LSH dup clusters are near-cliques, so this typically
    * converges in 2-3 rounds; a 50-node chain (max diameter) converges
    * in 6. */
  def components(pairs: DataFrame, maxIters: Int = 25,
                 checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // the explicit param wins; otherwise Checkpoints.cut honors the
    // session-wide graft.checkpointDir conf (reliable at cluster scale)
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else Checkpoints.cut(df)
    // every snapLazy below is immediately followed by a full-coverage
    // action (labelSum — an ungrouped aggregate), which materializes
    // the checkpoint in the SAME job (Checkpoints.cutLazy): one Spark
    // job per round instead of two, on a loop whose per-round data is
    // label-sized and whose real cost is job overhead (guide §5)
    def snapLazy(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else Checkpoints.cutLazy(df)
    // pre-partitioned on the JOIN key before the one-time checkpoint:
    // a checkpoint materializes with its physical partitioning, so
    // every round's edges-side of the label join arrives co-located —
    // the EDGE-sized shuffle (the term that made the 100M-edge hop
    // spill-bound in ScaleCheck100 at commit 2375eab) happens once
    // here, never per round;
    // only label-sized exchanges remain in the loop
    // lazy cut: the initial-label aggregate (via prevSum) reads every
    // edge partition, materializing this checkpoint in the same job
    val edges = snapLazy(pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .repartition(col("b")))
    // initial label: min(self, direct neighbors) — saves one round
    // (lazy cut: the prevSum aggregate right below materializes it)
    var labels = snapLazy(edges.groupBy("a")
      .agg(min("b").as("nmin"))
      .select(col("a").as("id"), least(col("a"), col("nmin")).as("comp")))
    // coalesce to 0: an EMPTY label table (legit when the candidate
    // generator found zero near-dup pairs) makes sum() return null,
    // and a null BigDecimal would NPE the convergence compare
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var done = false
    var i = 0
    while (!done && i < maxIters) {
      // min over (self label ∪ neighbor labels) as ONE union+aggregate:
      // the r8 shape computed neighbor-min with a groupBy, then joined
      // labels back for the self term — a whole join stage this fusion
      // removes (the self row rides the union into the same combiner)
      val propagated = edges
        .join(labels.select(col("id").as("b"), col("comp").as("ncomp")), "b")
        .select(col("a").as("id"), col("ncomp"))
        .unionByName(labels.select(col("id"), col("comp").as("ncomp")))
        .groupBy("id").agg(min(col("ncomp")).as("comp"))
      // pointer jump: labels are themselves node ids, so comp's comp is
      // a self-join — the doubling that makes long chains logarithmic
      val next = snapLazy(propagated
        .join(
          propagated.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("comp") === col("cid"), "left")
        .select(col("id"), coalesce(col("ccomp"), col("comp")).as("comp")))
      // convergence: labels are node ids and label(x) <= x, so each
      // round every comp is non-increasing — any change strictly
      // decreases sum(comp). Comparing sums is one cheap aggregate
      // over the just-checkpointed partitions, replacing the per-round
      // labels-join + filter + count job (one fewer shuffle per round).
      // decimal(38,0) so huge id spaces can't overflow-collide.
      val nextSum = labelSum(next)
      labels = next
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("comp").as("component"))
  }

  /** End-to-end near-dup removal — the composition a corpus-curation
    * pipeline actually runs, as one operator: MinHash-LSH candidates →
    * exact n-gram Jaccard verify → connected components → keep the
    * min-id survivor per cluster. Returns the SURVIVOR id set: every
    * doc that is either untouched by any verified near-dup pair or the
    * canonical (smallest-id) member of its duplicate cluster.
    *
    * Scale: inherits each stage's story — banded candidate generation
    * (near-linear), verify only on candidates, iterative CC over the
    * (tiny relative to corpus) verified pair set, and a final anti-join
    * keyed on id. Nothing here is corpus × corpus. */
  def sweep(docs: DataFrame, shingleK: Int = 2, minJaccard: Double = 0.5,
            idCol: String = "doc_id"): DataFrame = {
    val verified = ngramJaccard(docs, shingleK, minJaccard)
      .select("doc_a", "doc_b")
    val losers = components(verified)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    docs.select(col(idCol))
      .join(losers, Seq(idCol), "left_anti")
      .orderBy(idCol)
  }

  /** Leakage-safe train/validation split: near-duplicate documents must
    * land on the SAME side, or the eval set silently contains training
    * data. Every doc is assigned its cluster representative (its
    * connected component over the near-dup pair graph; isolated docs
    * represent themselves) and the whole cluster splits together by a
    * deterministic, engine-portable hash rule: val iff the first four
    * hex chars of md5(representative) sort below the valFrac threshold
    * (lowercase hex compares monotonically with its value, so the rule
    * is a plain string comparison any engine reproduces bit-for-bit).
    *
    * Granularity is 1/65536; the realized fraction converges to
    * valFrac by cluster count, not doc count — heavy clusters make the
    * split slightly lumpy, which is inherent to leakage-safety.
    *
    * Scale: components over the (corpus-sparse) pair set, one
    * left join of ids against labels, and codegen'd hash/compare —
    * no corpus-sized shuffle beyond the id join. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, valFrac: Double = 0.25,
                       idCol: String = "doc_id"): DataFrame = {
    require(valFrac > 0.0 && valFrac < 1.0, s"valFrac must be in (0, 1), got $valFrac")
    val threshold = f"${math.round(65536 * valFrac)}%04x"
    docs.select(col(idCol))
      .join(components(pairs).withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn(
        "split",
        when(substring(md5(col("component").cast("string")), 1, 4) < lit(threshold),
          lit("val")).otherwise(lit("train")))
      .select(col(idCol), col("component"), col("split"))
  }

  /** Leakage-safe K-FOLD assignment — [[leakageSafeSplit]] generalized
    * from one train/val cut to cross-validation: every doc gets a fold
    * in [0, k) decided by its near-dup CLUSTER (md5 of the component
    * id, first 8 hex chars parsed as an integer, mod k — the
    * engine-portable hash the sampling family rides), so near-dups can
    * never sit in different folds and leak across a CV boundary.
    * Singletons (docs in no pair) are their own cluster. One
    * components() run + a codegen'd fold projection. */
  def kfoldSplit(docs: DataFrame, pairs: DataFrame, k: Int,
                 idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"kfoldSplit: k must be >= 2, got $k")
    docs.select(col(idCol))
      .join(components(pairs).withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("fold",
        pmod(conv(substring(md5(col("component").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(k.toLong)))
      .select(col(idCol), col("component"), col("fold"))
  }

  /** Survivor ELECTION by quality — the "keep best, not keep first"
    * form of dedup cluster resolution: [[sweep]] keeps the min-id doc
    * per near-dup cluster (deterministic but arbitrary); pipelines
    * curating for quality keep the LONGEST / highest-scored instead.
    * Given near-dup `pairs` and a per-doc `quality` frame, each
    * connected component elects its max-quality member (ties to the
    * smaller id — still a total order, still deterministic).
    *
    * One components() run (pointer jumping, O(log d) rounds) + a
    * component-partitioned window over cluster-sized groups. Members
    * MISSING a quality row still stand for election (LEFT join, null
    * quality ranks last) — an inner join would silently erase them,
    * and a cluster whose every member lacked quality would vanish
    * entirely instead of electing its min-id member. */
  def electBest(pairs: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("component")
      .orderBy(desc_nulls_last("quality"), col("doc_id"))
    components(pairs)
      .join(quality, Seq("doc_id"), "left")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("component"), col("doc_id").as("survivor"), col("quality"))
  }

  /** EXACT all-pairs token-set Jaccard join above a threshold, by
    * PREFIX FILTERING (the PPJoin family) — the deterministic
    * complement of MinHash: no probabilistic recall, every qualifying
    * pair is found, no non-qualifying pair survives. Where
    * [[minhashCandidates]] trades exactness for a fixed banding cost,
    * this trades a frequency-ordering pass for a guarantee.
    *
    * The filter: order all tokens by ascending corpus frequency (rare
    * first — a total order), keep each doc's first
    * |x| − ⌈t·|x|⌉ + 1 tokens as its PREFIX; two sets with Jaccard ≥ t
    * MUST share a prefix token (pigeonhole on the sorted lists), so
    * candidates meet in an equi-join on prefix tokens. Because
    * prefixes keep each doc's RAREST tokens, the join key distribution
    * is anti-skewed by construction — the hot stop-words that would
    * flood a naive token join never enter a prefix.
    *
    * Shapes: token-frequency ranks are one partial-agg count + one
    * window over the (vocab-sized) token table; prefixes are a
    * window + filter; candidates a (rare-)token equi-join deduped
    * BEFORE verification; the exact verify joins candidate pairs back
    * to token sets — intersection counts over candidate-bounded work,
    * never corpus². Returns (doc_a, doc_b, jaccard ≥ threshold). */
  def jaccardJoin(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardJoin: threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // rare-first TOTAL order = (corpus frequency, token) — used as a
    // compound sort key directly, so no global rank window (a dense
    // vocabulary row_number would be a single-reducer sort at scale)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("_df"))
    val pos = Window.partitionBy("doc_id").orderBy(col("_df"), col("tok"))
    val prefixes = toks.join(freq, "tok")
      .withColumn("_pos", row_number().over(pos))
      .join(sizes, "doc_id")
      .filter(col("_pos") <= col("sz") - ceil(col("sz") * lit(threshold)) + 1)
      .select(col("doc_id"), col("tok"))
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = candidates
      .join(toks.select(col("doc_id").as("doc_a"), col("tok")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("_sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("_sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("_inter").cast("double") /
          (col("_sa") + col("_sb") - col("_inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Global LINE-level exact dedup — the CommonCrawl/CCNet pass that
    * byte- and near-dup document dedup both miss: boilerplate lines
    * (nav bars, cookie banners, footers) repeat across millions of
    * pages whose documents are otherwise unique. Every line keeps its
    * GLOBALLY FIRST occurrence (ordered by (doc_id, position) — a
    * deterministic total order) and every later occurrence, including
    * repeats inside the same document, is dropped; documents are then
    * reassembled from their surviving lines in original order.
    *
    * Scale shape: the corpus-wide shuffle carries (doc_id, pos,
    * md5(line)) — 16-byte hashes, never line text; first-occurrence
    * election is one row_number window partitioned by the hash.
    * Reassembly joins each doc's (bounded, doc-length-sized) kept-
    * position list back and re-slices the original text in a
    * codegen'd projection — text never shuffles at all. One hash
    * shuffle + one doc_id shuffle, both linear.
    *
    * Returns (doc_id, text_dedup, n_kept, n_orig); a document whose
    * every line lost its election comes back as the empty string with
    * n_kept = 0. Input needs (doc_id, text); `sep` is a literal
    * separator (default newline). */
  def dedupLines(docs: DataFrame, sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lineArr = split(col("text"), java.util.regex.Pattern.quote(sep))
    val lines = docs
      .select(col("doc_id"), posexplode(lineArr).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), md5(col("line")).as("lh"))
    val w = Window.partitionBy("lh").orderBy("doc_id", "pos")
    val kept = lines
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("_kp"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("_kp").isNull, lit(""))
          .otherwise(array_join(
            transform(col("_kp"), p => element_at(lineArr, p + lit(1))), sep))
          .as("text_dedup"),
        when(col("_kp").isNull, lit(0L))
          .otherwise(size(col("_kp")).cast("long")).as("n_kept"),
        size(lineArr).cast("long").as("n_orig"))
  }

  /** Embedding-cosine near-duplicate pairs: vectors bucketed by
    * hyperplane LSH (see Similarity), pairs sharing a bucket verified
    * with exact cosine ≥ threshold. `planes <= 0` (the default) sizes
    * the bucket space from the corpus count via
    * [[Similarity.planesFor]] — fixed plane counts go quadratic per
    * bucket once N outgrows 2^planes · targetOccupancy. The count is
    * memoized per logical plan (see Similarity.corpusCount), so a
    * pipeline running annLsh and this on one corpus pays one scan;
    * pass a known corpus size as `n` to skip it. */
  def embeddingDupPairs(emb: DataFrame, minCosine: Double = 0.95,
                        dim: Int = 64, tables: Int = 4, planes: Int = 0,
                        n: Long = -1L): DataFrame = {
    val p = if (planes > 0) planes
            else Similarity.planesFor(if (n > 0) n else Similarity.corpusCount(emb))
    // eager cut before the explode: both sides of the bucket self-join
    // descend from the banded frame — lazily the hyperplane banding
    // expression evaluated twice over the corpus (guide §5)
    val banded = Checkpoints.cut(Similarity.withBuckets(emb, dim, tables, p)
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("t", "bucket"))))
    // distinct FIRST: clustered corpora make the same pair collide in
    // several tables — dedup ids before paying for any cosine
    val pairs = banded.as("a")
      .join(
        banded.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    // no broadcast hint: the embeddings side is corpus-sized, so the
    // planner must stay free to shuffle-join on vec_id at scale (AQE
    // still broadcasts when the side is actually small)
    pairs
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("e_a")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("e_b")), "vec_b")
      .select(
        col("vec_a"), col("vec_b"),
        round(Similarity.cosine(col("e_a"), col("e_b")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space, then within
    * each cluster collapse every group of near-identical vectors
    * (cosine ≥ `tau`, transitively closed) to ONE representative.
    * Complements [[embeddingDupPairs]]: there the blocking is
    * hyperplane LSH and the output is verified PAIRS; here the k-means
    * CELL is the blocking — the paper's observation is that semantic
    * duplicates land in the same cluster, so the cluster assignment
    * doubles as the candidate generator — and the output is a
    * per-vector disposition a curation pass filters on.
    *
    * Keeper rule: within a duplicate group the member with the LOWEST
    * cosine to its cell centroid survives (the paper's default —
    * keep the least-typical example), ties broken by min id so the
    * operator is deterministic end to end.
    *
    * Scale shape: the KMeans fit sees ≤ `fitSampleRows` vectors
    * (bounded driver model, same cap as [[graft.operators.Ivf.fit]]);
    * assignment is one linear codegen'd argmin pass
    * ([[graft.functions.IvfFunctions.ivf_assign]]); the within-cell
    * pair join is an EQUI-join on `cell`, so total verify work is
    * Σ cell² ≈ N · cellSize — the cell is the blocking unit and the
    * join never goes corpus². SIZE THE CELLS, not the cell count: the
    * ~√N default (cell ≈ √N) is right up to ~10^8 vectors; beyond
    * that pass `nlist ≈ N / targetCellSize` (a few thousand per cell)
    * so the pair work stays LINEAR in N — the same knob the SemDeDup
    * paper turns (50k clusters at web scale). `nlist` may exceed the
    * fit sample's support only down to one point per center; the fit
    * cap is the real ceiling on cell-count growth, exactly as in
    * [[graft.operators.Ivf.fit]]. Duplicate groups resolve by the
    * same pointer-jumping [[components]] loop the MinHash sweep uses.
    * Nothing driver-sized except the k centroids.
    *
    * Returns one row PER INPUT VECTOR:
    * (vec_id, cell, component, centroid_cos, keep) — `keep = false`
    * rows are the semantic duplicates to drop. */
  def semanticDedup(emb: DataFrame, tau: Double = 0.95, nlist: Int = 0,
                    fitSampleRows: Long = 200000L,
                    seed: Long = 42L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0,
      s"Dedup.semanticDedup: tau must be in (0, 1], got $tau")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    val n = Similarity.corpusCount(emb)
    require(n > 0, "Dedup.semanticDedup: empty corpus")
    // clamped to the corpus size — KMeans cannot seed more centers
    // than it has points (tiny-corpus edge)
    val k = math.min(n,
      if (nlist > 0) nlist.toLong
      else math.max(4, math.sqrt(n.toDouble).toInt).toLong).toInt
    val feat = emb.withColumn("features", array_to_vector(col("embedding")))
    val fitOn =
      if (n > fitSampleRows)
        feat.sample(withReplacement = false, fitSampleRows.toDouble / n, seed)
      else feat
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(10).fit(fitOn)
    val matrix = model.clusterCenters.map(_.toArray)
    semanticDisposition(emb, matrix, tau)
      .drop("embedding")
      .orderBy("vec_id")
  }

  /** The disposition core SemDeDup's batch and incremental entries
    * share: given a FIXED centroid matrix, assign → score → within-cell
    * pair → components → keeper election. Pairs are within-cell only,
    * so the result decomposes BY CELL — the property the incremental
    * path ([[semanticDedupAppend]]) exploits to rework only touched
    * cells and still match a full recompute exactly. Keeps the
    * embedding column (the state the incremental path persists);
    * batch callers drop it. */
  private def semanticDisposition(emb: DataFrame,
                                  matrix: Array[Array[Double]],
                                  tau: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val assigned = emb.select(col("vec_id"), col("embedding"),
      graft.functions.IvfFunctions.ivf_assign(col("embedding"), matrix)
        .as("cell"))
    val cents = matrix.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    // the keeper score, once per vector — k centroid rows broadcast
    // onto the argmin already computed
    // rounded at the source: the keeper election must tie-break on id
    // for equal scores, not on sub-ulp float noise in the dot product
    // r19: cut lineage here — `scored` feeds BOTH sides of the
    // within-cell pair join, the label attach and the keeper election,
    // so the lazy plan re-ran the scan + cell assignment + centroid
    // score up to four times; the lazy cut materializes once (during
    // components' first convergence aggregate) and every later branch
    // reads the cached partitions (guide §5)
    val scored = Checkpoints.cutLazy(assigned.join(broadcast(cents), "cell")
      .select(col("vec_id"), col("embedding"), col("cell"),
        round(Similarity.cosine(col("embedding"), col("centroid")), 6)
          .as("centroid_cos")))
    // within-cell near-identical pairs: every column renamed per side,
    // so the self-join is unambiguous and stays an equi-join on cell
    val a = scored.select(col("cell").as("cell_a"),
      col("vec_id").as("doc_a"), col("embedding").as("e_a"))
    val b = scored.select(col("cell").as("cell_b"),
      col("vec_id").as("doc_b"), col("embedding").as("e_b"))
    val pairs = a.join(b,
        col("cell_a") === col("cell_b") && col("doc_a") < col("doc_b"))
      .filter(Similarity.cosine(col("e_a"), col("e_b")) >= tau)
      .select(col("doc_a"), col("doc_b"))
    val comps = components(pairs) // (doc_id, component)
    // singleton vectors label themselves; keeper per component =
    // lexicographic min over (centroid_cos, vec_id)
    val labeled = scored
      .join(comps.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
    val keepers = labeled.groupBy("component")
      .agg(min(struct(col("centroid_cos"), col("vec_id"))).as("w"))
      .select(col("component"), col("w.vec_id").as("keeper"))
    labeled.join(keepers, "component")
      .select(col("vec_id"), col("embedding"), col("cell"),
        col("component"), col("centroid_cos"),
        (col("vec_id") === col("keeper")).as("keep"))
  }

  /** Offline SemDeDup with a PERSISTED model — the incremental-corpus
    * counterpart the rest of the pipeline already has (Ivf.append,
    * incrementalIngest, streaming ANN ingest): fit once, then let a
    * daily curation run pay only for its batch.
    *
    * Artifacts under `path` (the IvfIndex pattern, Ivf.scala):
    *   - `centroids` — the fitted KMeans centers (cell, centroid);
    *   - `state` — one row per vector, partitioned BY CELL:
    *     (vec_id, embedding, component, centroid_cos, keep).
    *
    * Returns the full disposition frame (same columns/order as
    * [[semanticDedup]]). */
  def semanticDedupInit(emb: DataFrame, path: String, tau: Double = 0.95,
                        nlist: Int = 0, fitSampleRows: Long = 200000L,
                        seed: Long = 42L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0,
      s"Dedup.semanticDedupInit: tau must be in (0, 1], got $tau")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    val n = Similarity.corpusCount(emb)
    require(n > 0, "Dedup.semanticDedupInit: empty corpus")
    val k = math.min(n,
      if (nlist > 0) nlist.toLong
      else math.max(4, math.sqrt(n.toDouble).toInt).toLong).toInt
    val feat = emb.withColumn("features", array_to_vector(col("embedding")))
    val fitOn =
      if (n > fitSampleRows)
        feat.sample(withReplacement = false, fitSampleRows.toDouble / n, seed)
      else feat
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(10).fit(fitOn)
    val matrix = model.clusterCenters.map(_.toArray)
    matrix.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val state = semanticDisposition(emb, matrix, tau)
    state.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/state")
    semanticState(spark, path)
  }

  /** Incremental SemDeDup — assign ONLY the new batch to the persisted
    * centroids, rework ONLY the cells the batch touched (prior members
    * re-read from the state partitions, pairs re-verified within those
    * cells), and leave every untouched cell's disposition byte-
    * identical on disk. Because [[semanticDisposition]]'s pairs are
    * within-cell, this equals a full recompute against the SAME
    * centroids exactly (spec-pinned); centroids drift from the true
    * fit only as the corpus distribution drifts — refitting stays an
    * offline decision, the Ivf.append contract. Cost: assignment is
    * one linear pass over the BATCH; the rework is Σ touched-cell²,
    * tracking batch size, not corpus size (measured flat at 10× the
    * corpus by ScaleCheckSemantic at commit 2375eab). */
  def semanticDedupAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                          newEmb: DataFrame, tau: Double = 0.95): DataFrame =
    // single-writer ENFORCED (r16): two racing appends would both read
    // the same prior cell state and the loser's rework would silently
    // drop the winner's vectors — the artifact lock serializes them,
    // so both batches land; crash re-entry (aside restore +
    // dropDuplicates) stays intact behind the age-broken lock
    ArtifactLock.withLock(spark, path, "semanticDedupAppend") {
      semanticDedupAppendLocked(spark, path, newEmb, tau)
    }

  private def semanticDedupAppendLocked(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newEmb: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0,
      s"Dedup.semanticDedupAppend: tau must be in (0, 1], got $tau")
    restoreAsideCells(spark, path)
    val matrix = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val assigned = newEmb.select(col("vec_id"), col("embedding"),
      graft.functions.IvfFunctions.ivf_assign(col("embedding"), matrix)
        .as("cell"))
    // touched cells: bounded by min(batch size, nlist) — driver-safe
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return semanticState(spark, path)
    val prior = spark.read.parquet(s"$path/state")
      .filter(col("cell").isin(touched: _*))
      .select("vec_id", "embedding")
    // dropDuplicates: a retry after a crash mid-rename re-presents
    // batch vectors that already landed in SOME touched cells' state —
    // without this the union would double them and skew the keeper
    // election (append is single-writer like Ivf.append, but it must
    // be RE-RUNNABLE after its own crash)
    val rework = semanticDisposition(
      prior.unionByName(assigned.select("vec_id", "embedding"))
        .dropDuplicates("vec_id"), matrix, tau)
    // overwrite exactly the touched cell partitions (the Ivf.remove
    // rewrite shape); untouched partitions are never opened. Per cell
    // the swap is rename-aside → rename-in → delete-aside, so NO crash
    // point loses the prior members (r15 advice: delete-then-rename
    // left a window where the cell's history was only in a tmp dir a
    // re-run never consults): a crash after the aside restores on the
    // next entry via [[restoreAsideCells]]; a crash after the
    // rename-in leaves a stale aside the same sweep discards. Aside
    // dirs are underscore-prefixed, so readers' partition discovery
    // never sees them.
    val fs = new org.apache.hadoop.fs.Path(s"$path/state")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$path/state_rework_${java.util.UUID.randomUUID().toString.take(8)}"
    rework.write.partitionBy("cell").parquet(tmp)
    touched.foreach { c =>
      val cur = new org.apache.hadoop.fs.Path(s"$path/state", s"cell=$c")
      val aside = new org.apache.hadoop.fs.Path(s"$path/state", s"_old_cell=$c")
      fs.delete(aside, true) // a stale aside from a pre-crash rework
      if (fs.exists(cur)) require(fs.rename(cur, aside),
        s"Dedup.semanticDedupAppend: could not set aside cell=$c")
      val src = new org.apache.hadoop.fs.Path(tmp, s"cell=$c")
      if (fs.exists(src)) fs.rename(src,
        new org.apache.hadoop.fs.Path(s"$path/state", s"cell=$c"))
      fs.delete(aside, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    semanticState(spark, path)
  }

  /** Crash repair for [[semanticDedupAppend]]'s per-cell swap: restore
    * any `_old_cell=N` aside whose `cell=N` directory is missing (the
    * crash hit between rename-aside and rename-in), and discard asides
    * whose cell landed (the crash hit before the aside's delete).
    * Idempotent; runs on every append entry. */
  private def restoreAsideCells(spark: org.apache.spark.sql.SparkSession,
                                path: String): Unit = {
    val state = new org.apache.hadoop.fs.Path(s"$path/state")
    val fs = state.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(state)) return
    fs.listStatus(state).filter(_.getPath.getName.startsWith("_old_cell="))
      .foreach { st =>
        val orig = new org.apache.hadoop.fs.Path(state,
          st.getPath.getName.stripPrefix("_old_"))
        if (!fs.exists(orig)) require(fs.rename(st.getPath, orig),
          s"Dedup.semanticDedupAppend: could not restore ${st.getPath}")
        else fs.delete(st.getPath, true)
      }
  }

  /** The persisted state read back in [[semanticDedup]]'s output shape —
    * also the lazy serving frame the `graft_dedup_semantic` TVF
    * splices (a SQL-only user reads the maintained disposition without
    * ever refitting). */
  def semanticState(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/state")
      .select("vec_id", "cell", "component", "centroid_cos", "keep")
      .orderBy("vec_id")

  /** EXACT repeated-substring dedup — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * pass the pipeline's other dedup families don't cover: remove any
    * span of ≥ `k` consecutive TOKENS that also appears in another
    * document, keeping the occurrence in the EARLIEST doc (min id) and
    * cutting it everywhere else. Line-level, 13-gram-scrub, MinHash
    * and Jaccard-join dedup all operate at doc or line grain; this one
    * removes the 50-token boilerplate paragraph pasted into thousands
    * of otherwise-distinct pages.
    *
    * Distributed shape (suffix-array semantics without the suffix
    * array):
    *  1. every position's k-token window hashes to ONE 64-bit gram
    *     (xxhash64 of the joined window) — hashes ride the shuffle,
    *     never text;
    *  2. a gram repeated across docs ⇔ its (min doc, max doc) differ —
    *     one map-side-combinable groupBy, no distinct-count pass;
    *  3. every non-keeper occurrence marks its k token positions
    *     (bounded k× fan-out of DUPLICATED grams only);
    *  4. affected docs rebuild from their surviving tokens in order;
    *     untouched docs pass through VERBATIM (no whitespace
    *     normalization on the untouched path).
    *
    * Overlapping shared windows union into full spans automatically
    * (every k-window inside a longer shared span matches), so a
    * 200-token duplicate paragraph is removed whole. "Exact" is
    * modulo 64-bit window-hash collisions (~n²·2⁻⁶⁴ — the same trade
    * the fingerprint/scrub operators document). Affected docs'
    * surviving text re-joins with single spaces (token grain is the
    * operator's unit, as in the reference implementation).
    *
    * Returns (idCol, textCol, removed_tokens) — `removed_tokens` = 0
    * rows are the untouched majority. */
  def removeRepeatedSpans(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          k: Int = 50): DataFrame = {
    require(k >= 2, s"Dedup.removeRepeatedSpans: k must be >= 2, got $k")
    val toks = docs.select(col(idCol), col(textCol),
      split(trim(col(textCol)), "\\s+").as("_toks"))
    // 1. gram hash per window position (docs shorter than k emit none).
    // PERSISTED for the duration of step 3's materialization: the gram
    // explode feeds both the owners aggregate and the coverage join —
    // lazily those were two full explode executions inside one plan
    // (and the duplicated subtree tripled the plan size); the persist
    // computes it once and the eager cut below releases it (guide §5;
    // at corpus scale MEMORY_AND_DISK spills rather than OOMs, and the
    // alternative is a second full explode+hash pass).
    val grams = toks
      .filter(size(col("_toks")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(_toks) - $k), " +
          s"i -> xxhash64(concat_ws(' ', slice(_toks, i + 1, $k))))"))
        .as(Seq("_pos", "_gh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 2. duplicated grams + their keeper: min(id) != max(id) ⇔ the
    // window appears in ≥2 docs — one combinable aggregate
    val owners = grams.groupBy("_gh")
      .agg(min(col(idCol)).as("_keeper"), max(col(idCol)).as("_maxid"))
      .filter(col("_keeper") =!= col("_maxid"))
      .select(col("_gh"), col("_keeper"))
    // 3. non-keeper occurrences fan out to their k covered positions —
    // CUT eagerly (duplicated-gram-sized): downstream reads it three
    // ways (affected ids, the rebuild anti-join), and the cut bounds
    // the whole gram machinery to one execution
    val covered = try {
      Checkpoints.cut(grams.join(owners, "_gh")
        .filter(col(idCol) =!= col("_keeper"))
        .select(col(idCol),
          explode(expr(s"sequence(_pos, _pos + ${k - 1})")).as("_cut"))
        .distinct())
    } finally grams.unpersist(blocking = false)
    // 4. rebuild ONLY affected docs; everything else passes verbatim
    val affectedIds = covered.select(col(idCol)).distinct()
    val untouched = docs.join(affectedIds, Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol), lit(0L).as("removed_tokens"))
    val rebuilt = toks.join(affectedIds, Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(col("_toks")).as(Seq("_idx", "_tok")))
      .join(covered.withColumnRenamed("_cut", "_idx"), Seq(idCol, "_idx"),
        "left_anti")
      .groupBy(idCol)
      .agg(
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(_idx, _tok))), s -> s._tok)"))
          .as(textCol),
        count(lit(1)).as("_kept"))
    // left_outer + coalesce: a doc whose EVERY token was covered
    // (fully duplicated content) survives as an empty string, not a
    // dropped row
    val withCounts = toks.join(affectedIds, Seq(idCol), "left_semi")
      .select(col(idCol), size(col("_toks")).cast("long").as("_total"))
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol),
        (col("_total") - coalesce(col("_kept"), lit(0L))).as("removed_tokens"))
    untouched.unionByName(withCounts)
  }
}
