package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Near-duplicate detection over `documents` — the three standard
  * families an LLM training-data pipeline runs before anything else:
  *
  *  - MinHash + banded LSH (q23): shingle → 64-hash signature →
  *    16 bands × 4 rows → bucket join → exact-Jaccard verify on the
  *    candidates only. Never all-pairs: the only joins are equi-joins
  *    on band keys (shuffle-partitioned by bucket) and on doc_id.
  *    With J≥0.5 targets, P(miss) per pair is (1-0.5⁴)¹⁶ ≈ 0.35 at
  *    the threshold boundary and < 4e-8 for the J≥0.9 dups this
  *    corpus plants — and the oracle checks exact equality at sf0.01.
  *  - SimHash (q24): 60-bit weighted fingerprint from md5-derived
  *    token hashes; pigeonhole blocking on 4 × 15-bit chunks
  *    guarantees any pair within Hamming distance 3 shares a chunk —
  *    candidate generation is again a bucket equi-join, exact Hamming
  *    on candidates only.
  *  - Blocked exact n-gram Jaccard (q25): exact bigram Jaccard inside
  *    a blocking key (source) — the pattern for "compare only within
  *    a partition-sized block" dedup. Quadratic in the block by
  *    design; at 100 TB the blocking key bounds block size.
  *
  * Implementation note (measured, not guessed): the sketch math ran
  * first as nested higher-order-function lambdas — semantically clean,
  * but Catalyst evaluates HOF lambdas interpreted per element, and
  * 64 hashes × |shingles| per document re-evaluated on both sides of
  * the LSH self-join benched at 465 s for 5 000 docs. The sketches are
  * now computed in typed `mapPartitions` loops (tight JVM long
  * arithmetic, zero shuffle change, same outputs) — the documented
  * escape hatch for per-row compute the built-ins can't express
  * efficiently. Set intersection on candidates is a sorted-long-array
  * merge for the same reason.
  *
  * Determinism across engines: the q24 token hash is md5-derived
  * (identical in Spark and DuckDB); q23/q25 shingle-set hashes never
  * leak into output — the output is the *exact* Jaccard of candidate
  * pairs, which the oracle recomputes all-pairs from the strings
  * (64-bit shingle-hash collisions are ~1e-15 per document pair).
  */
object Dedup {

  // ---- hashing primitives (deterministic, engine-local) ----

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a over UTF-8 bytes, finalized by mix64. */
  private def hashString(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Sorted distinct hashes of the word n-gram shingle set (null-safe:
    * a null document contributes no shingles, it must not kill a
    * 100 TB job).
    */
  private[llm] def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val words = text.split(" ", -1)
    if (words.length < n) return Array.emptyLongArray
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
      set.add(hashString(sb.toString))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  /** |intersection| of two sorted long arrays (merge walk). */
  private[llm] def intersectSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Exact Jaccard in basis points — same double expression as the
    * DuckDB oracle (`ROUND(10000.0 * i / u)`), exact-match rounding.
    */
  private[llm] def jBp(a: Array[Long], b: Array[Long]): Long = {
    val inter = intersectSize(a, b)
    val union = a.length + b.length - inter
    math.round(10000.0 * inter / union)
  }

  final val NumHashes = 64
  final val NumBands = 16
  final val RowsPerBand = 4

  /** 64-way MinHash signature over the shingle-hash set via the
    * standard 2-universal trick: sig(k) = min over shingles of
    * a + k·b where (a, b) are two independent full-avalanche mixes of
    * the shingle hash — 2 mixes + 64 mult-adds per shingle instead of
    * 64 mixes (the linear family keeps the per-slot min uniform; the
    * all-pairs DuckDB oracle would fail loudly on any recall loss).
    */
  private[llm] def minhashSig(sh: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val a = mix64(sh(i) ^ 0xd6e8feb86659fd93L)
      val b = mix64(sh(i) ^ 0xa5a3b1c907e2f4d1L) | 1L
      var k = 0
      var v = a
      while (k < NumHashes) {
        if (v < sig(k)) sig(k) = v
        v += b
        k += 1
      }
      i += 1
    }
    sig
  }

  /** (doc_id, shingle hashes, minhash signature) — one narrow
    * mapPartitions pass over the scan, no shuffle. Persisted: the
    * frame feeds the band fan-out AND both sides of the verify join,
    * and Spark re-executes a subtree per consumer (self-joins don't
    * share work) — without persist the sketch pass runs ~4×. At
    * production scale this is a written sketch table; in-query,
    * Caches.tracked (MEMORY_AND_DISK, released by the driver loop
    * after the consuming action) is the analog.
    */
  private[graft] def sketches(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Caches.tracked(docs
      .select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val sh = shingleHashes(text, 3)
        (id, sh, minhashSig(sh))
      })
      .toDF("doc_id", "sh", "sig")
      .filter(size($"sh") > 0))
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification over
    * any (doc_id, text) frame: (doc_a, doc_b, j_bp) for word-3-gram
    * Jaccard ≥ minJBp. The reusable core of q23 — CorpusPipeline runs
    * it over its quality-filtered survivor set.
    */
  def minhashPairs(docs: DataFrame, minJBp: Long = 5000L): DataFrame =
    sketchSelfPairs(sketches(docs), minJBp)

  /** Band fan-out of a sketch frame: 16 rows/doc keyed by
    * (band_idx, band_key) — the LSH bucket key.
    */
  private def bandsOf(sk: DataFrame): DataFrame = {
    val spark = sk.sparkSession
    import spark.implicits._
    sk.selectExpr("doc_id",
        s"explode(transform(sequence(0, ${NumBands - 1}), b -> struct(b as band_idx, concat_ws(',', slice(sig, b * $RowsPerBand + 1, $RowsPerBand)) as band_key))) as bk")
      .select($"doc_id", $"bk.band_idx", $"bk.band_key")
  }

  /** [[minhashPairs]]'s core over an ALREADY-SKETCHED frame
    * (doc_id, sh, sig): banded-LSH self-join candidates, exact-Jaccard
    * verified, (doc_a, doc_b, j_bp) with doc_a < doc_b. Exposed at
    * sketch level so the streaming gate can run it over the
    * micro-batch's survivor sketches without re-shingling.
    */
  private[graft] def sketchSelfPairs(sk: DataFrame, minJBp: Long = 5000L): DataFrame = {
    val spark = sk.sparkSession
    import spark.implicits._
    val bands = bandsOf(sk)

    // Bucket self-join: pairs sharing any band — equi-join on the
    // bucket key, shuffle-partitioned, never cartesian.
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()

    // Exact verify on candidates only: equi-join the shingle-hash
    // sets back and merge-count the sorted arrays.
    cand
      .join(sk.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(sk.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"sh_a", $"sh_b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) => (a, b, jBp(sa, sb)) }
      .toDF("doc_a", "doc_b", "j_bp")
      .filter($"j_bp" >= minJBp)
  }

  /** [[incrementalMinhashPairs]]'s core over two ALREADY-SKETCHED
    * frames: band buckets equi-join ACROSS the frames only (the index
    * is never paired with itself), exact Jaccard verifies candidates.
    * (batch_doc, index_doc, j_bp). This is the form the streaming
    * gate calls with the PERSISTED index signatures — at 100 TB the
    * index side is a stored sketch table, never recomputed from text.
    */
  private[graft] def sketchCrossPairs(skB: DataFrame, skI: DataFrame,
                                      minJBp: Long = 5000L): DataFrame = {
    val spark = skB.sparkSession
    import spark.implicits._
    val cand = bandsOf(skB).as("a").join(bandsOf(skI).as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key")
      .select($"a.doc_id".as("batch_doc"), $"b.doc_id".as("index_doc"))
      .distinct()
    cand
      .join(skB.select($"doc_id".as("batch_doc"), $"sh".as("sh_a")), "batch_doc")
      .join(skI.select($"doc_id".as("index_doc"), $"sh".as("sh_b")), "index_doc")
      .select($"batch_doc", $"index_doc", $"sh_a", $"sh_b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) => (a, b, jBp(sa, sb)) }
      .toDF("batch_doc", "index_doc", "j_bp")
      .filter($"j_bp" >= minJBp)
  }

  def q23_minhash_dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashPairs(load(spark, dir, "documents").select($"doc_id", $"text"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Cross-corpus MinHash-LSH near-dup pairs: every (batch, index)
    * pair with word-3-gram Jaccard ≥ minJBp. Unlike [[minhashPairs]]
    * this NEVER pairs the index with itself — band buckets equi-join
    * ACROSS the two frames only — which is what makes continuous
    * ingestion tractable: the O(|index|²) term is gone, the join
    * output is bounded by the batch's bucket fan-out, and in
    * production the index side's signatures are the persisted
    * artifact of previous ingests (recompute here only because the
    * harness has no state between queries).
    */
  def incrementalMinhashPairs(batch: DataFrame, index: DataFrame,
                              minJBp: Long = 5000L): DataFrame =
    sketchCrossPairs(sketches(batch), sketches(index), minJBp)

  /** q203 — incremental dedup against a persisted corpus (the
    * daily-crawl shape): the arriving batch (odd doc_ids here) is
    * checked for near-duplicates of the ALREADY-INGESTED index (even
    * doc_ids) without ever re-pairing the index with itself — the
    * operational dedup every continuously-fed training pipeline runs,
    * where |index| ≫ |batch| and an index self-join would dominate
    * the cost at 100 TB. Candidate generation is the banded-LSH
    * bucket equi-join across the two frames; exact Jaccard verifies
    * candidates only; the oracle replays the full batch×index exact
    * comparison (tractable at sf0.01 — deliberately quadratic, so it
    * joins the sf0.1 timeout set).
    */
  def q203_incremental_dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    incrementalMinhashPairs(
        batch = docs.filter($"doc_id" % 2 === 1),
        index = docs.filter($"doc_id" % 2 === 0))
      .orderBy($"batch_doc", $"index_doc")
  }

  final val SimHashBits = 60
  final val SimChunks = 4
  final val ChunkBits = 15
  final val MaxHamming = 3

  /** 60-bit weighted SimHash: per token, the DuckDB-reproducible hash
    * `CAST('0x' || substring(md5(w),1,15) AS BIGINT)` = the top 60
    * bits of the md5 digest (big-endian first 8 bytes >>> 4); votes
    * weighted by token multiplicity.
    */
  private[llm] def simhash(md: java.security.MessageDigest, text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](SimHashBits)
    text.split(" ", -1).foreach { w =>
      md.reset()
      val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h = h >>> 4 // 16 hex chars → first 15
      var bit = 0
      while (bit < SimHashBits) {
        votes(bit) += (if (((h >> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < SimHashBits) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** SimHash near-dup pairs: Hamming distance ≤ 3 over the 60-bit
    * fingerprint. Blocking: any pair within distance 3 must agree on
    * at least one of the 4 15-bit chunks (pigeonhole), so candidate
    * generation is an equi-join on (chunk_idx, chunk_value).
    */
  def q24_simhash_dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Caches.tracked(load(spark, dir, "documents")
      .select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) => (id, simhash(md, text)) }
      }
      .toDF("doc_id", "simhash"))
      // both sides of the chunk self-join re-execute this subtree;
      // tracked-persist so the md5 fingerprint pass runs once

    val chunked = docs.selectExpr("doc_id", "simhash",
      s"explode(transform(sequence(0, ${SimChunks - 1}), c -> struct(c as chunk_idx, (shiftright(simhash, c * $ChunkBits) & ${(1L << ChunkBits) - 1}) as chunk_val))) as ck")
      .select($"doc_id", $"simhash", $"ck.chunk_idx", $"ck.chunk_val")

    chunked.as("a").join(chunked.as("b"),
        $"a.chunk_idx" === $"b.chunk_idx" && $"a.chunk_val" === $"b.chunk_val" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= MaxHamming)
      .orderBy($"doc_a", $"doc_b")
  }

  /** q25's sketch frame from raw (doc_id, source, text): sorted
    * distinct bigram-shingle hashes plus the set size. Both candidate
    * generators and the fan-out stats consume it — callers wrap it in
    * `Caches.tracked` so the hashing pass runs once.
    */
  private[llm] def q25Docs(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .select($"doc_id".cast("long"), $"source", $"text").as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) => (id, src, shingleHashes(text, 2)) })
      .toDF("doc_id", "source", "sh")
      .filter(size($"sh") > 0)
      .withColumn("n", size($"sh").cast("long"))
  }

  /** Block self-join candidate generator with the PPJoin-style LENGTH
    * filter optionally pushed into the join condition (round 17):
    * J ≥ 0.3 needs i/u ≥ ~0.3, and i ≤ min(na,nb), u ≥ max(na,nb), so
    * any pair with 10000·min < 2999·max has round(10000·i/u) ≤ 2999 <
    * 3000 — pruned BEFORE the pair row materializes and merge-walks,
    * lossless against the rounded threshold (strictly conservative:
    * 2999 < the 2999.5 rounding boundary; Q25LengthFilterSpec pins
    * filter-on ≡ filter-off). The `lengthFilter = false` leg exists
    * ONLY for that spec.
    */
  private[llm] def q25BlockPairs(docs: DataFrame,
                                 lengthFilter: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lenCond = if (lengthFilter)
      least($"a.n", $"b.n") * 10000L >= greatest($"a.n", $"b.n") * 2999L
    else lit(true)
    docs.as("a").join(docs.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id" && lenCond)
      .select($"a.source", $"a.doc_id", $"b.doc_id", $"a.sh", $"b.sh")
      .as[(String, Long, Long, Array[Long], Array[Long])]
      .map { case (src, a, b, sa, sb) => (src, a, b, jBp(sa, sb)) }
      .toDF("source", "doc_a", "doc_b", "j_bp")
      .filter($"j_bp" >= 3000)
      .orderBy($"source", $"doc_a", $"doc_b")
  }

  /** Inverted-index candidate generator — the posting-list dual of
    * [[q25BlockPairs]] (and the same shape as the DuckDB oracle's
    * Gram2IxSql): explode the shingle sets into (source, gram)
    * postings, equi-join postings (never the blocks), and recover the
    * EXACT intersection as COUNT(*) per surviving pair — lossless
    * because a pair sharing zero bigrams has J = 0 < 0.3, and the
    * same length filter prunes inside the join condition. Ships no
    * arrays; shuffles the Σ C(df,2) pair stream into the per-pair
    * aggregate instead of generating Σ C(|block|,2) pairs in-task.
    */
  private[llm] def q25IndexPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val posts = docs.select($"source", $"doc_id", $"n", explode($"sh").as("g"))
    posts.as("a").join(posts.as("b"),
        $"a.source" === $"b.source" && $"a.g" === $"b.g" &&
          $"a.doc_id" < $"b.doc_id" &&
          least($"a.n", $"b.n") * 10000L >= greatest($"a.n", $"b.n") * 2999L)
      .groupBy($"a.source".as("source"), $"a.doc_id".as("doc_a"),
        $"b.doc_id".as("doc_b"), $"a.n".as("na"), $"b.n".as("nb"))
      .agg(count(lit(1)).as("i"))
      .select($"source", $"doc_a", $"doc_b",
        round(lit(10000.0) * $"i" / ($"na" + $"nb" - $"i")).cast("long").as("j_bp"))
      .filter($"j_bp" >= 3000)
      .orderBy($"source", $"doc_a", $"doc_b")
  }

  /** The two candidate-pair stream sizes the q25 form choice trades
    * off, computed WITHOUT executing either join (the q271/q272
    * pattern — frequency tables, then integer pair arithmetic):
    * p_block = Σ_source C(|block|, 2) (pairs the block self-join
    * generates in-task) and p_index = Σ_(source,gram) C(df, 2)
    * (pair-stream rows the posting join shuffles into its aggregate).
    * Two 1-row aggregates off the shared tracked sketch frame.
    */
  private[llm] def q25PairFanout(docs: DataFrame): (Long, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pBlock = docs.groupBy($"source").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).cast("long"))
      .as[Long].first()
    val pIndex = docs.select($"source", explode($"sh").as("g"))
      .groupBy($"source", $"g").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)).cast("long"))
      .as[Long].first()
    (pBlock, pIndex)
  }

  /** Data-driven q25 candidate-generator choice (round-18 directive:
    * decide from stats, not corpus folklore): pick the inverted-index
    * form iff its shuffled pair stream is SMALLER than the block
    * join's in-task pair fan-out (p_index < p_block). Measured
    * calibration on the two known corpora:
    *  - closed 30-word harness vocabulary, sf1.0: p_block = 62.475M,
    *    p_index = 187.8M (3.0×) → block, matching the interleaved
    *    walls (block 27.2 s vs index 51.7 s, round 17);
    *  - open vocabulary (bigram df ≈ 1 outside true dups): p_index
    *    collapses to ≈ the true-dup pair count ≪ C(|block|, 2) →
    *    index, the only form that survives a single huge block.
    * Per-pair unit costs measured within ~2× of each other in both
    * directions (block pays the array merge-walk, index pays the
    * shuffle+aggregate), so the fan-out ratio — 3× here, orders of
    * magnitude on open vocabularies — dominates the choice and the
    * unweighted comparison reproduces both measurements.
    * Q25ChooserSpec pins a fixture on each side of the boundary and
    * output equality of the two forms everywhere.
    */
  /** Session-shared memo of the chooser decision, keyed by the
    * INPUT's canonicalized plan hash so different fixtures in one
    * session (Q25ChooserSpec pins both sides of the boundary) keep
    * their own decisions while repeat invocations on the
    * same corpus skip the two stats aggregates (round-18 ADVICE: the
    * corpus shape is already known to a repeat caller). A hash
    * collision could only flip the FORM, never the result — both
    * forms are spec-pinned bit-identical.
    */
  private val q25FormMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Int), java.lang.Boolean]()

  private[llm] def q25Pairs(input: DataFrame): DataFrame = {
    val docs = graft.Caches.tracked(q25Docs(input))
    val key = (input.sparkSession, input.queryExecution.analyzed.semanticHash())
    val useIndex = Option(q25FormMemo.get(key)) match {
      case Some(v) =>
        // the stats pass normally materializes the tracked sketch
        // frame before the pair join (measured: the sf1.0 wall halved
        // from that ordering alone) — keep the materialization on
        // memo hits with one cheap action
        docs.count()
        v.booleanValue
      case None =>
        val (pBlock, pIndex) = q25PairFanout(docs)
        val v = pIndex < pBlock
        q25FormMemo.put(key, java.lang.Boolean.valueOf(v))
        v
    }
    if (useIndex) q25IndexPairs(docs) else q25BlockPairs(docs)
  }

  /** Blocked exact bigram-Jaccard: compare only within the `source`
    * blocking key. Threshold 0.3. Candidate generation picks between
    * the block self-join and the posting-list inverted index from the
    * measured pair fan-out of THIS corpus (see [[q25Pairs]]); both
    * forms produce bit-identical output.
    */
  def q25_ngram_jaccard_blocked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q25Pairs(load(spark, dir, "documents").select($"doc_id", $"source", $"text"))
  }

  /** q73 — prefix-filtering exact similarity join (the AllPairs/PPJoin
    * family; Bayardo et al. WWW'07, Xiao et al. WWW'08): the
    * DETERMINISTIC dual of q23's MinHash-LSH over the same 3-gram
    * shingle sets. Order the universe by ascending document frequency
    * (rarest first, ties by hash); a doc of n shingles indexes only
    * its first ⌊n/2⌋ + 1 shingles (for J ≥ 0.5, prefix length
    * n − ⌈t·n⌉ + 1). Any pair with J ≥ t MUST share a prefix entry, so
    * the inverted-index equi-join on prefix hashes finds every
    * qualifying pair — no probabilistic miss, unlike banded LSH.
    *
    * Scale design: the df table is a partial+final count; prefix
    * selection is per-doc local work after one shuffle on the shingle
    * hash; the index join buckets by RARE shingles (bucket sizes are
    * bounded by construction — frequent shingles never enter short
    * prefixes' tails); the O(n²) length filter 2·min(na,nb) ≥
    * max(na,nb) prunes before the exact verify, which runs only on
    * candidate pairs. The threshold filter is the INTEGER test
    * 2·i ≥ u (J ≥ ½ exactly) — no float-rounding boundary between
    * engines.
    */
  def q73_prefix_jaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    prefixJaccardPairs(load(spark, dir, "documents").select($"doc_id", $"text"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** q341 — similarity-join candidate-funnel audit: the stage-by-stage
    * census of the exact prefix join (docs → index entries →
    * candidates without/with the positional filter → verified pairs)
    * with the positional filter's measured reduction and the
    * candidate precision in bp — the observability readout that turns
    * "the filter helps" into a number a capacity plan can use (the
    * q271/q272 family, pointed at the dedup core). Every count is
    * DETERMINISTIC: [[shingleHashes]] dedupes in-doc hashes (TreeSet),
    * so the (df, hash) prefix sort is a total order per doc — the
    * DuckDB oracle replays the whole funnel exactly, including the
    * FNV-1a + mix64 shingle hash re-derived in SQL over HUGEINT
    * (split-multiply mod 2⁶⁴, signed-long mapping for the sort). The
    * oracle's verified count takes the lossless shortcut — all pairs
    * with 2·i ≥ u off the hash equi-join — equal to "verified among
    * candidates" by the no-miss prefix property and the positional
    * filter's losslessness (both spec-pinned in PpjoinFunnelSpec).
    * Each stage is a 1-row aggregate broadcast into the single output
    * row.
    */
  def q341_simjoin_funnel(spark: SparkSession, dir: String): DataFrame =
    simjoinFunnelAudit(
      load(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** The q341 funnel census over ANY (doc_id, text) corpus — shared
    * with q347's multilingual twin so the positive non-ASCII path
    * runs the EXACT pipeline q341 runs.
    */
  private def simjoinFunnelAudit(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    val (docs, prefixRaw) = prefixIndex(input)
    // both candidate builds consume the index — build it once
    val prefix = graft.Caches.tracked(prefixRaw)
    // ONE self-join pass serves the unfiltered census, the filtered
    // census AND the verify input (round 20): pairFlags tags every
    // distinct candidate pair with whether any occurrence passes the
    // positional filter — identical sets to the two independent
    // prefixCandidates() joins this replaces (see prefixPairFlags).
    val pairFlags = graft.Caches.tracked(prefixPairFlags(prefix))
    val cpos = pairFlags.filter($"pos" === 1L).select($"doc_a", $"doc_b")
    val verified = cpos
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sha")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("shb")), "doc_b")
      .select($"doc_a", $"doc_b", $"sha", $"shb")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (_, _, sa, sb) =>
        val i = intersectSize(sa, sb)
        if (2L * i >= sa.length + sb.length - i) 1L else 0L
      }
      .toDF("hit").agg(sum($"hit").as("verified_pairs"))
    docs.agg(count(lit(1)).as("n_docs"), sum($"n").as("n_shingles"))
      .crossJoin(broadcast(prefix.agg(count(lit(1)).as("index_entries"))))
      .crossJoin(broadcast(pairFlags.agg(
        count(lit(1)).as("cand_prefix"),
        coalesce(sum($"pos"), lit(0L)).as("cand_positional"))))
      .crossJoin(broadcast(verified))
      .select($"n_docs", $"n_shingles", $"index_entries", $"cand_prefix",
        $"cand_positional", coalesce($"verified_pairs", lit(0L)).as("verified_pairs"),
        round(lit(10000.0) * ($"cand_prefix" - $"cand_positional")
          / greatest($"cand_prefix", lit(1L))).cast("long")
          .as("pos_filter_cut_bp"),
        round(lit(10000.0) * coalesce($"verified_pairs", lit(0L))
          / greatest($"cand_positional", lit(1L))).cast("long")
          .as("precision_bp"))
  }

  /** q342 — banded-LSH candidate-funnel audit: q341's probabilistic
    * twin, pointed at q23's MinHash core. Stage census docs → band
    * rows → distinct bucket-join candidate pairs → verified (J ≥ ½)
    * pairs, with the two numbers a capacity plan needs that q341
    * cannot give: candidate PRECISION (how much of the bucket-join
    * fan-out survives verify) and measured RECALL against the exact
    * prefix-join dual (q73's core on the same corpus — banded LSH is
    * the scale path precisely because it trades certain recall for
    * bounded candidates, so the trade must be a measured number, not
    * a formula). Fully DuckDB-replayable: the signature is the affine
    * family sig(k) = min over shingles of a + k·b under SIGNED
    * comparison, with (a, b) mix64 avalanches of the shingle hash —
    * the oracle re-derives both from [[FnvMix64Sql]]'s hash replay
    * and the same split-multiply HUGEINT arithmetic, then rebuilds
    * the 16×4 comma-joined band keys byte-for-byte. Each stage is a
    * 1-row aggregate broadcast into the single output row.
    */
  def q342_lshband_funnel(spark: SparkSession, dir: String): DataFrame =
    lshFunnelAudit(
      load(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** The q342 funnel census over ANY (doc_id, text) corpus — shared
    * with q348's multilingual twin.
    */
  private def lshFunnelAudit(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    val sk = sketches(input)
    val bands = graft.Caches.tracked(bandsOf(sk))
    val cand = graft.Caches.tracked(
      bands.as("a").join(bands.as("b"),
          $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct())
    val verified = cand
      .join(sk.select($"doc_id".as("doc_a"), $"sh".as("sha")), "doc_a")
      .join(sk.select($"doc_id".as("doc_b"), $"sh".as("shb")), "doc_b")
      .select($"sha", $"shb").as[(Array[Long], Array[Long])]
      .map { case (sa, sb) =>
        val i = intersectSize(sa, sb)
        if (2L * i >= sa.length + sb.length - i) 1L else 0L
      }
      .toDF("hit").agg(sum($"hit").as("verified_pairs"))
    // The exact-truth arm shares the sketch frame's shingles instead
    // of re-shingling the corpus from text (round 20): (doc_id, sh, n)
    // derived from the persisted sk is row-identical to what
    // prefixIndex would rebuild — same cast, same shingle pass, same
    // size(sh) > 0 filter.
    val truth = prefixJaccardPairsOf(sk.select($"doc_id", $"sh")
        .withColumn("n", size($"sh")))
      .agg(count(lit(1)).as("truth_pairs"))
    sk.agg(count(lit(1)).as("n_docs"), sum(size($"sh")).as("n_shingles"))
      .crossJoin(broadcast(bands.agg(count(lit(1)).as("band_rows"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("cand_pairs"))))
      .crossJoin(broadcast(verified))
      .crossJoin(broadcast(truth))
      .select($"n_docs", $"n_shingles", $"band_rows", $"cand_pairs",
        coalesce($"verified_pairs", lit(0L)).as("verified_pairs"),
        $"truth_pairs",
        round(lit(10000.0) * coalesce($"verified_pairs", lit(0L))
          / greatest($"cand_pairs", lit(1L))).cast("long").as("precision_bp"),
        round(lit(10000.0) * coalesce($"verified_pairs", lit(0L))
          / greatest($"truth_pairs", lit(1L))).cast("long").as("recall_bp"))
  }

  /** Multilingual-fixture vocabulary for the q347/q348 funnel twins:
    * CJK, accented Latin, Greek, Cyrillic — every word multi-byte in
    * UTF-8, so the FNV-1a byte replay ([[FnvMix64Sql]]) is exercised
    * on real multi-byte sequences, not just the ASCII fast path.
    */
  final val MlVocab = Seq("你好世界", "naïve", "Ωμέγα", "привет",
    "café", "日本語", "señor", "łódź")
  final val MlSliceMod = 20
  final val MlTwinMod = 140 // 7·20 — every 7th sliced base doc twins
  final val MlIdOffset = 50000000L

  /** Deterministic multilingual corpus derived from the driver
    * `documents` table (the q344 planting pattern — no side files):
    * every [[MlSliceMod]]-th doc, prefixed with two [[MlVocab]] words
    * picked by id, plus — for every [[MlTwinMod]]-th base — a twin
    * (id + [[MlIdOffset]]) whose text appends ONE more multilingual
    * word, so twin∩base shares all n base 3-shingles of n+2 →
    * J = n/(n+2) ≥ ½ for every real doc: a guaranteed positive
    * near-dup pair whose shingles carry non-ASCII bytes on BOTH
    * sides. The slice's residue (≡ 0 mod 20) excludes every harness/
    * Sf1Gen planted family (11 mod 20, 32 mod 200 ≡ 12, 197/217 mod
    * 2500 ≡ 17 mod 20), so twin pairs are the only engineered
    * near-dups in the fixture. The DuckDB oracle re-derives the same
    * corpus with `//`/`%`/`||` arithmetic, byte-identical.
    */
  private[llm] def multilingualCorpus(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    val w = array(MlVocab.map(lit): _*)
    def pick(idx: Column): Column = element_at(w, idx.cast("int") + 1)
    val k = MlVocab.size
    val base = input.filter($"doc_id" % MlSliceMod === 0)
      .select($"doc_id",
        concat(pick(expr(s"(doc_id div $MlSliceMod) % $k")), lit(" "),
          pick(expr(s"((doc_id div $MlSliceMod) * 3 + 1) % $k")), lit(" "),
          $"text").as("text"))
    val twins = base.filter($"doc_id" % MlTwinMod === 0)
      .select(($"doc_id" + MlIdOffset).as("doc_id"),
        concat($"text", lit(" "),
          pick(expr(s"(doc_id div $MlTwinMod) % $k"))).as("text"))
    base.unionByName(twins)
  }

  /** q347 — multilingual prefix-funnel twin: the q341 census run on
    * the [[multilingualCorpus]] fixture, so the UTF-8-correct byte
    * replay (round-19 directive #3 — the retired ASCII guard's
    * replacement) is hash-verified at the gate EVERY round on a
    * corpus whose grams are genuinely multi-byte, with planted
    * positive pairs (J ≥ ½ twins) proving the funnel finds non-ASCII
    * near-dups, not just the empty path. Same shape, plan and scale
    * posture as q341 at 1/[[MlSliceMod]] the doc count.
    */
  def q347_ml_simjoin_funnel(spark: SparkSession, dir: String): DataFrame =
    simjoinFunnelAudit(multilingualCorpus(
      load(spark, dir, "documents").select(col("doc_id"), col("text"))))

  /** q348 — multilingual LSH-funnel twin: q342's census on the same
    * [[multilingualCorpus]] fixture — the banded-MinHash dual of
    * q347, re-deriving the affine signature family from non-ASCII
    * gram bytes in both engines.
    */
  def q348_ml_lshband_funnel(spark: SparkSession, dir: String): DataFrame =
    lshFunnelAudit(multilingualCorpus(
      load(spark, dir, "documents").select(col("doc_id"), col("text"))))

  /** The reusable deterministic core of q73 over any (doc_id, text)
    * frame: every J ≥ 0.5 pair, guaranteed (no-miss spec-pinned) —
    * the candidate generator to reach for when a consumer needs
    * recall-INDEPENDENT semantics (q165's calibration uses it so its
    * oracle agrees by construction on any corpus; banded-LSH
    * [[minhashPairs]] stays the scale path where probabilistic recall
    * is acceptable and is itself exact-verified per candidate).
    */
  /** Shingled docs + df-ordered positional prefix index — the first
    * two stages of the prefix join, shared with the q341 funnel audit.
    * docs: (doc_id, sh, n) tracked-persisted (consumed by the df
    * count, the prefix build, and both verify sides — shingling runs
    * once); prefix: (h, doc_id, n, pos) with the first ⌊n/2⌋ + 1
    * shingles per doc sorted by (global df, hash) and their prefix
    * position — per-doc local sort over ≤ n entries, no window.
    */
  private[llm] def prefixIndex(input: DataFrame): (DataFrame, DataFrame) = {
    val spark = input.sparkSession
    import spark.implicits._
    val docs = graft.Caches.tracked(input
      .select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, shingleHashes(text, 3)) })
      .toDF("doc_id", "sh")
      .filter(size($"sh") > 0)
      .withColumn("n", size($"sh")))
    (docs, prefixIndexOf(docs))
  }

  /** The prefix-entry build over an ALREADY-SHINGLED (and persisted)
    * docs frame (doc_id, sh, n) — split out of [[prefixIndex]] so the
    * q342/q348 LSH funnel's exact-truth arm shares ONE shingling pass
    * with its banded sketch side (round 20) instead of re-deriving
    * the same (doc_id, sh) from text.
    */
  private[llm] def prefixIndexOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select($"doc_id", $"n", explode($"sh").as("h"))
    val dfTab = toks.groupBy($"h").agg(count(lit(1)).as("df"))
    toks.join(dfTab, "h")
      .groupBy($"doc_id", $"n")
      .agg(collect_list(struct($"df", $"h")).as("ts"))
      .as[(Long, Int, Array[(Long, Long)])]
      .flatMap { case (id, n, ts) =>
        ts.sortBy(t => (t._1, t._2)).take(n / 2 + 1).zipWithIndex
          .map { case (t, pos) => (t._2, id, n, pos) }
      }
      .toDF("h", "doc_id", "n", "pos")
  }

  /** Candidate pairs from the prefix index: equi-join on the prefix
    * hash with the length filter 2·min(na,nb) ≥ max(na,nb), and —
    * when `positional` — the PPJoin positional filter (Xiao et al.
    * WWW'08), LOSSLESS for this any-occurrence-keeps-pair join: a
    * true pair's FIRST common prefix token (in the shared global
    * order) always satisfies overlap ≤ 1 + min(suffix_a, suffix_b),
    * and J ≥ ½ needs overlap ≥ ⌈(na+nb)/3⌉, so the exact integer
    * keep test is 3·(1 + min(na−pos_a−1, nb−pos_b−1)) ≥ na+nb.
    * Occurrences that fail can only be NON-first common tokens of
    * true pairs (their pair survives via the first) or false
    * candidates — measured at sf1.0: 41.2M → 19.5M PRE-distinct join
    * rows entering the distinct (2.1×), which dedupe to the q341
    * funnel's 40.65M → 18.94M DISTINCT candidate pairs entering the
    * verify. The `positional = false` arm exists for the q341 funnel
    * audit's effectiveness readout — every production consumer
    * filters.
    */
  private[llm] def prefixCandidates(prefix: DataFrame,
      positional: Boolean): DataFrame = {
    val spark = prefix.sparkSession
    import spark.implicits._
    val base = $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
      $"a.n" * 2 >= $"b.n" && $"b.n" * 2 >= $"a.n"
    val cond = if (!positional) base else base &&
      ((lit(1) + least($"a.n" - $"a.pos" - 1, $"b.n" - $"b.pos" - 1)) * 3
        >= $"a.n" + $"b.n")
    prefix.as("a").join(prefix.as("b"), cond)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
  }

  /** The q341/q347 census core: the prefix self-join run ONCE, each
    * distinct candidate pair tagged with whether ANY of its prefix
    * occurrences passes the positional filter — `max(pos)` under the
    * pair groupBy is exactly the "filtered join then distinct" set,
    * so one join pass yields the unfiltered count, the filtered
    * count AND the verify input that previously took two full
    * self-joins of the prefix index (round 20, guide §2.4; the
    * production consumers keep [[prefixCandidates]]'s filtered form,
    * which feeds 2.1× fewer rows into its distinct).
    */
  private def prefixPairFlags(prefix: DataFrame): DataFrame = {
    val spark = prefix.sparkSession
    import spark.implicits._
    prefix.as("a").join(prefix.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 2 >= $"b.n" && $"b.n" * 2 >= $"a.n")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        when((lit(1) + least($"a.n" - $"a.pos" - 1, $"b.n" - $"b.pos" - 1)) * 3
          >= $"a.n" + $"b.n", 1L).otherwise(0L).as("p"))
      .groupBy($"doc_a", $"doc_b").agg(max($"p").as("pos"))
  }

  def prefixJaccardPairs(input: DataFrame): DataFrame = {
    val (docs, _) = prefixIndex(input)
    prefixJaccardPairsOf(docs)
  }

  /** [[prefixJaccardPairs]] over an ALREADY-SHINGLED, persisted docs
    * frame (doc_id, sh, n) — the q342/q348 truth arm passes the frame
    * it derives from its banded sketches so the corpus is shingled
    * once per audit (round 20).
    */
  private[llm] def prefixJaccardPairsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = prefixIndexOf(docs)
    val cand = prefixCandidates(prefix, positional = true)
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sha")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("shb")), "doc_b")
      .select($"doc_a", $"doc_b", $"sha", $"shb")
      .as[(Long, Long, Array[Long], Array[Long])]
      .flatMap { case (a, b, sa, sb) =>
        val i = intersectSize(sa, sb)
        val u = sa.length + sb.length - i
        if (2L * i >= u) Some((a, b, math.round(10000.0 * i / u))) else None
      }
      .toDF("doc_a", "doc_b", "j_bp")
  }

  /** Connected components over a near-dup pair list: every document in
    * a transitively-connected group gets the group's minimum doc_id as
    * its cluster id — the keeper-selection step that turns pairwise
    * LSH output into "keep one per cluster". Iterative min-label
    * propagation: each round every node takes the min of its own label
    * and its neighbors'; converges in O(component diameter) rounds
    * (near-dup clusters are tiny — a handful of rounds), each round one
    * equi-join + one aggregation, both shuffle-partitioned on node id.
    * This is the DataFrame form of the map-reduce CC algorithms
    * (large-star/small-star); the per-round driver-side convergence
    * check reads a single count, never the data.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Both edge directions in ONE pass over the (expensive) pair
    // frame: a union of two selects would execute the LSH subtree
    // twice inside the same materialization.
    val edges = graft.Caches.tracked(
      pairs.select(explode(array(
          struct($"doc_a".as("u"), $"doc_b".as("v")),
          struct($"doc_b".as("u"), $"doc_a".as("v")))).as("e"))
        .select($"e.u", $"e.v"))
    // Seed with round 1 fused into initialization: label(u) =
    // min(u, min neighbor) — one groupBy replaces both the
    // distinct-node pass and the first propagation round.
    var labels = graft.Caches.tracked(
      edges.select($"u".as("node"), least($"u", $"v").as("label"))
        .groupBy($"node").agg(min($"label").as("label")))
    // Convergence check by the label-sum invariant: min-label updates
    // only ever decrease a label, so the sum strictly decreases until
    // the fixpoint — one tiny aggregate per round instead of a join.
    // An empty pair list (no duplicates found) sums to NULL — return
    // the empty label table instead of looping (or NPE-ing on the
    // scalar read). Callers treat "no rows" as "no clusters".
    val seed = labels.agg(sum($"label")).head
    if (seed.isNullAt(0)) return labels
    var prevSum = seed.getLong(0)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val prop = edges.join(labels, $"u" === $"node")
        .select($"v".as("node"), $"label")
      // One propagation step over the edges — and from round 3 on,
      // one POINTER-JUMP step over the label table itself
      // (label(n) ← label(label(n))): the jump treats the current
      // labeling as extra shortcut edges, so the distance a component
      // minimum travels per round roughly DOUBLES instead of advancing
      // one hop — convergence in O(log diameter) rounds instead of
      // O(diameter). The fixpoint is unchanged under ANY mix of hop
      // and jump steps (min-label updates only ever assign labels from
      // the same component and only ever decrease, so the unique
      // fixpoint — every node labeled with its component minimum — is
      // the same; only the ROUND COUNT differs). Found by q280's grid
      // graph: its snake-shaped components legitimately have diameter
      // in the tens, and each round costs one driver-sequenced
      // checkpoint + convergence probe — the round count, not
      // per-round data volume, was the wall (74 scheduled shuffles,
      // 15 k shuffle rows total; q280 6.0 → 2.7 s). The first two
      // rounds stay jump-free: near-dup cluster graphs (the common
      // consumers — q52/q106/q282/q284/q291/q304/q306) converge within
      // them, and paying the extra label self-join there measured as a
      // flat +0.2–0.3 s per query for zero round savings.
      val hop = labels.union(prop)
        .groupBy($"node").agg(min($"label").as("label"))
      // localCheckpoint (eager) truncates the lineage each round: the
      // round-k logical plan otherwise contains round k−1 several
      // times (labels in the union, the propagation join and the jump
      // join), so a large-diameter component grows an exponential plan
      // tree and dies in planning long before any data problem.
      // Persisted-block cost per round is the bounded (node, label)
      // table. Stays EAGER: a lazy checkpoint folded into the
      // convergence probe looked like one job saved per round but
      // MEASURED WORSE in a round-20 matched A/B (q280 3.87 → 5.51 s,
      // q306 2.85 → 3.57 s, one extra scheduled shuffle) — the probe
      // over the un-materialized frame re-plans the whole round
      // subtree instead of reading persisted blocks. Tried, reverted.
      val next = (if (rounds < 2) hop else {
        val jump = hop.select($"node".as("jn"), $"label".as("jl"))
        hop.join(jump, $"label" === $"jn", "left")
          .select($"node",
            least($"label", coalesce($"jl", $"label")).as("label"))
      }).localCheckpoint(true)
      val curSum = next.agg(sum($"label")).head.getLong(0)
      converged = curSum == prevSum
      prevSum = curSum
      labels = next
      rounds += 1
    }
    labels
  }

  /** Near-dup cluster assignment: q23's MinHash-LSH pairs, closed
    * under transitivity. Output: every clustered doc with its cluster
    * id (min doc_id of the component) and the cluster size.
    */
  def q52_neardup_clusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashPairs(load(spark, dir, "documents").select($"doc_id", $"text"))
    val labels = connectedComponents(pairs)
    val bySize = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    labels.select($"node".as("doc_id"), $"label".as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(bySize).cast("long"))
      .orderBy($"doc_id")
  }

  /** q291 — cluster chaining audit: the failure mode of transitive-
    * closure dedup (q52/q106) is the CHAIN — A≈B and B≈C merge A and
    * C into one cluster even when J(A,C) is far below the pairwise
    * threshold, so canonical-selection silently treats non-duplicates
    * as copies. The audit computes the EXACT Jaccard of every
    * intra-cluster pair (not just the LSH-found edges) and reports,
    * per cluster, how many pairs fall below the 0.5 pair threshold
    * (n_weak_pairs > 0 ⇔ the cluster exists only by chaining) plus
    * the min/max pair similarity — the diameter proxy a curation run
    * reviews before trusting cluster-level drops.
    *
    * Scale: the pair grid is Σ cluster_size² — bounded because
    * near-dup clusters are small by construction (the same bound
    * q195's cluster-confined pairs rely on); at 100 TB a giant
    * pathological cluster is exactly what this audit EXISTS to
    * surface, and the n_pairs column prices it before any fix.
    * Pairs that share zero shingles never meet in an equi-join —
    * their Jaccard is 0 by definition, supplied by the left join.
    */
  def q291_cluster_chain_audit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    val shing = graft.Caches.tracked(docs
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, shingleHashes(t, 3)) })
      .toDF("doc_id", "sh"))
    val labels = connectedComponents(minhashPairs(docs))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
    val member = graft.Caches.tracked(labels.join(shing, "doc_id"))
    val sizes = member.groupBy($"cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val pairJ = member.as("a")
      .join(member.as("b"),
        $"a.cluster_id" === $"b.cluster_id" && $"a.doc_id" < $"b.doc_id")
      .select($"a.cluster_id".as("cluster_id"), $"a.sh".as("sha"), $"b.sh".as("shb"))
      .as[(Long, Array[Long], Array[Long])]
      .mapPartitions(_.map { case (c, sa, sb) => (c, jBp(sa, sb)) })
      .toDF("cluster_id", "j_bp")
    pairJ.groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"j_bp" < 5000L, 1L).otherwise(0L)).as("n_weak_pairs"),
        min($"j_bp").as("min_j_bp"), max($"j_bp").as("max_j_bp"))
      .join(sizes, "cluster_id")
      .select($"cluster_id", $"cluster_size", $"n_pairs", $"n_weak_pairs",
        $"min_j_bp", $"max_j_bp")
      .orderBy($"cluster_id")
  }

  /** q304 — near-dup pair mutation map: for every verified near-dup
    * pair, WHERE the two texts differ — positional token mismatch
    * count and the first/last differing positions (1-based; 0 = the
    * overlap is identical and only lengths differ). This is the
    * reviewer-facing explanation layer on top of q23's pair list: a
    * single-position map says "one edited word", a dense map says
    * "templated boilerplate with rotating payload" — different
    * curation actions. Per-pair work is one linear walk over the
    * token overlap (mapPartitions — the documented per-row escape
    * hatch), bounded by the pair list the LSH stage already bounds.
    */
  def q304_pair_mutation_map(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents").select($"doc_id", $"text")
    val toks = graft.Caches.tracked(
      docs.select($"doc_id", split($"text", " ").as("t")))
    minhashPairs(docs)
      .join(toks.select($"doc_id".as("doc_a"), $"t".as("ta")), "doc_a")
      .join(toks.select($"doc_id".as("doc_b"), $"t".as("tb")), "doc_b")
      .select($"doc_a", $"doc_b", $"j_bp", $"ta", $"tb")
      .as[(Long, Long, Long, Seq[String], Seq[String])]
      .mapPartitions(_.map { case (a, b, j, ta, tb) =>
        val m = math.min(ta.length, tb.length)
        var n = 0; var first = 0L; var last = 0L
        var i = 0
        while (i < m) {
          if (ta(i) != tb(i)) {
            n += 1
            if (first == 0L) first = i + 1L
            last = i + 1L
          }
          i += 1
        }
        (a, b, j, ta.length.toLong, tb.length.toLong, n.toLong, first, last)
      })
      .toDF("doc_a", "doc_b", "j_bp", "len_a", "len_b",
        "n_pos_diff", "first_diff_pos", "last_diff_pos")
      .orderBy($"doc_a", $"doc_b")
  }

  /** q306 — dedup survivor-bias audit: canonical selection (q106)
    * keeps the best-quality copy, and that CHOICE can bias the
    * surviving corpus (dropping short docs, a language, a source).
    * The audit splits the corpus into singleton / kept / dropped
    * strata and reports exact counts with mean quality and mean
    * length per stratum — the before/after table a curation review
    * reads to see what dedup actually removed. Same bounded cluster
    * machinery as q106; the stratum aggregate is 3 rows.
    */
  def q306_survivor_bias(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val labels = connectedComponents(minhashPairs(docs.select($"doc_id", $"text")))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
    val q = docs.select($"doc_id", $"n_chars",
      TextAnalysis.qualityBp($"text").as("q_bp"))
    val member = q.join(labels, Seq("doc_id"), "left")
    // ONE window pass instead of two filtered branches of the same
    // subtree (an unpersisted union re-executed the docs scan, the
    // quality scoring and the label join once per branch — round-19).
    // Window key coalesce(cluster_id, doc_id): clustered docs rank
    // inside their cluster exactly as before; singletons each form
    // their own 1-row partition (high-cardinality — no null-key
    // funnel) and their rank is overridden by the null test anyway.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce($"cluster_id", $"doc_id"))
      .orderBy($"q_bp".desc, $"doc_id")
    member
      .withColumn("rn", row_number().over(w))
      .select($"doc_id", $"n_chars", $"q_bp",
        when($"cluster_id".isNull, lit("singleton"))
          .when($"rn" === 1, lit("kept"))
          .otherwise(lit("dropped")).as("status"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"),
        round(lit(1000.0) * sum($"q_bp") / count(lit(1)))
          .cast("long").as("mean_quality_milli_bp"),
        round(lit(1000.0) * sum($"n_chars") / count(lit(1)))
          .cast("long").as("mean_chars_milli"))
      .orderBy($"status")
  }

  /** q86 — blocked edit-distance (Levenshtein) near-dup: the fuzzy
    * title/lead dedup every curation pipeline runs where token-set
    * similarity (q23/q25) is too coarse — character-level edits, typo
    * tolerance. Candidate generation is a co-partitioned equi-join on
    * the (lang, leading token) block key plus a length-difference
    * band; the O(k²) DP only ever runs on the bounded 48-char prefix
    * of candidate pairs, never all pairs. At 100 TB a Zipf-hot leading
    * token makes a skewed block — AQE skew-split or a second block
    * token bounds it (same salting pattern as q67).
    */
  def q86_edit_distance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // prefix/block columns computed once BELOW the self-join: a
    // self-join re-evaluates its child on both sides (perf pitfall)
    val d = graft.Caches.tracked(load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars",
        split($"text", " ").getItem(0).as("w1"),
        substring($"text", 1, 48).as("pre")))
    val a = d.select($"doc_id".as("a_id"), $"lang", $"w1",
      $"n_chars".as("a_n"), $"pre".as("a_pre"))
    val b = d.select($"doc_id".as("b_id"), $"lang", $"w1",
      $"n_chars".as("b_n"), $"pre".as("b_pre"))
    a.join(b, Seq("lang", "w1"))
      .filter($"a_id" < $"b_id" && abs($"a_n" - $"b_n") <= 24)
      .withColumn("dist", levenshtein($"a_pre", $"b_pre"))
      .filter($"dist" <= 30)
      .select($"a_id", $"b_id", $"dist".cast("long").as("dist"))
      .orderBy($"a_id", $"b_id")
  }

  /** Fixed harness acctbal domain in cents ([-1000, 10000) currency
    * units — TESTDATA.md's generator range), used by q313 to size its
    * density-adaptive candidate band.
    */
  final val BalDomainCents = 1100000L

  /** q313 — Fellegi–Sunter probabilistic record linkage (Fellegi &
    * Sunter 1969; the Splink-at-scale shape): score candidate record
    * pairs by summed log2(m/u) agreement weights instead of a single
    * fuzzy distance — the classical entity-resolution machinery the
    * edit-distance (q86) and similarity (q23/q24) dedups don't give
    * you, because it weighs EACH field by how discriminating it is.
    *
    *  - Candidate generation is density-adaptive balance banding
    *    (sorted-neighborhood equivalent, Hernández & Stolfo 1995):
    *    band width δ = 2·domain/N cents, each record emits its band
    *    and band+1, pairs join on the band key and keep 0 < Δbal ≤ δ.
    *    Expected candidates under the uniform harness balance ≈ 2N —
    *    LINEAR in table size at every scale factor, never all-pairs,
    *    and the join shuffles on the band key only.
    *  - EXACT-TIE groups (Δbal = 0) link as a CHAIN — each record
    *    pairs with its id-successor inside the tie group (one lead
    *    window keyed on the high-cardinality balance) — so a value
    *    repeated m times contributes m−1 pairs, not C(m,2). Chains
    *    are transitively equivalent for linkage (the downstream
    *    match-cluster closure connects the whole group through its
    *    chain), and they bound the worst case BY CONSTRUCTION: a
    *    degenerate constant-balance table yields exactly N−1 tie
    *    pairs — linear, where the round-13 all-tie-pairs form grew
    *    with value multiplicity (the one scaling-audit allowlist
    *    entry this operator needed; retired by this cap).
    *  - u-probabilities (chance a random NON-match agrees) are
    *    EXACT corpus statistics, not priors: Σ n_v(n_v−1) / N(N−1)
    *    per categorical field (nation, segment) from one bounded
    *    aggregate each; the balance-proximity u is the uniform-model
    *    (δ/4)/domain. m-probabilities are fixed priors (the EM-fitted
    *    values in production; constants keep both engines identical).
    *  - Per-field weights are milli-rounded log2 odds computed ONCE
    *    on the driver from those exact counts (bounded scalars — the
    *    same driver-state posture as the IVF codebook seeds); the
    *    per-pair score is then pure INTEGER addition over agreement
    *    bits, codegen'd, no per-row transcendentals.
    *
    * Output: every candidate pair with its agreement pattern, total
    * milli-weight and the match/possible/non-match verdict at the
    * fixed review thresholds. At 100 TB the band join is the only
    * shuffle and its key count scales with N/δ — no skew (balances
    * are near-uniform), no funnel, and the weight table is driver
    * metadata by definition (6 numbers).
    */
  def q313_record_linkage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = graft.Caches.tracked(load(spark, dir, "customer")
      .select($"c_custkey".as("id"), $"c_nationkey".as("nat"),
        $"c_mktsegment".as("seg"), graft.Tables.cents($"c_acctbal").as("bal")))
    val n = c.count() // bounded scalar: table cardinality
    val delta = math.max(1L, 2L * BalDomainCents / math.max(n, 1L))
    // exact categorical u: P(random pair agrees) = Σ n_v(n_v−1)/(N(N−1))
    def uCat(field: String): Double = {
      val num = c.groupBy(col(field)).count()
        .agg(sum($"count" * ($"count" - 1L))).head.getLong(0)
      num.toDouble / (n.toDouble * (n - 1L).toDouble)
    }
    // n < 2 produces zero candidate pairs; neutral u keeps the driver
    // weight math finite (zero-row probe: no NPE on the empty SUM)
    val (uNat, uSeg) = if (n < 2) (0.5, 0.5) else (uCat("nat"), uCat("seg"))
    val uBal = (delta / 4.0) / BalDomainCents.toDouble
    val m = Map("nat" -> 0.92, "seg" -> 0.85, "bal" -> 0.88) // fixed priors
    def w(mf: Double, uf: Double): (Long, Long) = (
      math.round(1000.0 * math.log(mf / uf) / math.log(2.0)),
      math.round(1000.0 * math.log((1.0 - mf) / (1.0 - uf)) / math.log(2.0)))
    val (wNatA, wNatD) = w(m("nat"), uNat)
    val (wSegA, wSegD) = w(m("seg"), uSeg)
    val (wBalA, wBalD) = w(m("bal"), uBal)
    val a = c.select($"id".as("a_id"), $"nat".as("a_nat"),
      $"seg".as("a_seg"), $"bal".as("a_bal"),
      explode(array(floor($"bal" / delta), floor($"bal" / delta) + 1)).as("band"))
    val b = c.select($"id".as("b_id"), $"nat".as("b_nat"),
      $"seg".as("b_seg"), $"bal".as("b_bal"),
      floor($"bal" / delta).as("band"))
    // near-pairs: strictly increasing balance — each qualifying pair
    // appears exactly once (cross-band only via the lower record's
    // band+1 emission, same-band via the strict balance order)
    val near = a.join(b, Seq("band"))
      .filter($"b_bal" - $"a_bal" > 0 && $"b_bal" - $"a_bal" <= delta)
      .select($"a_id", $"b_id", $"a_nat", $"b_nat", $"a_seg", $"b_seg",
        $"a_bal", $"b_bal")
    // exact ties: id-successor chain inside the tie group (see
    // scaladoc) — linear under ANY multiplicity, incl. the
    // constant-balance degenerate table
    val tw = org.apache.spark.sql.expressions.Window
      .partitionBy($"bal").orderBy($"id")
    val ties = c.select($"id".as("a_id"),
        lead($"id", 1).over(tw).as("b_id"),
        $"nat".as("a_nat"), lead($"nat", 1).over(tw).as("b_nat"),
        $"seg".as("a_seg"), lead($"seg", 1).over(tw).as("b_seg"),
        $"bal".as("a_bal"), $"bal".as("b_bal"))
      .filter($"b_id".isNotNull)
    near.unionByName(ties)
      .select($"a_id", $"b_id",
        ($"a_nat" === $"b_nat").as("agree_nat"),
        ($"a_seg" === $"b_seg").as("agree_seg"),
        ($"b_bal" - $"a_bal" <= delta / 8).as("agree_bal"))
      .withColumn("weight_milli",
        when($"agree_nat", wNatA).otherwise(wNatD) +
          when($"agree_seg", wSegA).otherwise(wSegD) +
          when($"agree_bal", wBalA).otherwise(wBalD))
      .withColumn("verdict",
        when($"weight_milli" >= 4000L, "match")
          .when($"weight_milli" >= 0L, "possible")
          .otherwise("non-match"))
      .orderBy($"a_id", $"b_id")
  }

  /** q106 — canonical document selection: dedup that keeps the BEST
    * copy, not the first one. Composes the verified cores — MinHash-
    * LSH pairs (q23) → connected components (q52) → quality score
    * (q21) — then one ranking window per cluster picks the canonical
    * survivor (highest quality, doc_id tie-break); singletons are
    * their own canonical. This is the curation step that turns "these
    * are duplicates" into "keep exactly this one": every stage is an
    * equi-join or a window on the cluster key, nothing all-pairs.
    */
  def q106_canonical_docs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val labels = connectedComponents(minhashPairs(docs.select($"doc_id", $"text")))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
    val q = docs.select($"doc_id", TextAnalysis.qualityBp($"text").as("q_bp"))
    val member = docs.select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"q_bp".desc, $"doc_id")
    member.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select($"cluster_id", $"doc_id", $"q_bp", ($"rn" === 1).as("canonical"))
      .orderBy($"cluster_id", $"doc_id")
  }

  // ---------------------------------------------------------------
  // q204 — exact substring-span dedup
  // ---------------------------------------------------------------

  /** Word n-gram width for q204 repeated-span detection. */
  final val SpanGramWords = 8

  /** q204 — exact repeated-substring spans, the substring-level exact
    * dedup of Lee et al. ("Deduplicating Training Data Makes Language
    * Models Better"): instead of dropping whole near-duplicate
    * documents, find the maximal word spans that are repeated ACROSS
    * documents (boilerplate headers, license blocks, templated
    * paragraphs) so the pipeline can cut just the spans. Published
    * systems build a corpus-wide suffix array; the Spark-native
    * equivalent is shingle-based: hash every word 8-gram with its
    * position, keep grams seen in ≥ 2 distinct docs (one partial+final
    * aggregate on the 60-bit gram hash — the dup-gram table is tiny
    * relative to the corpus), equi-join back on the hash, and merge
    * adjacent duplicated gram starts into maximal spans with a
    * gaps-and-islands window per doc. Every shuffle is keyed on the
    * gram hash or doc_id (both high-cardinality — no funnel); the
    * islands window partitions by doc_id so its input is bounded by
    * document length. At 100 TB a boilerplate gram repeated in
    * millions of docs is a hot KEY but not a hot REDUCER: the
    * distinct-doc count is a two-phase aggregate and the join back
    * fans out to the docs' own partitions.
    *
    * Output: (doc_id, span_start, span_end, n_grams) — 1-based word
    * indexes, span_end inclusive, n_grams = duplicated 8-gram starts
    * merged into the span.
    */
  /** Core of q204, factored for fixture-driven specs: maximal word
    * spans of `docs` (doc_id, text) whose every n-gram start is
    * duplicated in ≥ 2 distinct docs.
    */
  def substringSpans(docs: DataFrame, n: Int = SpanGramWords): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = graft.Caches.tracked(
      docs.select($"doc_id".cast("long"), $"text")
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, text) =>
            DataPrep.gramHashesWithPos(md, text, n)
              .map { case (pos, g) => (id, pos, g) }
          }
        }
        .toDF("doc_id", "pos", "g"))
    val dup = grams.groupBy($"g")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    grams.join(dup, "g")
      .withColumn("isl", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + n - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select($"doc_id", $"span_start", $"span_end", $"n_grams")
      .orderBy($"doc_id", $"span_start")
  }

  def q204_substring_spans(spark: SparkSession, dir: String): DataFrame =
    substringSpans(load(spark, dir, "documents"))

  /** Core of q282, factored for the structural spec: every document's
    * near-dup cluster id (connected-component label over the MinHash
    * pairs; docs in no pair are their own singleton cluster) and the
    * CLUSTER-keyed hash split. Splitting by cluster id instead of doc
    * id is what makes the split leakage-free BY CONSTRUCTION: both
    * members of a near-dup pair share a cluster id, so they hash to
    * the same split and q236's leakage audit is structurally zero.
    */
  def clusterSplits(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = connectedComponents(minhashPairs(docs.select($"doc_id", $"text")))
      .select($"node".as("doc_id"), $"label".as("cid"))
    docs.select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("clustered", $"cid".isNotNull.cast("long"))
      .withColumn("cluster_id", coalesce($"cid", $"doc_id"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("graft_split_"),
          $"cluster_id".cast("string"))), 1, 15), 16, 10).cast("long") % 100)
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .select($"doc_id", $"cluster_id", $"clustered", $"split")
  }

  /** q282 — leakage-free (group-aware) train/val/test split: q130's
    * 80/10/10 hash split keyed on the NEAR-DUP CLUSTER id instead of
    * the doc id, so near-duplicate documents can never straddle the
    * eval boundary (the leak q236 merely AUDITS is prevented at
    * assignment time — the GROUP-aware split of scikit's GroupShuffle
    * / the dedup-before-split step of every serious eval protocol).
    * Scale shape: the pair machinery is q23's banded LSH (never
    * all-pairs), CC is the bounded-round min-label propagation, and
    * the split itself is one md5 per CLUSTER — no coordination,
    * reproducible under any partitioning.
    */
  def q282_cluster_split(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterSplits(load(spark, dir, "documents"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        sum($"clustered").as("n_clustered_docs"))
      .orderBy($"split")
  }

  /** q283 — eval-set decontamination spans (the sub-document form of
    * q44's doc-level contamination gate, with q204's span surgery):
    * for each TRAIN document, the maximal word spans whose every
    * 8-gram also occurs somewhere in the EVAL split (doc_id ≡ 0 mod
    * EvalModulus, q44's convention) — the exact spans a pipeline cuts
    * before training so the model cannot memorize its own test set
    * (GPT-3 appendix-C-style n-gram decontamination, made span-exact).
    * Same linear plan shape as q204: positional gram hashes, the
    * eval-side distinct gram table (≪ corpus), one equi-join back on
    * the 60-bit hash, per-doc gaps-and-islands merge.
    */
  def q283_decontam_spans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = graft.Caches.tracked(
      load(spark, dir, "documents")
        .select($"doc_id".cast("long"), $"text")
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, text) =>
            DataPrep.gramHashesWithPos(md, text, SpanGramWords)
              .map { case (pos, g) => (id, pos, g) }
          }
        }
        .toDF("doc_id", "pos", "g"))
    val evalGrams = grams.filter($"doc_id" % DataPrep.EvalModulus === 0)
      .select($"g").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    grams.filter($"doc_id" % DataPrep.EvalModulus =!= 0)
      .join(evalGrams, "g")
      .withColumn("isl", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + SpanGramWords - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select($"doc_id", $"span_start", $"span_end", $"n_grams")
      .orderBy($"doc_id", $"span_start")
  }

  /** q286 — eval-side n-gram novelty audit (the flip side of q283):
    * for each EVAL document, how many of its positional 8-grams
    * already occur in the TRAIN split — the pre-training decontam
    * risk report (a high-overlap eval doc measures memorization, not
    * generalization; cf. the n-gram overlap tables of the GPT-3 /
    * PaLM evals). One distinct-gram table per side, one equi-join,
    * one per-doc aggregate — linear, no pair joins.
    */
  def q286_eval_ngram_overlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = graft.Caches.tracked(
      load(spark, dir, "documents")
        .select($"doc_id".cast("long"), $"text")
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, text) =>
            DataPrep.gramHashesWithPos(md, text, SpanGramWords)
              .map { case (pos, g) => (id, pos, g) }
          }
        }
        .toDF("doc_id", "pos", "g"))
    val trainGrams = grams.filter($"doc_id" % DataPrep.EvalModulus =!= 0)
      .select($"g").distinct().withColumn("hit", lit(1L))
    grams.filter($"doc_id" % DataPrep.EvalModulus === 0)
      .join(trainGrams, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0L))).as("n_in_train"))
      .withColumn("overlap_bp",
        round(lit(10000.0) * $"n_in_train" / $"n_grams").cast("long"))
      .orderBy($"doc_id")
  }

  /** q284 — mirror-cluster audit: for each near-dup CLUSTER (q52's
    * connected components), how many documents, distinct sources and
    * distinct languages it spans — the mirror-site / cross-crawl
    * duplication report at cluster granularity (q220's source matrix
    * counts PAIRS; this answers "is this one article syndicated
    * across 9 sources or 9 copies inside one crawl", which decides
    * whether source-level dedup ordering even helps). Everything
    * after the pair machinery is |clusters|-bounded: one equi-join of
    * the label table back to the doc dims, one aggregate. Integer
    * counts only — no float path anywhere.
    */
  def q284_mirror_clusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val labels = connectedComponents(minhashPairs(docs.select($"doc_id", $"text")))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
    labels.join(docs.select($"doc_id", $"source", $"lang"), "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"))
      .orderBy($"cluster_id")
  }

  /** q214 — soft dedup by n-gram commonness (the SoftDeDup idea:
    * down-WEIGHT common content instead of dropping it, so the
    * training loss keeps the document but repeated boilerplate stops
    * dominating the gradient). Per document: the mean document
    * frequency of its distinct 3-gram shingles ("commonness") and the
    * inverse reweighting factor in basis points. Unlike q20/q23 this
    * emits a weight for EVERY doc — the pipeline multiplies sampling
    * probability by weight instead of filtering.
    *
    * Plan shape: one shingle explode → df count keyed on the gram
    * string (vocab-bounded shuffle), equi-join back on the gram, one
    * per-doc aggregate. No pair join at all — commonness is a
    * first-order statistic, which is exactly why it scales better
    * than pairwise dedup at 100 TB (linear in corpus size).
    */
  def q214_soft_dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = graft.Caches.tracked(load(spark, dir, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("sp"))
      .filter(size($"sp") >= 3)
      .select($"doc_id", $"source", explode(array_distinct(expr(
        "transform(sequence(0, size(sp) - 3), i -> concat(sp[i], ' ', sp[i+1], ' ', sp[i+2]))")))
        .as("g")))
    val df = grams.groupBy($"g").agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_grams"), sum($"df").as("sum_df"))
      .select($"doc_id", $"source", $"n_grams", $"sum_df",
        round(lit(1000.0) * $"sum_df" / $"n_grams").cast("long")
          .as("commonness_milli"),
        round(lit(10000.0) * $"n_grams" / $"sum_df").cast("long")
          .as("weight_bp"))
      .orderBy($"doc_id")
  }

  /** q217 — per-document memorization rate: the share of a doc's
    * positional 8-gram hashes (q204's substring machinery) that occur
    * verbatim in at least one OTHER document — the doc-granular
    * summary of L69's span view ("how much of this page is copied
    * boilerplate?"), the score a curation pipeline thresholds where
    * span surgery (q204) is too aggressive. Count-distinct per gram
    * hash, equi-join back, per-doc aggregate — same linear scale
    * shape as q214, hot grams are hot KEYS never hot reducers.
    */
  def q217_memorization_rate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = graft.Caches.tracked(
      load(spark, dir, "documents")
        .select($"doc_id".cast("long"), $"text")
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, text) =>
            DataPrep.gramHashesWithPos(md, text, SpanGramWords)
              .map { case (pos, g) => (id, pos, g) }
          }
        }
        .toDF("doc_id", "pos", "g"))
    val df = grams.groupBy($"g").agg(countDistinct($"doc_id").as("nd"))
    grams.join(df, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_memorized"))
      .withColumn("mem_bp",
        round(lit(10000.0) * $"n_memorized" / $"n_grams").cast("long"))
      .orderBy($"doc_id")
  }

  /** q220 — cross-source duplication matrix: near-dup pair counts and
    * mean similarity per (source, source) cell — "which crawl
    * duplicates which" at dataset granularity, the report that drives
    * source-level dedup ordering (drop the mirror, keep the origin).
    * Built on the EXACT prefix-filter pairs (q73) so the matrix has
    * no probabilistic misses; sources attach via two equi-joins on
    * doc id (the pair list is ≪ corpus — never broadcast the
    * corpus-sized doc→source map), cells normalize to unordered
    * (least, greatest) so A→B and B→A land together.
    */
  def q220_source_dedup_matrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
    val pairs = prefixJaccardPairs(docs.select($"doc_id", $"text"))
    val src = docs.select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"), $"j_bp")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"j_bp")).cast("long").as("mean_j_bp"))
      .orderBy($"source_a", $"source_b")
  }

  /** q225 — dedup threshold sensitivity sweep: pair and affected-doc
    * counts at Jaccard ≥ 0.5 / 0.7 / 0.9 from ONE exact pair pass —
    * the tuning table for "where do we set the near-dup threshold?"
    * (too low eats paraphrases, too high leaves mirrors). The sweep
    * is free above the prefix-filter's 0.5 floor: higher-threshold
    * sets are subsets, so the pairs compute once (tracked-persist)
    * and the thresholds fan out as a 3-literal explode. Left joins
    * from the threshold spine keep zero-count rows visible.
    */
  def q225_dedup_threshold_sweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.Caches.tracked(
      prefixJaccardPairs(load(spark, dir, "documents").select($"doc_id", $"text")))
    val t = pairs
      .select($"doc_a", $"doc_b", $"j_bp",
        explode(array(lit(5000L), lit(7000L), lit(9000L))).as("threshold_bp"))
      .filter($"j_bp" >= $"threshold_bp")
    val nPairs = t.groupBy($"threshold_bp").agg(count(lit(1)).as("np"))
    val nDocs = t.select($"threshold_bp",
        explode(array($"doc_a", $"doc_b")).as("d")).distinct()
      .groupBy($"threshold_bp").agg(count(lit(1)).as("nd"))
    Seq(5000L, 7000L, 9000L).toDF("threshold_bp")
      .join(nPairs, Seq("threshold_bp"), "left")
      .join(nDocs, Seq("threshold_bp"), "left")
      .select($"threshold_bp",
        coalesce($"np", lit(0L)).as("n_pairs"),
        coalesce($"nd", lit(0L)).as("n_docs"))
      .orderBy($"threshold_bp")
  }

  final val WinnowWindow = 4

  /** q226 — winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): per document, slide a
    * 4-gram-hash window over the positional 5-gram hashes and keep
    * each window's minimum — the classic copy-detection selection
    * whose guarantee is that any shared run of ≥ w+n−1 words yields
    * at least one shared fingerprint. Emits per-doc fingerprint
    * counts and selection density. Both windows (running min, per-doc
    * gram count) partition on doc_id — bounded by document length,
    * embarrassingly parallel across docs at any corpus size.
    */
  /** The winnowing selection stream: one row per full window with its
    * minimum gram hash. Factored so the guarantee spec can check
    * fingerprint INTERSECTIONS (any shared ≥ w+n−1-word run yields a
    * shared fingerprint), not just the q226 counts.
    */
  private[llm] def winnowStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val grams = docs
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          DataPrep.gramHashesWithPos(md, text, 5)
            .map { case (pos, g) => (id, pos, g) }
        }
      }
      .toDF("doc_id", "pos", "g")
    grams
      .withColumn("n", count(lit(1)).over(w.partitionBy($"doc_id")))
      .withColumn("wmin", min($"g").over(
        w.partitionBy($"doc_id").orderBy($"pos").rowsBetween(0, WinnowWindow - 1)))
      .filter($"pos" <= $"n" - WinnowWindow + 1)
  }

  def q226_winnowing_fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    winnowStream(load(spark, dir, "documents"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        countDistinct($"wmin").as("n_fingerprints"))
      .withColumn("density_bp",
        round(lit(10000.0) * $"n_fingerprints" / $"n_windows").cast("long"))
      .orderBy($"doc_id")
  }

  /** q228 — winnowing candidate pairs (the MOSS pipeline's join half,
    * completing q226's selection half): invert the winnowing
    * fingerprints into an index and emit document pairs sharing ≥ 2
    * selected fingerprints — copy-detection candidates from an index
    * that stores only ~2/(w+1) of the grams q73's prefix filter
    * would, with the winnowing guarantee (no shared ≥ w+n−1-word run
    * escapes) in place of q23's probabilistic banding. Equi-join on
    * the fingerprint hash, never cartesian; hot boilerplate
    * fingerprints are hot keys with bounded per-key fan-out in the
    * pair count they produce.
    */
  def q228_winnow_candidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = graft.Caches.tracked(
      winnowStream(load(spark, dir, "documents").select($"doc_id", $"text"))
        .select($"doc_id", $"wmin").distinct())
    fps.as("a").join(fps.as("b"),
        $"a.wmin" === $"b.wmin" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter($"n_shared_fps" >= 2)
      .orderBy($"doc_a", $"doc_b")
  }

  /** q234 — LSH recall calibration curve: every exact near-dup pair
    * (the q73 prefix-filter ground truth) with the ANALYTIC detection
    * probability of the q23 banding scheme, p = 1 − (1 − J^r)^b for
    * r = 4 rows × b = 16 bands — the table that answers "what does
    * the LSH miss at J = 0.55?" BEFORE production tunes bands. The
    * curve is a map-side expression over the exact pairs; pow is
    * milli-rounded over the discrete j_bp grid (engine ulps orders
    * below the grain).
    */
  def q234_lsh_recall_curve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    prefixJaccardPairs(load(spark, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_a", $"doc_b", $"j_bp",
        round(lit(1000.0) * (lit(1.0) -
          pow(lit(1.0) - pow($"j_bp" / 10000.0, RowsPerBand), NumBands)))
          .cast("long").as("p_detect_milli"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** q242 — LSH band planner: for every (rows r × bands b) factoring
    * of the 64-slot signature, the EXPECTED number of true pairs the
    * banding would miss on THIS corpus (Σ over the exact q73 pairs of
    * 1 − p_{r,b}(J)) next to the analytic false-positive area below
    * the 0.5 threshold (100-point midpoint integral of the S-curve) —
    * the data-aware tuning table behind q23's 16×4 choice, instead of
    * folklore defaults. The pair table crossJoins a 7-row broadcast
    * config spine; the grid is 700 arithmetic rows. Bounded
    * everything; pow is milli/micro-rounded as across the ANN layer.
    */
  def q242_lsh_band_planner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.Caches.tracked(
      prefixJaccardPairs(load(spark, dir, "documents").select($"doc_id", $"text")))
    val configs = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1))
      .toDF("r", "b")
    val miss = pairs.crossJoin(broadcast(configs))
      .select($"r", $"b",
        (lit(1.0) - (lit(1.0) -
          pow(lit(1.0) - pow($"j_bp" / 10000.0, $"r"), $"b"))).as("pmiss"))
      .groupBy($"r", $"b")
      .agg(count(lit(1)).as("n_pairs"),
        round(lit(1000.0) * sum($"pmiss")).cast("long").as("expected_missed_milli"))
    val grid = configs
      .select($"r", $"b", explode(expr("sequence(0, 99)")).as("i"))
      .select($"r", $"b",
        (lit(1.0) - pow(lit(1.0) -
          pow((($"i" + 0.5) / 100.0) * 0.5, $"r"), $"b")).as("p"))
      .groupBy($"r", $"b")
      .agg(round(sum($"p") / 100.0 * 0.5 * 1000000.0).cast("long")
        .as("fp_area_micro"))
    miss.join(grid, Seq("r", "b")).orderBy($"r")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q282_cluster_split" -> q282_cluster_split,
    "q283_decontam_spans" -> q283_decontam_spans,
    "q284_mirror_clusters" -> q284_mirror_clusters,
    "q286_eval_ngram_overlap" -> q286_eval_ngram_overlap,
    "q242_lsh_band_planner" -> q242_lsh_band_planner,
    "q234_lsh_recall_curve" -> q234_lsh_recall_curve,
    "q228_winnow_candidates" -> q228_winnow_candidates,
    "q225_dedup_threshold_sweep" -> q225_dedup_threshold_sweep,
    "q226_winnowing_fingerprints" -> q226_winnowing_fingerprints,
    "q220_source_dedup_matrix" -> q220_source_dedup_matrix,
    "q217_memorization_rate" -> q217_memorization_rate,
    "q214_soft_dedup" -> q214_soft_dedup,
    "q106_canonical_docs" -> q106_canonical_docs,
    "q204_substring_spans" -> q204_substring_spans,
    "q86_edit_distance" -> q86_edit_distance,
    "q313_record_linkage" -> q313_record_linkage,
    "q23_minhash_dedup" -> q23_minhash_dedup,
    "q203_incremental_dedup" -> q203_incremental_dedup,
    "q24_simhash_dedup" -> q24_simhash_dedup,
    "q25_ngram_jaccard_blocked" -> q25_ngram_jaccard_blocked,
    "q52_neardup_clusters" -> q52_neardup_clusters,
    "q291_cluster_chain_audit" -> q291_cluster_chain_audit,
    "q304_pair_mutation_map" -> q304_pair_mutation_map,
    "q306_survivor_bias" -> q306_survivor_bias,
    "q73_prefix_jaccard" -> q73_prefix_jaccard,
    "q341_simjoin_funnel" -> q341_simjoin_funnel,
    "q342_lshband_funnel" -> q342_lshband_funnel,
    "q347_ml_simjoin_funnel" -> q347_ml_simjoin_funnel,
    "q348_ml_lshband_funnel" -> q348_ml_lshband_funnel)

  // Oracles recompute the *exact* similarity ground truth from the
  // raw strings — independently of the Spark side's LSH/banding/prefix
  // candidate generation (that equality is the check). Since round 11
  // the pair generation is an inverted-index join on shared 3-shingles
  // (`GramIxSql`): every pair that shares ≥ 1 distinct shingle gets
  // its EXACT intersection size from one COUNT(*) per pair, and pairs
  // sharing none have J = 0 — below every threshold in use — so the
  // rewrite is lossless while the cost drops from |docs|² list
  // intersections to Σ df(gram)² group rows. That turns the sf0.1
  // replays from 90 s-budget timeouts into seconds WITHOUT weakening
  // the oracle: it is still exact arithmetic over all qualifying
  // pairs, not a replay of the engine's probabilistic plan.
  private[llm] val Shingle3Sql =
    """list_distinct(list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 0)),
      |  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))""".stripMargin

  private val Shingle2Sql =
    """list_distinct(list_transform(generate_series(1, greatest(len(string_split(text,' '))-1, 0)),
      |  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))""".stripMargin

  private val SimHashSql =
    s"""list_sum(list_transform(generate_series(0, ${SimHashBits - 1}), i ->
       |  CASE WHEN list_sum(list_transform(th_arr, h ->
       |         CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |       THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))""".stripMargin

  /** Shared inverted-index pair stage: (da, db, la, lb, i) for every
    * doc pair sharing ≥ 1 distinct 3-shingle, with da < db, i the
    * EXACT |A∩B| (shingles are list_distinct'd, so COUNT(*) over the
    * gram equi-join IS the intersection size) and la/lb the shingle
    * counts — J(a,b) = i/(la+lb−i) exactly, and
    * len(list_distinct(a.sh || b.sh)) = la+lb−i. MATERIALIZED hints
    * keep DuckDB from re-inlining the stage into every consumer CTE.
    */
  private[llm] def gramIxOver(rel: String): String =
    s"""dx AS MATERIALIZED (SELECT doc_id, len(sh) AS ln, sh FROM
      |  (SELECT doc_id, $Shingle3Sql AS sh FROM $rel) WHERE len(sh) > 0),
      |gx AS (SELECT doc_id, ln, unnest(sh) AS g FROM dx),
      |ix AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db,
      |        a.ln AS la, b.ln AS lb, CAST(COUNT(*) AS BIGINT) AS i
      |      FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2, 3, 4)""".stripMargin

  private[llm] val GramIxSql: String = gramIxOver("documents")

  /** q25's 2-shingle, source-blocked analog of [[GramIxSql]]: the
    * inverted index carries `source` in the gram-join key so only
    * same-source pairs are generated — exactly the engine's blocking
    * rule — and the rest is the same lossless rewrite (pairs sharing
    * no bigram have J = 0, below every threshold in use). This is
    * what makes the q25 sf1.0 replay affordable: |docs/source|² list
    * intersections (~62M at 2.5k docs/source) become one COUNT(*)
    * per qualifying pair off a vectorized gram equi-join.
    */
  private[llm] val Gram2IxSql: String =
    s"""dx2 AS MATERIALIZED (SELECT doc_id, source, len(sh) AS ln, sh FROM
      |  (SELECT doc_id, source, $Shingle2Sql AS sh FROM documents)
      |  WHERE len(sh) > 0),
      |gx2 AS (SELECT doc_id, source, ln, unnest(sh) AS g FROM dx2),
      |ix2 AS MATERIALIZED (SELECT a.source AS source,
      |        a.doc_id AS da, b.doc_id AS db,
      |        a.ln AS la, b.ln AS lb, CAST(COUNT(*) AS BIGINT) AS i
      |      FROM gx2 a JOIN gx2 b ON a.g = b.g AND a.source = b.source
      |        AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  /** DuckDB replay of [[shingleHashes]]' per-gram hash — FNV-1a over
    * the gram's bytes finalized by mix64 — as a SQL fragment mapping
    * `g` → signed BIGINT `h`, byte-identical to the Scala (validated
    * at all three scales by the q341 gate row). All arithmetic is
    * HUGEINT mod 2⁶⁴; the two ≥2⁶³ mix64 multipliers are
    * split-multiplied ((a·B) mod 2⁶⁴ = a_lo·B + (a_hi·B mod 2³²)·2³²
    * with a_hi = a div 2³²) because the full 64×64 product can
    * overflow HUGEINT's 127 value bits, and the final value maps to
    * the signed two's-complement BIGINT the engine sorts and joins
    * by. Byte extraction walks the gram's ACTUAL UTF-8 bytes —
    * hex(encode(g)) digit pairs decoded with strpos — so the replay
    * is byte-identical to the Scala `getBytes(UTF_8)` loop on ANY
    * corpus, multilingual included (round-19 directive #3: the
    * round-18 ASCII guard that error()'d on non-ASCII grams is
    * retired; q348 keeps a planted multilingual fixture green in both
    * funnels every round). Expects a relation exposing distinct gram
    * strings as `g`.
    */
  private val FnvMix64Sql: String =
    """SELECT g, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |        THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h
      | FROM (SELECT g, xor(z5, z5 >> 31) AS hu FROM (
      |  SELECT g, ((z4 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
      |    + ((z4 // 4294967296::HUGEINT) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT)
      |      * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z5 FROM (
      |   SELECT g, xor(z3, z3 >> 27) AS z4 FROM (
      |    SELECT g, ((z2 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
      |      + ((z2 // 4294967296::HUGEINT) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT)
      |        * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z3 FROM (
      |     SELECT g, xor(z1, z1 >> 30) AS z2 FROM (
      |      SELECT g, (f + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z1 FROM (
      |       SELECT g, list_reduce(
      |         list_prepend(14695981039346656037::HUGEINT,
      |           list_transform(generate_series(1, length(hx) // 2), i ->
      |             ((strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16
      |               + strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)::HUGEINT)),
      |         (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS f
      |       FROM (SELECT g, lower(hex(encode(g))) AS hx FROM dg))))))))""".stripMargin

  /** The distinct-gram CTE every [[FnvMix64Sql]] consumer uses. */
  private val DistinctDgSql: String =
    """dg AS MATERIALIZED (SELECT DISTINCT g FROM gs)""".stripMargin

  /** One mix64 finalizer application as a nested-subquery fragment:
    * reads column `in`, emits everything plus `out`, dropping the
    * five intermediates — the same split-multiply HUGEINT arithmetic
    * as [[FnvMix64Sql]], factored so q342's oracle can avalanche the
    * shingle hash twice (the a/b affine-minhash parameters) without
    * repeating the chain inline.
    */
  private def mix64StepSql(src: String, in: String, out: String): String = {
    val M = "18446744073709551616::HUGEINT"
    val H = "4294967296::HUGEINT"
    def mul(x: String, c: String) =
      s"(($x % $H) * $c::HUGEINT + (($x // $H) * $c::HUGEINT % $H) * $H) % $M"
    s"""SELECT * EXCLUDE (t1$out, t2$out, t3$out, t4$out, t5$out),
       |    xor(t5$out, t5$out >> 31) AS $out FROM (
       |  SELECT *, ${mul(s"t4$out", "10723151780598845931")} AS t5$out FROM (
       |   SELECT *, xor(t3$out, t3$out >> 27) AS t4$out FROM (
       |    SELECT *, ${mul(s"t2$out", "13787848793156543929")} AS t3$out FROM (
       |     SELECT *, xor(t1$out, t1$out >> 30) AS t2$out FROM (
       |      SELECT *, ($in + 11400714819323198485::HUGEINT) % $M AS t1$out
       |      FROM $src)))))""".stripMargin
  }

  /** q342's full-funnel DuckDB replay: shingle hashes via
    * [[FnvMix64Sql]], then the affine minhash family re-derived
    * exactly — a = mix64(h ⊕ C₁), b = mix64(h ⊕ C₂) | 1 (the OR is
    * the arithmetic +1-if-even), sig(k) = SIGNED min over the doc's
    * shingles of (a + k·b) mod 2⁶⁴ for k < 64 — the 16×4
    * comma-joined band keys, the distinct bucket-join pairs, and the
    * exact-Jaccard verify/truth counts off the hash equi-join. The
    * heavy stage is the |doc shingle instances| × 64 signature
    * aggregate (~170M rows at sf1.0) — a flat vectorized GROUP BY.
    */
  private val LshFunnelSql: String = lshFunnelSqlOver("", "documents")

  /** [[LshFunnelSql]] over any relation, with optional CTEs prepended
    * (the q348 multilingual fixture prepends [[MlCorpusCteSql]]).
    */
  private def lshFunnelSqlOver(prefixCtes: String, rel: String): String = {
    val abChain = mix64StepSql(
      s"(${mix64StepSql("abx", "xa", "a")}) ab_half", "xb", "b0")
    s"""WITH ${prefixCtes}dx AS MATERIALIZED (SELECT doc_id, sh FROM
      |  (SELECT doc_id, $Shingle3Sql AS sh FROM $rel) WHERE len(sh) > 0),
      |gs AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM dx),
      |$DistinctDgSql,
      |gh AS MATERIALIZED (
      | $FnvMix64Sql),
      |dh AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM gs JOIN gh USING (g)),
      |dn AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM dh GROUP BY 1),
      |abx AS (SELECT h,
      |  xor(hu, 15485907386658061715::HUGEINT) AS xa,
      |  xor(hu, 11935578914440803537::HUGEINT) AS xb FROM (
      |  SELECT h, CASE WHEN h < 0
      |    THEN h::HUGEINT + 18446744073709551616::HUGEINT
      |    ELSE h::HUGEINT END AS hu FROM (SELECT DISTINCT h FROM dh))),
      |ab AS MATERIALIZED (SELECT h, a, b0 + (1 - b0 % 2) AS b FROM (
      | $abChain) ab_full),
      |sg AS MATERIALIZED (
      |  SELECT doc_id, k,
      |    MIN(CASE WHEN sv >= 9223372036854775808::HUGEINT
      |        THEN CAST(sv - 18446744073709551616::HUGEINT AS BIGINT)
      |        ELSE CAST(sv AS BIGINT) END) AS v
      |  FROM (
      |    SELECT d.doc_id, ks.k,
      |      (ab.a + ks.k::HUGEINT * ab.b) % 18446744073709551616::HUGEINT AS sv
      |    FROM dh d JOIN ab USING (h)
      |      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) ks)
      |  GROUP BY 1, 2),
      |sigl AS (SELECT doc_id, list(v ORDER BY k) AS sig FROM sg GROUP BY 1),
      |bands AS MATERIALIZED (
      |  SELECT doc_id, bs.bi AS band_idx,
      |    array_to_string(sig[bs.bi*4+1 : bs.bi*4+4], ',') AS band_key
      |  FROM sigl, (SELECT unnest(generate_series(0, 15)) AS bi) bs),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
      |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |pj AS MATERIALIZED (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i,
      |    any_value(na.n) AS la, any_value(nb.n) AS lb
      |  FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
      |    JOIN dn na ON na.doc_id = a.doc_id JOIN dn nb ON nb.doc_id = b.doc_id
      |  GROUP BY 1, 2),
      |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_pairs FROM pj
      |  WHERE 2*i >= la + lb - i),
      |vf AS (SELECT CAST(COUNT(*) AS BIGINT) AS verified_pairs
      |  FROM cand c JOIN pj ON pj.da = c.da AND pj.db = c.db
      |  WHERE 2*pj.i >= pj.la + pj.lb - pj.i),
      |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_shingles FROM dn),
      |br AS (SELECT CAST(COUNT(*) AS BIGINT) AS band_rows FROM bands),
      |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs FROM cand)
      |SELECT n_docs, n_shingles, band_rows, cand_pairs, verified_pairs,
      |  truth_pairs,
      |  CAST(ROUND(10000.0 * verified_pairs
      |    / greatest(cand_pairs, 1)) AS BIGINT) AS precision_bp,
      |  CAST(ROUND(10000.0 * verified_pairs
      |    / greatest(truth_pairs, 1)) AS BIGINT) AS recall_bp
      |FROM base, br, cc, vf, tr""".stripMargin
  }

  /** q341's full-funnel DuckDB replay: re-derive the shingle hashes
    * ([[FnvMix64Sql]]), rebuild the (df, h)-ordered positional prefix
    * via ROW_NUMBER (a total order — h is unique per doc), count
    * distinct candidate pairs without/with the positional filter from
    * ONE self-join (MAX(pos_ok) per pair), and count verified pairs
    * as all pairs with 2·i ≥ u off the hash equi-join — equal to
    * "verified among candidates" by the spec-pinned no-miss +
    * losslessness properties, and Σ df(h)² cheap where the 19M-pair ×
    * per-doc-hash join would blow up.
    */
  private val SimjoinFunnelSql: String = simjoinFunnelSqlOver("", "documents")

  /** [[SimjoinFunnelSql]] over any relation, with optional CTEs
    * prepended (the q347 multilingual fixture).
    */
  private def simjoinFunnelSqlOver(prefixCtes: String, rel: String): String =
    s"""WITH ${prefixCtes}dx AS MATERIALIZED (SELECT doc_id, sh FROM
      |  (SELECT doc_id, $Shingle3Sql AS sh FROM $rel) WHERE len(sh) > 0),
      |gs AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM dx),
      |$DistinctDgSql,
      |gh AS MATERIALIZED (
      | $FnvMix64Sql),
      |dh AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM gs JOIN gh USING (g)),
      |dn AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM dh GROUP BY 1),
      |dfr AS MATERIALIZED (SELECT h, COUNT(*) AS df FROM dh GROUP BY 1),
      |px AS MATERIALIZED (
      |  SELECT doc_id, n, h, pos FROM (
      |    SELECT d.doc_id, dn.n, d.h,
      |      ROW_NUMBER() OVER (PARTITION BY d.doc_id ORDER BY f.df, d.h) - 1 AS pos
      |    FROM dh d JOIN dn USING (doc_id) JOIN dfr f USING (h))
      |  WHERE pos <= n // 2),
      |cj AS MATERIALIZED (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    MAX(CASE WHEN 3 * (1 + least(a.n - a.pos - 1, b.n - b.pos - 1)) >= a.n + b.n
      |        THEN 1 ELSE 0 END) AS pos_ok
      |  FROM px a JOIN px b ON a.h = b.h AND a.doc_id < b.doc_id
      |    AND 2*a.n >= b.n AND 2*b.n >= a.n
      |  GROUP BY 1, 2),
      |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_prefix,
      |  CAST(COALESCE(SUM(pos_ok), 0) AS BIGINT) AS cand_positional FROM cj),
      |vf AS (SELECT CAST(COUNT(*) AS BIGINT) AS verified_pairs FROM (
      |  SELECT a.doc_id, b.doc_id, COUNT(*) AS i,
      |    any_value(na.n) AS la, any_value(nb.n) AS lb
      |  FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
      |    JOIN dn na ON na.doc_id = a.doc_id JOIN dn nb ON nb.doc_id = b.doc_id
      |  GROUP BY 1, 2) WHERE 2*i >= la + lb - i),
      |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_shingles FROM dn),
      |ie AS (SELECT CAST(COUNT(*) AS BIGINT) AS index_entries FROM px)
      |SELECT n_docs, n_shingles, index_entries, cand_prefix, cand_positional,
      |  verified_pairs,
      |  CAST(ROUND(10000.0 * (cand_prefix - cand_positional)
      |    / greatest(cand_prefix, 1)) AS BIGINT) AS pos_filter_cut_bp,
      |  CAST(ROUND(10000.0 * verified_pairs
      |    / greatest(cand_positional, 1)) AS BIGINT) AS precision_bp
      |FROM base, ie, cc, vf""".stripMargin

  /** DuckDB replay of [[multilingualCorpus]] — same vocab table,
    * same `//`/`%` index arithmetic, same `||` concatenation (NULL
    * text propagates to NULL in both engines and is dropped by the
    * len(sh) > 0 filter).
    */
  private val MlCorpusCteSql: String = {
    val arr = MlVocab.map(w => s"'$w'").mkString("[", ", ", "]")
    val k = MlVocab.size
    s"""mlw AS (SELECT $arr AS v),
      |mlb AS MATERIALIZED (SELECT doc_id,
      |    v[CAST((doc_id // $MlSliceMod) % $k AS INT) + 1] || ' ' ||
      |    v[CAST(((doc_id // $MlSliceMod) * 3 + 1) % $k AS INT) + 1] || ' ' || text AS text
      |  FROM documents, mlw WHERE doc_id % $MlSliceMod = 0),
      |mlc AS (SELECT doc_id, text FROM mlb
      |  UNION ALL
      |  SELECT doc_id + $MlIdOffset,
      |    text || ' ' || v[CAST((doc_id // $MlTwinMod) % $k AS INT) + 1]
      |  FROM mlb, mlw WHERE doc_id % $MlTwinMod = 0),
      |""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q341_simjoin_funnel" -> SimjoinFunnelSql,
    "q342_lshband_funnel" -> LshFunnelSql,
    "q347_ml_simjoin_funnel" -> simjoinFunnelSqlOver(MlCorpusCteSql, "mlc"),
    "q348_ml_lshband_funnel" -> lshFunnelSqlOver(MlCorpusCteSql, "mlc"),
    "q282_cluster_split" ->
      s"""WITH RECURSIVE $GramIxSql,
        |pairs AS (SELECT da AS u, db AS v FROM ix
        |  WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
        |reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
        |m AS (SELECT d.doc_id, cl.doc_id IS NOT NULL AS clustered,
        |        COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |b AS (SELECT *, CAST('0x' || substring(md5('graft_split_'
        |        || CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
        |      FROM m)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
        |  CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered_docs
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q284_mirror_clusters" ->
      s"""WITH RECURSIVE $GramIxSql,
        |pairs AS (SELECT da AS u, db AS v FROM ix
        |  WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
        |reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node)
        |SELECT CAST(cl.cluster_id AS BIGINT) AS cluster_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
        |  CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs
        |FROM cl JOIN documents d ON cl.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q283_decontam_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(ws) - ${SpanGramWords - 1}, 0))) AS pos,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - ${SpanGramWords - 1}, 0)),
        |      i -> CAST('0x' || substring(md5(
        |             array_to_string(ws[i:i+${SpanGramWords - 1}], ' ')), 1, 15) AS BIGINT))) AS g
        |  FROM w),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % ${DataPrep.EvalModulus} = 0),
        |p AS (SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM g JOIN ev USING (g) WHERE doc_id % ${DataPrep.EvalModulus} <> 0)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + ${SpanGramWords - 1} AS BIGINT) AS span_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM p GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    "q286_eval_ngram_overlap" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - ${SpanGramWords - 1}, 0)),
        |      i -> CAST('0x' || substring(md5(
        |             array_to_string(ws[i:i+${SpanGramWords - 1}], ' ')), 1, 15) AS BIGINT))) AS g
        |  FROM w),
        |tr AS (SELECT DISTINCT g FROM g WHERE doc_id % ${DataPrep.EvalModulus} <> 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_train,
        |  CAST(ROUND(10000.0 * SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
        |       / COUNT(*)) AS BIGINT) AS overlap_bp
        |FROM g LEFT JOIN tr USING (g) WHERE doc_id % ${DataPrep.EvalModulus} = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q242_lsh_band_planner" ->
      s"""WITH $GramIxSql,
        |p AS (SELECT CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |      FROM ix WHERE 2 * i >= la + lb - i),
        |cfg AS (SELECT CAST(v.r AS INT) AS r, CAST(v.b AS INT) AS b FROM (VALUES
        |        (1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1)) v(r, b)),
        |m AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |        CAST(ROUND(1000.0 * SUM(1.0 - (1.0 -
        |          POW(1.0 - POW(j_bp / 10000.0, r), b)))) AS BIGINT)
        |          AS expected_missed_milli
        |      FROM p CROSS JOIN cfg GROUP BY 1, 2),
        |g AS (SELECT r, b,
        |        CAST(ROUND(SUM(1.0 - POW(1.0 - POW(((i + 0.5) / 100.0) * 0.5, r), b))
        |          / 100.0 * 0.5 * 1000000.0) AS BIGINT) AS fp_area_micro
        |      FROM cfg CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS i)
        |      GROUP BY 1, 2)
        |SELECT m.r, m.b, m.n_pairs, m.expected_missed_milli, g.fp_area_micro
        |FROM m JOIN g ON m.r = g.r AND m.b = g.b ORDER BY m.r""".stripMargin,
    "q234_lsh_recall_curve" ->
      s"""WITH $GramIxSql
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp,
        |  CAST(ROUND(1000.0 * (1.0 - POW(1.0 -
        |       POW(ROUND(10000.0 * i / (la + lb - i)) / 10000.0,
        |           $RowsPerBand), $NumBands))) AS BIGINT) AS p_detect_milli
        |FROM ix WHERE 2 * i >= la + lb - i
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q228_winnow_candidates" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS pos,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
        |      i -> CAST('0x' || substring(md5(
        |             array_to_string(ws[i:i+4], ' ')), 1, 15) AS BIGINT))) AS g
        |  FROM w),
        |m AS (SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
        |    MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND ${WinnowWindow - 1} FOLLOWING) AS wmin
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, wmin FROM m WHERE pos <= n - $WinnowWindow + 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared_fps
        |FROM fp a JOIN fp b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2""".stripMargin,
    "q225_dedup_threshold_sweep" ->
      s"""WITH $GramIxSql,
        |p AS (SELECT da AS doc_a, db AS doc_b,
        |        CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |      FROM ix WHERE 2 * i >= la + lb - i),
        |t AS (SELECT CAST(v.t AS BIGINT) AS threshold_bp
        |      FROM (VALUES (5000), (7000), (9000)) v(t)),
        |f AS (SELECT t.threshold_bp, p.doc_a, p.doc_b FROM t
        |      JOIN p ON p.j_bp >= t.threshold_bp),
        |np AS (SELECT threshold_bp, CAST(COUNT(*) AS BIGINT) AS np FROM f GROUP BY 1),
        |nd AS (SELECT threshold_bp, CAST(COUNT(DISTINCT d) AS BIGINT) AS nd FROM (
        |        SELECT threshold_bp, doc_a AS d FROM f
        |        UNION SELECT threshold_bp, doc_b FROM f) GROUP BY 1)
        |SELECT t.threshold_bp, COALESCE(np.np, 0) AS n_pairs,
        |  COALESCE(nd.nd, 0) AS n_docs
        |FROM t LEFT JOIN np USING (threshold_bp) LEFT JOIN nd USING (threshold_bp)
        |ORDER BY threshold_bp""".stripMargin,
    "q226_winnowing_fingerprints" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS pos,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
        |      i -> CAST('0x' || substring(md5(
        |             array_to_string(ws[i:i+4], ' ')), 1, 15) AS BIGINT))) AS g
        |  FROM w),
        |m AS (SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
        |    MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND ${WinnowWindow - 1} FOLLOWING) AS wmin
        |  FROM g)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
        |  CAST(ROUND(10000.0 * COUNT(DISTINCT wmin) / COUNT(*)) AS BIGINT)
        |    AS density_bp
        |FROM m WHERE pos <= n - $WinnowWindow + 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q220_source_dedup_matrix" ->
      s"""WITH $GramIxSql,
        |p AS (SELECT ca.source AS sa, cb.source AS sb,
        |        CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |      FROM ix JOIN documents ca ON ix.da = ca.doc_id
        |        JOIN documents cb ON ix.db = cb.doc_id
        |      WHERE 2 * i >= la + lb - i)
        |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(ROUND(AVG(j_bp)) AS BIGINT) AS mean_j_bp
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q217_memorization_rate" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - ${SpanGramWords - 1}, 0)),
        |      i -> CAST('0x' || substring(md5(
        |             array_to_string(ws[i:i+${SpanGramWords - 1}], ' ')), 1, 15) AS BIGINT))) AS g
        |  FROM w),
        |d AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_memorized,
        |  CAST(ROUND(10000.0 * SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)
        |       / COUNT(*)) AS BIGINT) AS mem_bp
        |FROM g JOIN d USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q214_soft_dedup" ->
      s"""WITH g AS (SELECT doc_id, source, unnest($Shingle3Sql) AS g
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY 1),
        |a AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(df) AS BIGINT) AS sum_df
        |      FROM g JOIN f USING (g) GROUP BY 1, 2)
        |SELECT doc_id, source, n_grams, sum_df,
        |  CAST(ROUND(1000.0 * sum_df / n_grams) AS BIGINT) AS commonness_milli,
        |  CAST(ROUND(10000.0 * n_grams / sum_df) AS BIGINT) AS weight_bp
        |FROM a ORDER BY doc_id""".stripMargin,
    "q204_substring_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(ws) - ${SpanGramWords - 1}, 0))) AS pos,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - ${SpanGramWords - 1}, 0)),
        |      i -> CAST('0x' || substring(md5(
        |             array_to_string(ws[i:i+${SpanGramWords - 1}], ' ')), 1, 15) AS BIGINT))) AS g
        |  FROM w),
        |d AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |p AS (SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM g JOIN d USING (g))
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + ${SpanGramWords - 1} AS BIGINT) AS span_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM p GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    "q106_canonical_docs" ->
      s"""WITH RECURSIVE $GramIxSql,
        |pairs AS (SELECT da AS u, db AS v FROM ix
        |  WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
        |reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
        |q AS (SELECT doc_id, ${TextAnalysis.QualityBpSql} AS q_bp FROM documents),
        |member AS (SELECT documents.doc_id,
        |    COALESCE(cl.cluster_id, documents.doc_id) AS cluster_id
        |  FROM documents LEFT JOIN cl ON documents.doc_id = cl.doc_id),
        |r AS (SELECT member.cluster_id, member.doc_id, q.q_bp,
        |    ROW_NUMBER() OVER (PARTITION BY member.cluster_id
        |      ORDER BY q.q_bp DESC, member.doc_id) AS rn
        |  FROM member JOIN q ON member.doc_id = q.doc_id)
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, doc_id,
        |  CAST(q_bp AS BIGINT) AS q_bp, (rn = 1) AS canonical
        |FROM r ORDER BY cluster_id, doc_id""".stripMargin,
    "q86_edit_distance" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |        split_part(text, ' ', 1) AS w1, left(text, 48) AS pre
        |      FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.lang = b.lang AND a.w1 = b.w1
        |  AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 24
        |WHERE levenshtein(a.pre, b.pre) <= 30
        |ORDER BY a_id, b_id""".stripMargin,
    "q313_record_linkage" ->
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nat,
        |    c_mktsegment AS seg,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
        |dd AS (SELECT n, GREATEST(1, 2200000 // GREATEST(n, 1)) AS delta FROM nn),
        |un AS (SELECT SUM(cnt*(cnt-1)) AS num FROM
        |  (SELECT COUNT(*) AS cnt FROM c GROUP BY nat)),
        |us AS (SELECT SUM(cnt*(cnt-1)) AS num FROM
        |  (SELECT COUNT(*) AS cnt FROM c GROUP BY seg)),
        |ww AS (SELECT delta,
        |  CAST(ROUND(1000.0*LN(0.92/(un.num*1.0/(n*1.0*(n-1))))/LN(2)) AS BIGINT) AS wnat_a,
        |  CAST(ROUND(1000.0*LN((1.0-0.92)/(1.0-un.num*1.0/(n*1.0*(n-1))))/LN(2)) AS BIGINT) AS wnat_d,
        |  CAST(ROUND(1000.0*LN(0.85/(us.num*1.0/(n*1.0*(n-1))))/LN(2)) AS BIGINT) AS wseg_a,
        |  CAST(ROUND(1000.0*LN((1.0-0.85)/(1.0-us.num*1.0/(n*1.0*(n-1))))/LN(2)) AS BIGINT) AS wseg_d,
        |  CAST(ROUND(1000.0*LN(0.88/((delta/4.0)/1100000.0))/LN(2)) AS BIGINT) AS wbal_a,
        |  CAST(ROUND(1000.0*LN((1.0-0.88)/(1.0-(delta/4.0)/1100000.0))/LN(2)) AS BIGINT) AS wbal_d
        |  FROM dd, un, us),
        |near AS (SELECT a.id AS a_id, b.id AS b_id, a.nat AS a_nat,
        |    b.nat AS b_nat, a.seg AS a_seg, b.seg AS b_seg,
        |    a.bal AS a_bal, b.bal AS b_bal
        |  FROM c a, c b, dd
        |  WHERE b.bal - a.bal > 0 AND b.bal - a.bal <= delta),
        |ties AS (SELECT id AS a_id, LEAD(id) OVER w AS b_id,
        |    nat AS a_nat, LEAD(nat) OVER w AS b_nat,
        |    seg AS a_seg, LEAD(seg) OVER w AS b_seg,
        |    bal AS a_bal, bal AS b_bal
        |  FROM c WINDOW w AS (PARTITION BY bal ORDER BY id)),
        |pu AS (SELECT * FROM near
        |  UNION ALL SELECT * FROM ties WHERE b_id IS NOT NULL),
        |pairs AS (SELECT a_id, b_id,
        |    (a_nat = b_nat) AS agree_nat, (a_seg = b_seg) AS agree_seg,
        |    (b_bal - a_bal <= delta // 8) AS agree_bal, ww.*
        |  FROM pu, ww)
        |SELECT a_id, b_id, agree_nat, agree_seg, agree_bal,
        |  (CASE WHEN agree_nat THEN wnat_a ELSE wnat_d END +
        |   CASE WHEN agree_seg THEN wseg_a ELSE wseg_d END +
        |   CASE WHEN agree_bal THEN wbal_a ELSE wbal_d END) AS weight_milli,
        |  CASE WHEN (CASE WHEN agree_nat THEN wnat_a ELSE wnat_d END +
        |   CASE WHEN agree_seg THEN wseg_a ELSE wseg_d END +
        |   CASE WHEN agree_bal THEN wbal_a ELSE wbal_d END) >= 4000 THEN 'match'
        |    WHEN (CASE WHEN agree_nat THEN wnat_a ELSE wnat_d END +
        |   CASE WHEN agree_seg THEN wseg_a ELSE wseg_d END +
        |   CASE WHEN agree_bal THEN wbal_a ELSE wbal_d END) >= 0 THEN 'possible'
        |    ELSE 'non-match' END AS verdict
        |FROM pairs ORDER BY a_id, b_id""".stripMargin,
    "q203_incremental_dedup" ->
      s"""WITH $GramIxSql
        |SELECT CASE WHEN da % 2 = 1 THEN da ELSE db END AS batch_doc,
        |  CASE WHEN da % 2 = 1 THEN db ELSE da END AS index_doc,
        |  CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |FROM ix WHERE da % 2 <> db % 2
        |  AND ROUND(10000.0 * i / (la + lb - i)) >= 5000
        |ORDER BY batch_doc, index_doc""".stripMargin,
    "q23_minhash_dedup" ->
      s"""WITH $GramIxSql
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |FROM ix WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q24_simhash_dedup" ->
      s"""WITH t AS (SELECT doc_id,
        |    list_transform(string_split(text, ' '),
        |      w -> CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)) AS th_arr
        |  FROM documents),
        |  s AS (SELECT doc_id, $SimHashSql AS simhash FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q52_neardup_clusters" ->
      s"""WITH RECURSIVE $GramIxSql,
        |pairs AS (SELECT da AS u, db AS v FROM ix
        |  WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
        |reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node)
        |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM cl ORDER BY doc_id""".stripMargin,
    "q25_ngram_jaccard_blocked" ->
      s"""WITH $Gram2IxSql
        |SELECT source, da AS doc_a, db AS doc_b,
        |  CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |FROM ix2 WHERE ROUND(10000.0 * i / (la + lb - i)) >= 3000
        |ORDER BY source, doc_a, doc_b""".stripMargin,
    "q73_prefix_jaccard" ->
      s"""WITH $GramIxSql
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |FROM ix WHERE 2 * i >= la + lb - i
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q306_survivor_bias" ->
      s"""WITH RECURSIVE $GramIxSql,
        |pairs AS (SELECT da AS u, db AS v FROM ix
        |  WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
        |reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
        |qd AS (SELECT doc_id, n_chars, ${TextAnalysis.QualityBpSql} AS q_bp
        |       FROM documents),
        |st AS (SELECT qd.doc_id, qd.n_chars, qd.q_bp,
        |    CASE WHEN cl.cluster_id IS NULL THEN 'singleton'
        |         WHEN ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
        |           ORDER BY qd.q_bp DESC, qd.doc_id) = 1
        |           AND cl.cluster_id IS NOT NULL THEN 'kept'
        |         ELSE 'dropped' END AS status
        |  FROM qd LEFT JOIN cl ON cl.doc_id = qd.doc_id)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(1000.0 * SUM(q_bp) / COUNT(*)) AS BIGINT)
        |    AS mean_quality_milli_bp,
        |  CAST(ROUND(1000.0 * SUM(n_chars) / COUNT(*)) AS BIGINT)
        |    AS mean_chars_milli
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,
    "q304_pair_mutation_map" ->
      s"""WITH $GramIxSql,
        |pr AS (SELECT da, db,
        |    CAST(ROUND(10000.0 * i / (la + lb - i)) AS BIGINT) AS j_bp
        |  FROM ix WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cmp AS (SELECT pr.da AS doc_a, pr.db AS doc_b, pr.j_bp,
        |    CAST(len(a.t) AS BIGINT) AS len_a, CAST(len(b.t) AS BIGINT) AS len_b,
        |    list_filter(generate_series(1, least(len(a.t), len(b.t))),
        |      j -> a.t[j] <> b.t[j]) AS dps
        |  FROM pr JOIN tk a ON a.doc_id = pr.da JOIN tk b ON b.doc_id = pr.db)
        |SELECT doc_a, doc_b, j_bp, len_a, len_b,
        |  CAST(len(dps) AS BIGINT) AS n_pos_diff,
        |  CAST(COALESCE(dps[1], 0) AS BIGINT) AS first_diff_pos,
        |  CAST(COALESCE(dps[-1], 0) AS BIGINT) AS last_diff_pos
        |FROM cmp ORDER BY doc_a, doc_b""".stripMargin,
    "q291_cluster_chain_audit" ->
      s"""WITH RECURSIVE $GramIxSql,
        |pairs AS (SELECT da AS u, db AS v FROM ix
        |  WHERE ROUND(10000.0 * i / (la + lb - i)) >= 5000),
        |edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
        |reach(node, lab) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
        |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |       FROM cl GROUP BY 1),
        |mp AS (SELECT a.cluster_id, a.doc_id AS pa, b.doc_id AS pb
        |       FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id
        |         AND a.doc_id < b.doc_id),
        |pj AS (SELECT mp.cluster_id,
        |    COALESCE(CAST(ROUND(10000.0 * ix.i / (ix.la + ix.lb - ix.i))
        |      AS BIGINT), 0) AS j_bp
        |  FROM mp LEFT JOIN ix ON ix.da = mp.pa AND ix.db = mp.pb)
        |SELECT CAST(pj.cluster_id AS BIGINT) AS cluster_id, sz.cluster_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN j_bp < 5000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_weak_pairs,
        |  MIN(j_bp) AS min_j_bp, MAX(j_bp) AS max_j_bp
        |FROM pj JOIN sz ON sz.cluster_id = pj.cluster_id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
}
