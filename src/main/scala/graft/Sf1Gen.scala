package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1.0 table generator: materialize a 10× scale-up of the sf0.1
  * harness tables, so the headline operators can be run (`graft.Verify`)
  * at a scale where their plans, not their fixed costs, dominate.
  *
  *   sbt "runMain graft.Sf1Gen"          # → target/sf1.0
  *
  * Design:
  *  - TPC-H-ish tables replicate the REAL sf0.1 data 10× with a
  *    uniform +r·1e8 key offset per replica on every key column —
  *    each replica keeps its internal referential integrity
  *    (orders→customer, lineitem→orders/part/supplier) while distinct
  *    key cardinality, join fan-in and group counts all grow 10×,
  *    exactly how a bigger TPC-H SF behaves. Non-key columns are
  *    untouched, so value distributions (dates, prices, flags) match
  *    the source scale point-for-point.
  *  - `region`/`nation` are fixed dimensions — copied once, as at
  *    every TPC-H SF.
  *  - `documents` SYNTHESIZE at 10× with a HARNESS-SHAPED corpus
  *    (round-14 directive #1) instead of replicating: text replicas
  *    of the same doc would make every doc a 10-way near-dup cluster,
  *    turning the dedup operators' true-pair output superlinear — not
  *    a fair scale-up. [[synthHarnessDocuments]] holds the PER-DOC
  *    token distribution of the sf0.1 harness corpus constant and
  *    grows only the doc COUNT, so vocabulary-keyed shuffles scale
  *    with corpus SIZE, not corpus shape (the previous LlmScaleBench
  *    corpus drew from ~5 500 distinct tokens vs the harness's 31 —
  *    ×177 vocabulary growth that needed its own scaling-audit
  *    allowlist family; this generator retires it).
  *  - `embeddings` SYNTHESIZE at 10× with the LlmScaleBench
  *    deterministic pseudo-random vectors (dimension and label shape
  *    match the harness).
  *
  * Writes nothing outside the repo (default target/sf1.0 is
  * git-ignored build output).
  */
object Sf1Gen {
  final val KeyOffset = 100000000L

  /** The sf0.1 harness corpus vocabulary, measured: 30 fixed words
    * (plus the `dup` near-dup marker = 31 distinct tokens at every
    * scale factor). Token-keyed operators' key spaces stay CONSTANT
    * across scale, exactly as in the driver's testdata.
    */
  final val HarnessVocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  /** The ten extra marker tokens of the rare-pair (R) family below.
    * A FIXED list — vocabulary stays constant across scale (41
    * distinct tokens incl. `dup`), which is the invariant that keeps
    * every vocabulary-keyed operator's key space scale-independent.
    */
  final val RareVocab: Array[String] =
    Array.tabulate(10)(i => s"rare$i")

  /** Harness-shaped document synthesis (round-14 directive #1): mimic
    * the /root/testdata documents tables point-for-point so sf0.1 →
    * sf1.0 is a pure 10× row scale-up with IDENTICAL per-doc shape —
    *
    *  - a fixed vocabulary (30 base words + `dup` marker + the 10
    *    [[RareVocab]] markers = 41 distinct tokens at EVERY scale),
    *  - uniform 10..100 tokens/doc (avg ~54 tokens / ~297 chars),
    *  - source = src{id%20} uniform, en-heavy lang mix
    *    (en≈41%, de/es/fr/zh ≈15% each — harness sf0.1 measured
    *    2059/702/744/742/753 of 5000),
    *  - THREE planted positive families (round-16 directive #3 —
    *    sf1.0 previously planted only cross-source pairs, so the
    *    source-blocked q25 and block-cosine q94 passed vacuously on
    *    zero rows):
    *
    *    CROSS-SOURCE (the original, 5% of docs — the harness rate):
    *    id ≡ 11 (mod 20) replays id−7's token stream with the LAST
    *    token replaced by `dup` — mutant odd (src11), seed even
    *    (src4): the q203 batch(odd)×index(even) cross-parity pair.
    *
    *    SAME-SOURCE (q25's positive path, 0.5% of docs): id ≡ 32
    *    (mod 200) replays id−20's stream with the LAST token replaced
    *    by vocab(0) — same source src12 by construction (32 ≡ 12 ≡
    *    id−20 (mod 20)), both ids EVEN so q203's batch×index join
    *    never sees the pair, and the seed (≡ 12 mod 200) is in no
    *    mutant class so its text is its own LCG stream. The marker
    *    is a BASE word, not `dup`: a `dup` marker here would hand
    *    src12 blocks a df ≈ 50 ≤ Q94DfCut token and make every
    *    S-mutant pair a q94 cosine-1.0 hit — a quadratic family.
    *    Replacing with a word the block already saturates keeps the
    *    family invisible to q94 (everything is df-cut) while q25's
    *    bigram Jaccard sees J₂ ≈ (b−2)/b ≫ 0.30.
    *
    *    RARE-TOKEN (q94's positive path, 2·n/2500 docs): anchor id ≡
    *    197 (mod 2500) writes a de Bruijn B(2,3) cycle
    *    (a a a b a b b b, repeated; length clamped ≥ 20) over the
    *    [[RareVocab]] pair ranked (id/2500) % 45 (the C(10,2)
    *    combinations). The cycle realizes ALL 8 3-gram types ≥ 2×
    *    each, so the mutant's trailing `dup` removes NO type and
    *    J₃ = 8/9 — inside banded LSH's certain-recall region (the
    *    q23 oracle is exact, so planted pairs must not sit where
    *    16×4 banding can deterministically miss; a plain 2-token
    *    alternation has only 2 shingle types and J₃ = 2/3). Distinct
    *    groups share ≤ 1 rare token: tf ∝ (5,3) per cycle, so
    *    cross-group cosine ≤ 25/34 ≈ 0.74 < q94's 0.82 and
    *    cross-group J = 0. Mutant id ≡ 217 (mod 2500) replays the
    *    anchor's stream, last token → `dup`, and INHERITS the
    *    anchor's lang so the pair shares q94's (lang, source) block
    *    (both are src17: 197 ≡ 217 ≡ 17 (mod 20)). Rare-token df per
    *    (lang, src17) block ≈ 2·(n/2500)/5 langs — ≤ Q94DfCut (150)
    *    up to n ≈ 90M docs, so the pair's tokens SURVIVE the df cut
    *    that removes the saturated 30-word base vocabulary from
    *    every block at sf1.0+. Both ids odd → q203 untouched. The
    *    family also feeds q25 (same-source bigram J₂ ≥ 0.3) and the
    *    exact/banded 3-gram families (J₃ = 8/9).
    *
    *    Family disjointness: mod-20 residues are 11 / 12 / 17 — no
    *    doc is in two families, and no family's seed is another's
    *    mutant.
    *
    * Deterministic (splitmix/LCG over the doc id), partition-shape
    * independent, no RNG state.
    */
  def synthHarnessDocuments(spark: SparkSession, nDocs: Long, path: String): Unit = {
    import spark.implicits._
    val vocab = HarnessVocab
    val rare = RareVocab
    spark.range(nDocs).as[Long]
      .mapPartitions(_.map { id =>
        val isDup = id % 20 == 11           // cross-source family
        val isSame = id % 200 == 32         // same-source family (q25)
        val isRareMut = id % 2500 == 217    // rare-pair mutant (q94)
        val isRareAnchor = id % 2500 == 197 // rare-pair anchor (q94)
        val seed =
          if (isDup) id - 7
          else if (isSame || isRareMut) id - 20
          else id
        var h = seed * 0x9e3779b97f4a7c15L + 0x1405d2f0a3c1e7b9L
        h = h * 6364136223846793005L + 1442695040888963407L
        val rawN = 10 + ((h >>> 33) % 91).toInt
        // R docs clamp length ≥ 20 so every de Bruijn 3-gram type
        // appears ≥ 2× (J₃ = 8/9 after the trailing mutation)
        val n = if (isRareAnchor || isRareMut) math.max(rawN, 20) else rawN
        val words = new Array[String](n)
        if (isRareAnchor || isRareMut) {
          // de Bruijn B(2,3) cycle over the rare pair ranked g in
          // the colex order of C(10,2)
          val g = ((seed / 2500) % 45).toInt
          var a = 0; var rem = g
          while (rem >= 9 - a) { rem -= 9 - a; a += 1 }
          val b = a + 1 + rem
          val cyc = Array(0, 0, 0, 1, 0, 1, 1, 1)
          var j = 0
          while (j < n) {
            words(j) = if (cyc(j % 8) == 0) rare(a) else rare(b)
            j += 1
          }
        } else {
          var j = 0
          while (j < n) {
            h = h * 6364136223846793005L + 1442695040888963407L
            words(j) = vocab(((h >>> 33) % vocab.length).toInt)
            j += 1
          }
        }
        // the harness convention: the marker REPLACES THE LAST token
        // (measured: 246/250 sf0.1 dup docs end in `dup`), so a
        // planted pair differs in exactly ONE 3-gram shingle —
        // J = (s−1)/(s+1) ≥ 0.78 even for the shortest docs, inside
        // the 16×4 banding's ~certain-recall region. A mid-doc
        // replacement alters 3 shingles and pushes 10-token pairs to
        // J ≈ 0.54, where banded LSH recall is ~0.76 and the exact
        // oracle visibly diverges (found live at sf1.0, round 15).
        if (isDup || isRareMut) words(n - 1) = "dup"
        else if (isSame) words(n - 1) = vocab(0)
        val lm = ((if (isRareMut) seed else id) % 34).toInt
        val lang =
          if (lm < 14) "en" else if (lm < 19) "de"
          else if (lm < 24) "es" else if (lm < 29) "fr" else "zh"
        (id, words.mkString(" "), lang, "src" + (id % 20))
      }).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/sf1.0"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SF1_REPS", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def replicate(table: String, keys: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until reps).map { r =>
        keys.foldLeft(base)((d, k) => d.withColumn(k, col(k) + lit(r * KeyOffset)))
          .select(base.columns.map(col): _*) // keep original column order
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))

    val nDocs = spark.read.parquet(s"$src/documents.parquet").count() * reps
    val nVecs = spark.read.parquet(s"$src/embeddings.parquet").count() * reps
    synthHarnessDocuments(spark, nDocs, s"$dst/documents.parquet")
    graft.llm.LlmScaleBench.synthEmbeddings(spark, nVecs, s"$dst/embeddings.parquet")

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s""""$t":${spark.read.parquet(s"$dst/$t.parquet").count()}""")
    println(s"""{"metric":"sf1_gen","src":"$src","dst":"$dst","reps":$reps,"rows":{${counts.mkString(",")}}}""")
    spark.stop()
  }
}
