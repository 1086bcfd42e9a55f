package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress drive for the LLM-pipeline layer: synthesizes a
  * deterministic corpus 20× the sf0.1 bench tables (100k documents
  * with 10% planted near-dups, 20k embeddings) and times dedup,
  * curation, contamination, sharding and similarity search against
  * it, with detection-rate invariants so a silently-degenerate plan
  * fails loudly.
  *
  *   sbt "runMain graft.llm.LlmScaleBench"
  *
  * Prints one JSON line of stage timings. The point is evidence the
  * candidate-generation plans hold past bench size: every pair-finding
  * stage stays an equi-join on a bucket/blocking key whose output is
  * ~|true pairs|, not |corpus|².
  */
object LlmScaleBench {

  private def t[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  final val NDocs = 100000L
  final val NVecs = 20000L
  final val Vocab = 500

  /** Deterministic synthetic corpus with planted near-dups: ids ≡ 1
    * (mod 10) are one-word mutations of their predecessor (3-gram
    * Jaccard ≈ 0.9). Same column shape as the harness `documents`
    * table; used by the 20× stress ONLY — the sf1.0 bench generator
    * uses [[graft.Sf1Gen.synthHarnessDocuments]] instead, which holds
    * the harness corpus's per-doc token distribution constant
    * (round-14 directive #1: this corpus's ~5 500-token vocabulary vs
    * the harness's 31 made vocabulary-keyed shuffles grow ×177 with
    * corpus SHAPE, not size). The wider vocab stays right for the
    * stress: its detection-rate invariants need long docs and
    * high-Jaccard mutants.
    */
  def synthDocuments(spark: SparkSession, nDocs: Long, path: String): Unit = {
    import spark.implicits._
    val langs = Array("en", "fr", "de", "es", "pt")
    spark.range(nDocs).as[Long].mapPartitions(_.map { id =>
      val seed = if (id % 10 == 1) id - 1 else id
      val n = 60 + (seed % 40).toInt
      val words = new Array[String](n)
      var h = seed * 0x9e3779b97f4a7c15L + 0x1405d2f0a3c1e7b9L
      var j = 0
      while (j < n) {
        h = h * 6364136223846793005L + 1442695040888963407L
        words(j) = "w" + ((h >>> 33) % Vocab)
        j += 1
      }
      if (id % 10 == 1) words(((id % 7) + 1).toInt) = "mut" + id
      (id, words.mkString(" "), langs((id % 5).toInt), "src" + (id % 20))
    }).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic 64-dim pseudo-random embeddings, label decorrelated
    * from vec_id mod 5 (testdata parity: int labels, 10 of them).
    *
    * PLANTED near-dup family (round-16 directive #3 — pure
    * pseudo-random vectors gave the ≥ 0.99-cosine detector q30
    * nothing to find, so its sf1.0 oracle row passed vacuously on
    * empty): id ≡ 49 (mod 2500) replays id−7's vector plus a tiny
    * own-id perturbation (±0.005/dim vs ‖v‖ ≈ 2.31 → cosine
    * ≈ 0.99995, comfortably above the 0.99 gate AND far inside the
    * 4×8-plane SRP sketch family's certain-recall region — the q30
    * oracle is exact all-pairs, so a planted pair the deterministic
    * sketches missed would be a gate mismatch, not a recall stat).
    * id−7 ≡ 42 (mod 2500) is never itself planted; pairs are
    * disjoint; the family is n/2500 pairs — linear, and invisible to
    * every operator that doesn't look for ≥ 0.99 cosine (for
    * top-k/IVF/PQ consumers the mutant is just one more corpus
    * point whose exact scores both engines recompute).
    */
  def synthEmbeddings(spark: SparkSession, nVecs: Long, path: String): Unit = {
    import spark.implicits._
    spark.range(nVecs).as[Long].mapPartitions(_.map { id =>
      val isNd = id % 2500 == 49
      val seed = if (isNd) id - 7 else id
      val v = new Array[Float](64)
      var h = seed * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL
      var j = 0
      while (j < 64) {
        h = h * 6364136223846793005L + 1442695040888963407L
        v(j) = ((h >>> 33).toDouble / (1L << 31).toDouble - 0.5).toFloat
        j += 1
      }
      if (isNd) {
        var p = id * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL
        j = 0
        while (j < 64) {
          p = p * 6364136223846793005L + 1442695040888963407L
          v(j) = (v(j) +
            0.01 * ((p >>> 33).toDouble / (1L << 31).toDouble - 0.5)).toFloat
          j += 1
        }
      }
      (id, v, ((id / 7) % 10).toInt)
    }).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(path)
  }

  /** Synthetic event stream for the analytics-family stress (~2.4M
    * rows over 60 calendar days) with two PLANTED invariants:
    *
    *  - every even-id event has an odd-id exact duplicate, so q294's
    *    target margins EQUAL its seed table and IPF must be
    *    stationary at factor 1 — fitted_e6 ≡ seed_n·1e6 in all cells;
    *  - value/volume follow a constructed stratum-mix reversal
    *    (purchase beats click inside EVERY weekday, loses pooled), so
    *    q297 must flag sign_flip on every stratum and never on the
    *    pooled row.
    *
    * Deterministic, no RNG: volumes and values are functions of the
    * ISO weekday alone.
    */
  def synthEvents(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val secsPerDay = 86400L
    val base = java.time.LocalDate.of(2024, 1, 1) // a Monday, isodow 1
    val baseEpoch = base.toEpochDay * secsPerDay
    spark.range(60).as[Long].mapPartitions(_.flatMap { day =>
      val dow = ((day % 7) + 1).toInt // day 0 is Monday
      val weekdayish = dow <= 5
      // weekend totals differ from weekday totals (30 400 vs 40 400
      // rows/day): a constant daily-count series has zero variance
      // and legitimately breaks the ACF denominator — found by this
      // stress when both volumes summed identically
      val nPurch = if (weekdayish) 200 else 15000
      val nClick = if (weekdayish) 20000 else 200
      val vPurch = if (weekdayish) 10.0 else 2.0
      val vClick = if (weekdayish) 9.0 else 1.0
      val dayBase = day * 100000L
      def rows(n: Int, off: Long, tpe: String, v: Double) =
        (0 until n).iterator.flatMap { i =>
          val seedId = (dayBase + off + i) * 2
          val ts = new java.sql.Timestamp(
            (baseEpoch + day * secsPerDay + 3600 + i % 43200) * 1000L)
          // even id + its odd exact duplicate (the IPF margin plant)
          Iterator((seedId, ts, (seedId / 2) % 997, tpe, v, """{"k": 1}"""),
            (seedId + 1, ts, (seedId / 2) % 997, tpe, v, """{"k": 1}"""))
        }
      rows(nPurch, 0L, "purchase", vPurch) ++
        rows(nClick, 30000L, "click", vClick)
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("llm_scale").toString

    val (_, tDocs) = t(synthDocuments(spark, NDocs, s"$dir/documents.parquet"))
    val (_, tEmb) = t(synthEmbeddings(spark, NVecs, s"$dir/embeddings.parquet"))
    val (_, tEv) = t(synthEvents(spark, s"$dir/events.parquet"))

    def drive(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def q(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)

    // planted near-dups: one pair per id ≡ 1 (mod 10)
    val nPlanted = NDocs / 10
    val (mhPairs, tMinhash) = t(
      Dedup.minhashPairs(spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"text")).count())
    require(mhPairs >= (nPlanted * 95) / 100,
      s"minhash-LSH must find ≥95% of $nPlanted planted near-dup pairs, got $mhPairs")

    // clustering closes the planted pairs transitively; every planted
    // pair is disjoint (2·nPlanted distinct docs), so the component
    // count must be ≥95% of nPlanted and every component has size ≥ 2
    val (ccClusters, tCluster) = t {
      val labels = Dedup.connectedComponents(
        Dedup.minhashPairs(spark.read.parquet(s"$dir/documents.parquet")
          .select($"doc_id", $"text")))
      labels.select($"label").distinct().count()
    }
    require(ccClusters >= (nPlanted * 95) / 100,
      s"clustering must keep ≥95% of $nPlanted planted components, got $ccClusters")
    graft.Caches.releaseAll()

    // incremental (batch-vs-index) dedup: every planted pair is
    // (odd mutant, even seed), so the cross-parity join must find the
    // same ≥95% the self-join does — while never pairing index×index
    val (incPairs, tInc) = t(drive(q("q203_incremental_dedup")))
    require(incPairs >= (nPlanted * 95) / 100,
      s"incremental dedup must find ≥95% of $nPlanted cross-split pairs, got $incPairs")
    graft.Caches.releaseAll()

    // the DETERMINISTIC dedup path: prefix filtering is exact, so it
    // must find every planted pair (J ≈ 0.9 ≥ 0.5), not 95% of them
    val (ppPairs, tPrefix) = t(drive(q("q73_prefix_jaccard")))
    require(ppPairs >= nPlanted,
      s"prefix-filter join is exact: must find all $nPlanted planted pairs, got $ppPairs")
    graft.Caches.releaseAll()

    val stages = Seq[(String, () => Long)](
      "repetition_stats" -> (() => drive(q("q51_repetition_stats"))),
      "token_chunks" -> (() => drive(q("q54_token_chunks"))),
      "tfidf_keywords" -> (() => drive(q("q53_tfidf_keywords"))),
      "exact_dedup" -> (() => drive(q("q20_exact_dedup"))),
      "corpus_curation" -> (() => drive(q("q39_corpus_curation"))),
      "contamination" -> (() => drive(q("q44_contamination"))),
      "mixture_rates" -> (() => drive(q("q42_mixture_rates"))),
      "stratified_sample" -> (() => drive(q("q41_stratified_sample"))),
      "weighted_sample" -> (() => drive(q("q201_weighted_sample"))),
      "training_order" -> (() => drive(q("q202_training_order"))),
      "shard_pack" -> (() => drive(q("q45_shard_pack"))),
      "cdc_chunks" -> (() => drive(q("q197_cdc_chunks"))),
      "rrf_fusion" -> (() => drive(q("q200_rrf_fusion"))),
      "vocab_coverage" -> (() => drive(q("q89_vocab_coverage"))),
      "bpe_merges" -> (() => drive(q("q111_bpe_merges"))),
      "rare_bigram_rate" -> (() => drive(q("q112_rare_bigram_rate"))),
      "ngram_novelty" -> (() => drive(q("q218_ngram_novelty"))),
      "split_leakage" -> (() => drive(q("q236_split_leakage"))),
      "source_dedup_matrix" -> (() => drive(q("q220_source_dedup_matrix"))),
      "threshold_sweep" -> (() => drive(q("q225_dedup_threshold_sweep"))),
      "lsh_recall_curve" -> (() => drive(q("q234_lsh_recall_curve"))),
      "dup_profile" -> (() => drive(q("q235_dup_profile"))),
      "winnow_fingerprints" -> (() => drive(q("q226_winnowing_fingerprints"))),
      "excess_loss_weights" -> (() => drive(q("q238_excess_loss_weights"))),
      "shard_manifest" -> (() => drive(q("q239_shard_manifest"))),
      "rare_token_retention" -> (() => drive(q("q240_rare_token_retention"))),
      "heaps_law" -> (() => drive(q("q231_heaps_law"))),
      "zipf_fit" -> (() => drive(q("q232_zipf_fit"))),
      "term_burstiness" -> (() => drive(q("q233_term_burstiness"))),
      "epoch_schedule" -> (() => drive(q("q230_epoch_schedule"))),
      "temperature_mixture" -> (() => drive(q("q221_temperature_mixture"))),
      "truncation_loss" -> (() => drive(q("q223_truncation_loss"))),
      "dp_noisy_topk" -> (() => drive(q("q224_dp_noisy_topk"))),
      "dataset_card" -> (() => drive(q("q229_dataset_card"))),
      // exact-denominator family: ann_exact_shared pays the one
      // brute-force scan into the shared exactTopK memo; knn_probe /
      // ann_hubness / sq8 / srp / ivf_probe_sweep then reuse the
      // persisted ≤|q|·k result instead of each re-running the
      // O(|q|·|corpus|) scan (the round-10 verdict's 78.5 s
      // triple-recompute).
      "ann_exact_shared" -> (() => drive(Similarity.exactTopK(spark, dir))),
      "knn_probe" -> (() => drive(q("q237_knn_probe"))),
      "ann_hubness" -> (() => drive(q("q222_ann_hubness"))),
      "cluster_purity" -> (() => drive(q("q227_cluster_purity"))),
      "embedding_drift" -> (() => drive(q("q219_embedding_drift"))),
      "source_divergence" -> (() => drive(q("q208_source_divergence"))),
      "dp_noisy_counts" -> (() => drive(q("q210_dp_noisy_counts"))),
      "distinct_ngrams" -> (() => drive(q("q212_distinct_ngrams"))),
      "filter_funnel" -> (() => drive(q("q213_filter_funnel"))),
      "repeat_epochs" -> (() => drive(q("q215_repeat_epochs"))),
      "tokenizer_fertility" -> (() => drive(q("q216_tokenizer_fertility"))),
      "bitext_margin" -> (() => drive(q("q211_bitext_margin"))),
      "ann_exact" -> (() => drive(q("q26_ann_topk"))),
      "ann_lsh" -> (() => drive(q("q27_ann_lsh"))),
      "product_quantization" -> (() => drive(q("q198_product_quantization"))),
      "pq_adc_topk" -> (() => drive(q("q199_pq_adc_topk"))),
      "embedding_neardup" -> (() => drive(q("q30_embedding_neardup"))),
      "embedding_outliers" -> (() => drive(q("q46_embedding_outliers"))),
      // end-of-round-10 operators with corpus/embedding-scale stages
      "gopher_rules" -> (() => drive(q("q244_gopher_rules"))),
      "mattr_diversity" -> (() => drive(q("q245_mattr_diversity"))),
      "heldout_surprisal" -> (() => drive(q("q246_heldout_surprisal"))),
      "sq8_adc_recall" -> (() => drive(q("q247_sq8_adc_recall"))),
      "srp_rerank" -> (() => drive(q("q248_srp_rerank"))),
      "ivf_probe_sweep" -> (() => drive(q("q249_ivf_probe_sweep"))),
      "mann_whitney" -> (() => drive(q("q250_mann_whitney"))),
      "isotonic_calibration" -> (() => drive(q("q253_isotonic_calibration"))),
      "conformal_interval" -> (() => drive(q("q255_conformal_interval"))),
      "psi_drift" -> (() => drive(q("q263_psi_drift"))),
      "mutual_info" -> (() => drive(q("q264_mutual_info"))),
      "nfc_audit" -> (() => drive(q("q266_nfc_audit"))),
      "script_mix" -> (() => drive(q("q267_script_mix"))),
      // round-11 operators
      "hard_negatives" -> (() => drive(q("q281_hard_negatives"))),
      "ivfpq_topk" -> (() => drive(q("q287_ivfpq_topk"))),
      "cluster_split" -> (() => drive(q("q282_cluster_split"))),
      "decontam_spans" -> (() => drive(q("q283_decontam_spans"))),
      "mirror_clusters" -> (() => drive(q("q284_mirror_clusters"))),
      "embedding_standardize" -> (() => drive(q("q285_embedding_standardize"))),
      "eval_ngram_overlap" -> (() => drive(q("q286_eval_ngram_overlap"))),
      "robust_mean" -> (() => drive(q("q273_robust_mean"))),
      "robust_scale" -> (() => drive(q("q274_robust_scale"))),
      "readability" -> (() => drive(q("q277_readability"))),
      "anisotropy" -> (() => drive(q("q278_anisotropy"))),
      "wasserstein" -> (() => drive(q("q279_wasserstein"))),
      // round-11b: valuation / eval / index-maintenance layer
      "knn_shapley" -> (() => drive(q("q288_knn_shapley"))),
      "kcenter_coreset" -> (() => drive(q("q289_kcenter_coreset"))),
      "ivf_append_drift" -> (() => drive(q("q290_ivf_append_drift"))),
      "retrieval_metrics" -> (() => drive(q("q292_retrieval_metrics"))),
      "matryoshka_recall" -> (() => drive(q("q293_matryoshka_recall"))),
      "geometric_median" -> (() => drive(q("q296_geometric_median"))),
      "label_noise" -> (() => drive(q("q298_label_noise"))),
      "dp_quantile" -> (() => drive(q("q299_dp_quantile"))),
      "maxsim_retrieval" -> (() => drive(q("q300_maxsim_retrieval"))),
      // the serving composition beside the exact scan above: coarse
      // IVF probe bounds the candidate stream to nprobe/k of the
      // corpus before the 64-cell late-interaction scorer runs — the
      // q300-vs-q312 wall gap at this scale IS the serving argument
      "ann_maxsim" -> (() => drive(q("q312_ann_maxsim"))),
      "ql_retrieval" -> (() => drive(q("q295_ql_retrieval"))),
      "rank_correlation" -> (() => drive(q("q301_rank_correlation"))),
      "residual_quantization" -> (() => drive(q("q302_residual_quantization"))),
      // events-analytics family over the 2.4M-row synthetic stream:
      // each reduces to a calendar-bounded table before any window
      "changepoint" -> (() => drive(q("q252_changepoint"))),
      "cusum" -> (() => drive(q("q268_cusum"))),
      "seasonal_dow" -> (() => drive(q("q270_seasonal_dow"))),
      "acf" -> (() => drive(q("q257_acf"))),
      "json_extract" -> (() => drive(q("q275_json_extract"))),
      "covariate_balance" -> (() => drive(q("q309_covariate_balance"))),
      "nn_matching" -> (() => drive(q("q310_nn_matching"))),
      "semihard_negatives" -> (() => drive(q("q311_semihard_negatives"))),
      "survivor_bias" -> (() => drive(q("q306_survivor_bias"))),
      "knn_reciprocity" -> (() => drive(q("q307_knn_reciprocity"))),
      "source_quantiles" -> (() => drive(q("q308_source_quantiles"))),
      "pair_mutation_map" -> (() => drive(q("q304_pair_mutation_map"))),
      "threshold_opt" -> (() => drive(q("q305_threshold_opt"))))

    val timed = stages.map { case (name, f) =>
      val (rows, sec) = t(f())
      (name, rows, sec)
    }
    // contamination must catch planted pairs straddling the eval split
    val contamRows = timed.find(_._1 == "contamination").get._2
    require(contamRows > 0, "planted near-dups crossing the eval split must be flagged")
    // each planted near-dup pair shares most of its ~12 CDC chunks
    // verbatim (random 6-word windows from a 500-word vocab don't
    // collide), so the cross-doc repeated-chunk report must carry at
    // least one repeated chunk per planted pair
    val cdcRows = timed.find(_._1 == "cdc_chunks").get._2
    require(cdcRows >= nPlanted,
      s"CDC must surface ≥ $nPlanted repeated chunks from planted dups, got $cdcRows")

    // soft dedup: both members of a planted pair share ~90% of their
    // 3-grams (df ≥ 2), so their commonness must clear 1.5× while the
    // untouched 80% of the corpus stays near 1.0 — the weighting
    // actually separates duplicated content at 20× scale
    val (softHigh, tSoft) = t(q("q214_soft_dedup")
      .filter($"commonness_milli" >= 1500).count())
    require(softHigh >= nPlanted * 18 / 10,
      s"soft dedup must upweight both members of ≥90% of $nPlanted planted pairs, got $softHigh")
    graft.Caches.releaseAll()

    // winnowing guarantee at 20×: every planted pair shares runs far
    // longer than w+n-1 = 8 words, so the MOSS candidate join must
    // surface ≥95% of the planted pairs from its ~2/(w+1)-sparse index
    val (winnowPairs, tWinnow) = t(q("q228_winnow_candidates")
      .filter($"doc_a" % 10 === 0 && $"doc_b" === $"doc_a" + 1).count())
    require(winnowPairs >= (nPlanted * 95) / 100,
      s"winnowing candidates must surface ≥95% of $nPlanted planted pairs, got $winnowPairs")
    graft.Caches.releaseAll()

    // memorization: both members of a planted pair are ≥90% covered by
    // shared 8-grams, so ≥1.9·nPlanted docs must score mem_bp ≥ 5000
    val (memHigh, tMem) = t(q("q217_memorization_rate")
      .filter($"mem_bp" >= 5000).count())
    require(memHigh >= nPlanted * 18 / 10,
      s"memorization rate must flag both members of ≥90% of planted pairs, got $memHigh")
    graft.Caches.releaseAll()

    // FIM gate is hash-driven: every synth doc clears the 20-char
    // floor, so the psm share must sit at the 50% gate ±5 points
    val (psmRows, tFim) = t(q("q259_fim_transform")
      .filter($"mode" === "psm").count())
    require(psmRows > NDocs * 45 / 100 && psmRows < NDocs * 55 / 100,
      s"FIM psm share off the hash gate: $psmRows of $NDocs")
    graft.Caches.releaseAll()

    // matryoshka anchor at 20×: the d=64 row is the exact baseline by
    // construction — anything but exactly 1e6 means the truncation
    // sweep's own ranking drifted from the shared exact memo
    val (anchor, tMat) = t(q("q293_matryoshka_recall")
      .filter($"dim" === 64L).collect()(0).getLong(3))
    require(anchor == 1000000L, s"matryoshka d=64 recall must be 1e6, got $anchor")
    graft.Caches.releaseAll()

    // chain audit at 20×: planted near-dups are isolated PAIRS —
    // every cluster has exactly one intra-pair and no chain-only
    // (weak) pairs; a nonzero weak count means CC glued strangers
    val (weakPairs, tChain) = t(q("q291_cluster_chain_audit")
      .agg(sum($"n_weak_pairs")).collect()(0).getLong(0))
    require(weakPairs == 0L,
      s"planted pair-only corpus must have zero chain-weak pairs, got $weakPairs")
    graft.Caches.releaseAll()

    // IPF stationarity at 2.4M events: odd ids exactly duplicate even
    // ids, so target margins EQUAL the seed table and every fitted
    // cell must be exactly seed_n·1e6 (any drift = a rescale bug)
    val (ipfBad, tIpf) = t(graft.queries.Analytics
      .q294_ipf_margins(spark, dir)
      .filter($"fitted_e6" =!= $"seed_n" * 1000000L).count())
    require(ipfBad == 0L, s"IPF must be stationary on duplicated margins, $ipfBad cells off")
    graft.Caches.releaseAll()

    // Simpson audit at 2.4M events: the constructed mix reversal must
    // flag EVERY weekday stratum and never the pooled row
    val simpson = graft.queries.Analytics
      .q297_simpson_paradox(spark, dir).collect()
    require(simpson.filter(_.getLong(0) > 0).forall(_.getBoolean(6)),
      "every stratum must disagree with the pooled direction")
    require(!simpson.find(_.getLong(0) == 0L).get.getBoolean(6),
      "the pooled row must not flag itself")
    graft.Caches.releaseAll()

    // rendezvous movement conservation at 20×: every doc that leaves
    // an old shard lands in the new one, and old shards receive none
    val hrwRows = graft.operators.ScaleOps
      .q303_rendezvous_shards(spark, dir).collect()
    val movedSum = hrwRows.map(_.getLong(3)).sum
    val newShard = hrwRows.find(_.getLong(0) == 10L).get
    require(newShard.getLong(1) == 0L && newShard.getLong(2) == movedSum,
      s"HRW movement must conserve into the new shard: $movedSum vs ${newShard.getLong(2)}")
    hrwRows.filter(_.getLong(0) < 10L).foreach { r =>
      require(r.getLong(2) == r.getLong(1) - r.getLong(3),
        s"old shard ${r.getLong(0)} received arrivals")
    }
    graft.Caches.releaseAll()

    // leakage-free split at 20×: the three splits must cover every doc
    // exactly once, and NO planted near-dup pair may straddle a split
    // (both members share a CC cluster id by construction — a split
    // count mismatch here means the cluster keying broke)
    val splitDocs = timed.find(_._1 == "cluster_split").get._2
    val (splitTotal, tSplitTotal) = t(q("q282_cluster_split")
      .agg(sum($"n_docs")).head.getLong(0))
    require(splitTotal == NDocs,
      s"cluster split must cover all $NDocs docs exactly once, got $splitTotal")
    require(splitDocs == 3, s"expected 3 split rows, got $splitDocs")
    graft.Caches.releaseAll()

    // decontamination at 20×: planted pairs straddling the eval split
    // (partner ids differ by 1, EvalModulus = 17 is odd, so ~2/17 of
    // the 10k planted pairs have exactly one eval member) must surface
    // train-side spans
    val decontamSpans = timed.find(_._1 == "decontam_spans").get._2
    require(decontamSpans >= nPlanted / 17,
      s"planted pairs straddling the eval split must yield ≥ ${nPlanted / 17} " +
        s"decontamination spans, got $decontamSpans")

    // bootstrap CIs must be ordered for every source at 20×
    val (badCi, tCi) = t(q("q254_bootstrap_ci")
      .filter($"lo_milli" > $"hi_milli").count())
    require(badCi == 0, s"$badCi sources with inverted bootstrap CI")
    graft.Caches.releaseAll()

    // preference pairs: margins non-negative, endpoints distinct
    val (badPref, tPref) = t(q("q260_preference_pairs")
      .filter($"margin_bp" < 0 || $"chosen_id" === $"rejected_id").count())
    require(badPref == 0, s"$badPref malformed preference pairs")
    graft.Caches.releaseAll()

    val json = (Seq(("synth_docs", -1L, tDocs), ("synth_embeddings", -1L, tEmb),
      ("synth_events", -1L, tEv),
      ("ipf_stationary", ipfBad, tIpf),
      ("minhash_pairs", mhPairs, tMinhash),
      ("neardup_clusters", ccClusters, tCluster),
      ("incremental_dedup_pairs", incPairs, tInc),
      ("prefix_jaccard_pairs", ppPairs, tPrefix),
      ("soft_dedup_upweighted", softHigh, tSoft),
      ("winnow_planted_pairs", winnowPairs, tWinnow),
      ("memorization_flagged", memHigh, tMem),
      ("fim_psm_rows", psmRows, tFim),
      ("matryoshka_anchor", anchor, tMat),
      ("chain_weak_pairs", weakPairs, tChain),
      ("cluster_split_total", splitTotal, tSplitTotal),
      ("bootstrap_ci_ordered", badCi, tCi),
      ("preference_pairs_clean", badPref, tPref)) ++ timed)
      .map { case (k, rows, sec) =>
        s""""$k":{"rows":$rows,"sec":${math.round(sec * 1000) / 1000.0}}"""
      }
    println(s"""{"metric":"llm_scale","docs":$NDocs,"vecs":$NVecs,"stages":{${json.mkString(",")}}}""")
    Similarity.releaseShared()
    spark.stop()
  }
}
