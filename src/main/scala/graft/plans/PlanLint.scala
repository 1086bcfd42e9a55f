package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
import org.apache.spark.sql.functions.{approx_count_distinct, count, lit, struct}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Plan linter — the scale guardrails this library designs every
  * operator around, executable as a check: walk a physical plan and
  * flag the anti-patterns that are survivable at sf0.1 and fatal at
  * 100 TB. Intended for CI (specs assert `lint(df).isEmpty` on
  * shipped queries) and for interactive triage of new pipelines.
  *
  * Rules:
  *  - `cartesian-product`: CartesianProductExec, or a
  *    BroadcastNestedLoopJoin WITH a join condition — the silent
  *    fallback for a non-equi predicate (a missing equi-key or an
  *    un-bucketable range condition). A condition-less BNLJ is the
  *    idiomatic `crossJoin(broadcast(tiny))` — scalar stats, query
  *    batches, bounded dimension grids — and is not flagged.
  *  - `single-partition-window`: a WindowExec whose child exchange is
  *    SinglePartition — the global `Window.orderBy` funnel (one
  *    reducer does everything; q76/q92 show the scalable rewrites).
  *  - `unpruned-wide-scan`: a parquet scan materializing ≥ `wideScanFactor`×
  *    more columns than the table exposes... flagged when the read
  *    schema is the full table width while the query uses a strict
  *    subset (column pruning failed to reach the source).
  *
  * AQE note: adaptive plans and reused exchanges hide subtrees from
  * `children` — walked explicitly (same traversal as Observability).
  *
  * Findings are advisory triage, not a hard gate: three shipped
  * queries flag BY DESIGN and document why — q26/q199 (broadcast
  * query batch × corpus with the self-exclusion predicate as the
  * join condition; the LSH/IVF variants are the scale paths q26
  * calibrates, and q199's corpus side is the 32×-compressed PQ
  * codes), q42 (broadcast per-source stats with
  * an exclusion predicate), and the global-window-over-a-pre-bounded-
  * aggregate family (q83 deciles, q126 weekly backlog — inputs are
  * hundreds of rows by construction; q76 is the documented escape
  * hatch when they are not).
  */
object PlanLint {
  final case class Finding(rule: String, node: String)

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val tail = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case other => other.children.flatMap(walk)
    }
    p +: tail
  }

  def lint(df: DataFrame): Seq[Finding] = {
    val nodes = walk(df.queryExecution.executedPlan)
    val cartesian = nodes.collect {
      case c: CartesianProductExec =>
        Finding("cartesian-product", c.nodeName)
      case b: BroadcastNestedLoopJoinExec if b.condition.isDefined =>
        Finding("cartesian-product", b.nodeName)
    }
    val globalWindow = nodes.collect {
      case w: WindowExec
          if walk(w.child).exists {
            case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
            case _ => false
          } =>
        Finding("single-partition-window", w.nodeName)
    }
    val wideScan = nodes.collect {
      case s: FileSourceScanExec
          if s.relation.dataSchema.size >= 4 &&
            s.requiredSchema.size == s.relation.dataSchema.size &&
            df.schema.size * 2 < s.requiredSchema.size =>
        Finding("unpruned-wide-scan",
          s"${s.nodeName} reads ${s.requiredSchema.size} cols for a " +
            s"${df.schema.size}-col result")
    }
    cartesian ++ globalWindow ++ wideScan
  }

  /** Shipped-query allowlist for the plan-shape rules: flags allowed
    * ONLY where the operator documents them BY DESIGN — the
    * conditioned-broadcast baselines (q26's brute-force cosine and
    * its derivatives, q42's exclusion predicate) and the
    * global-window-over-a-pre-bounded-aggregate family (inputs are
    * ≤ hundreds of rows by construction; q76 is the escape hatch
    * when they are not). Read by PlanLintSpec, the CI gate.
    */
  val shippedAllowlist: Map[String, Set[String]] = Map(
    "q26_ann_topk" -> Set("cartesian-product"),
    // q345's recall denominator reuses q26's exact brute-force scan
    // (the shared exactTopK memo — self-exclusion ≠ predicate in the
    // BNLJ condition, the documented exact-eval family); the graph
    // build/search side is all equi-joins
    "q345_graph_ann_audit" -> Set("cartesian-product"),
    // q346/q349 carry the same exactTopK recall denominator as q345
    // (sweep rows / append-quality readout — EVAL cost, not serving);
    // sweeps, insert walk and re-cap are all equi-joins and
    // high-cardinality windows
    "q346_graph_beam_sweep" -> Set("cartesian-product"),
    "q349_graph_append_audit" -> Set("cartesian-product"),
    // q199 is q26's query-batch-attach shape over the 32×-compressed
    // PQ codes (self-exclusion predicate in the BNLJ condition)
    "q199_pq_adc_topk" -> Set("cartesian-product"),
    "q42_mixture_rates" -> Set("cartesian-product"),
    // la < lb over two ≤|langs| register tables — a bounded grid
    "q120_hll_set_algebra" -> Set("cartesian-product"),
    // anchors × the broadcast |sources|-row size table (S tiny by
    // construction) with the ≠-source exclusion in the BNLJ
    // condition — the rank-indexed sampler's only non-equi join
    "q122_negative_sampling" -> Set("cartesian-product"),
    // BH rank window + the totals/m/kstar 1-row broadcast attaches,
    // all over the |sources|-bounded arm table (≤ tens of rows)
    "q317_bh_fdr" ->
      Set("single-partition-window", "cartesian-product"),
    // q320's bt_rank window runs over the |sources|-bounded BT
    // strength table (the q317 convention; the duel scan itself is
    // one doc_id+1 equi-join, never windowed)
    "q320_bradley_terry" -> Set("single-partition-window"),
    // q321's dro_rank window ranks the |sources|-bounded weight
    // table (same convention); the corpus contributes one scan
    "q321_group_dro" -> Set("single-partition-window"),
    // q324's cumulative-count window runs over the DISTINCT
    // nonconformity-value table — bounded by the bp value space
    // (≤10 001 rows) at ANY corpus size, the q308/q68 value-domain
    // convention; the corpus contributes one cached scan. Its
    // n_cal/q̂ scalars attach as 1-row broadcast cross joins (the
    // q317 totals/kstar convention)
    "q324_conformal_coverage" ->
      Set("single-partition-window", "cartesian-product"),
    // q329 is q26's broadcast query-batch-attach shape over the
    // whitened vectors (self-exclusion ≠ predicate in the BNLJ
    // condition — the documented exact-eval family)
    "q329_whitened_recall" -> Set("cartesian-product"),
    // q330's variance-rank window runs over q285's 64-row per-dim
    // stats table — bounded by Dim at ANY corpus size
    "q330_opq_allocation" -> Set("single-partition-window"),
    "q83_ntile_dist" -> Set("single-partition-window"),
    // q83's global-NTILE-on-bounded-aggregate form + 10-row cum table
    "q159_lift_curve" -> Set("single-partition-window"),
    "q126_backlog" -> Set("single-partition-window"),
    "q129_cumulative_reach" -> Set("single-partition-window"),
    "q133_rfm_segments" -> Set("single-partition-window"),
    "q135_ks_drift" -> Set("single-partition-window"),
    // rank window runs on the ≤10001-row distinct-score table
    "q250_mann_whitney" -> Set("single-partition-window"),
    // cumulative/rank windows run on the calendar-bounded daily
    // table; the BNLJ is the 1-row (n, s) totals broadcast attach
    "q252_changepoint" ->
      Set("single-partition-window", "cartesian-product"),
    // PAVA min-max grid: non-equi joins + cum window over the ≤51-row
    // quality-bin table — 51³ worst case, constant in corpus size
    "q253_isotonic_calibration" ->
      Set("cartesian-product", "single-partition-window"),
    // global day-index/rank windows + 1-row/7-row broadcast attaches,
    // all over calendar-bounded daily tables
    "q257_acf" -> Set("single-partition-window", "cartesian-product"),
    "q258_theil_sen" ->
      Set("single-partition-window", "cartesian-product"),
    // same calendar-bounded daily-table family as q257/q258
    "q268_cusum" -> Set("single-partition-window", "cartesian-product"),
    "q269_mann_kendall" ->
      Set("single-partition-window", "cartesian-product"),
    "q270_seasonal_dow" -> Set("single-partition-window"),
    // cumulative window + 1-row meta broadcasts over the
    // max-multiplicity-bounded freq-of-freq histogram
    "q271_skew_planner" ->
      Set("single-partition-window", "cartesian-product"),
    // 1-row totals/actual broadcast attaches
    "q272_join_card_audit" -> Set("cartesian-product"),
    // 1-row/64-row broadcast attaches in the fixed-cost power
    // iteration over the 4096-cell covariance table
    "q278_anisotropy" -> Set("cartesian-product"),
    // cum/lead windows over the bounded score domain + 1-row totals
    "q279_wasserstein" ->
      Set("single-partition-window", "cartesian-product"),
    "q136_survival" -> Set("single-partition-window"),
    // water-filling windows run on the |sources|-bounded aggregate
    "q192_budget_waterfill" -> Set("single-partition-window"),
    // RRF ranks two RrfDepth(=50)-row lists — both inputs go through
    // TakeOrdered limits BEFORE the rank windows, so the global
    // window only ever sees a bounded frame
    "q200_rrf_fusion" -> Set("single-partition-window"),
    // the epoch allocator's prefix-sum window runs on the
    // |sources|-row aggregate (q192's waterfill family), and q230
    // expands the same bounded frame
    "q215_repeat_epochs" -> Set("single-partition-window"),
    "q230_epoch_schedule" -> Set("single-partition-window"),
    // Heaps' law cumulates over the 10-row checkpoint table
    "q231_heaps_law" -> Set("single-partition-window"),
    // q222/q237 are q26-derived (hubness / probe re-aggregations of
    // the exact top-k): the self-exclusion predicate rides q26's
    // conditioned broadcast
    "q222_ann_hubness" -> Set("cartesian-product"),
    "q237_knn_probe" -> Set("cartesian-product"),
    // q247/q248 are q26's broadcast-query-batch exact-scan shape over
    // the SQ8-reconstructed corpus / 8-byte SRP sketches; q249's
    // recall denominator IS the q26 plan itself
    "q247_sq8_adc_recall" -> Set("cartesian-product"),
    "q248_srp_rerank" -> Set("cartesian-product"),
    "q249_ivf_probe_sweep" -> Set("cartesian-product"),
    // q240 attaches the 1-row median via crossJoin(broadcast) with
    // the rare-threshold predicate in the BNLJ condition — q42's
    // scalar-attach exception
    "q240_rare_token_retention" -> Set("cartesian-product"),
    // q281 is q26's conditioned broadcast-query-batch exact scan (the
    // demo ground truth for hard-negative mining; ANN candidates feed
    // the same conditional-max tail at scale)
    "q281_hard_negatives" -> Set("cartesian-product"),
    // q288 is the KNN-Shapley valuation over q26's conditioned
    // broadcast-query-batch scan (the probe batch is the bounded
    // side; the corpus is never self-joined)
    "q288_knn_shapley" -> Set("cartesian-product"),
    // q293 runs q26's shape once per matryoshka dim (3 sliced scans)
    "q293_matryoshka_recall" -> Set("cartesian-product"),
    // q299's cumulative/total windows run over the bounded length-
    // histogram (≤ max_chars/50 rows by construction)
    "q299_dp_quantile" -> Set("single-partition-window"),
    // q300 is q26's conditioned broadcast with both sides
    // pre-exploded into sub-vectors (the late-interaction scan)
    "q300_maxsim_retrieval" -> Set("cartesian-product"),
    // q301's windows/self-join run over the two LIMIT-50 run lists
    // (≤ 50 rows by construction); the doc_id< pair condition over
    // the 50-row broadcast is the bounded grid, not a corpus product
    "q301_rank_correlation" ->
      Set("cartesian-product", "single-partition-window"),
    // q305's cumulative sweep runs over the ≤10 001-row distinct-
    // score histogram — bounded by the basis-point range, not data
    "q305_threshold_opt" -> Set("single-partition-window"),
    // q308 fans each ranked row out against the 11-row decile
    // literal with the rank-selection predicate in the BNLJ
    // condition — a bounded ×11 attach, not a corpus product
    "q308_source_quantiles" -> Set("cartesian-product"))

  /** Data-aware rule: `low-cardinality-partition-window` — a window
    * partitioned by a key with too few distinct values to spread the
    * data (lang, source, …). Unlike the single-partition funnel this
    * is invisible in the plan shape — `Window.partitionBy($"lang")`
    * hash-partitions like any other window and runs fine at sf0.1 —
    * but each group serializes its FULL row set through one task, so
    * at 100× the group, not the cluster, is the unit of parallelism.
    * The fix is the two-phase range-partition scan
    * (`llm.DataPrep.groupedPrefixSum`, q76/q134): range-partition on
    * (group, id) so groups span partitions, seed per-partition scans
    * with driver-folded offsets.
    *
    * Cardinality is a property of the data, not the plan, so this
    * rule RUNS one bounded aggregate job per window node (approx
    * distinct of the partition key + row count over the window's
    * child) — call it from CI/specs, not from hot paths. A window is
    * flagged when the key has fewer than `minGroups` groups AND the
    * mean group is at least `minRowsPerGroup` rows — windows over
    * pre-bounded aggregates (tiny inputs) pass untouched.
    *
    * The rule reads the OPTIMIZED plan, not the analyzed one, for two
    * reasons: (a) `RankLimitRewrite` replaces the rank-filter windows
    * (`row_number() ≤ k`) with [[TopKPerGroupNode]] bounded heaps, so
    * the window the user wrote never executes — judging the analyzed
    * plan would flag a funnel the deployed session doesn't have; and
    * (b) for the rank()/dense_rank() forms the rewrite leaves alone,
    * Spark's own `InferWindowGroupLimit` inserts a `WindowGroupLimit`
    * below the window — per-group input is then bounded by the rank
    * limit (partial limits run before the shuffle), so such windows
    * are skipped rather than row-counted.
    */
  def lintGroupedWindows(df: DataFrame, minGroups: Long = 64,
                         minRowsPerGroup: Long = 512): Seq[Finding] = {
    val spark = df.sparkSession
    // a group-limit below the window (same partition keys) caps what
    // any group's task sees at ~k rows — not a funnel. The search
    // descends ONLY through row-preserving/reducing unary nodes
    // (project/filter/sort/repartition): a WindowGroupLimit below an
    // intervening join or explode re-expands rows, so it no longer
    // bounds THIS window's input and must not suppress the finding
    // (round-13 ADVICE).
    @annotation.tailrec
    def boundedByGroupLimit(p: logical.LogicalPlan,
                            spec: Seq[Int]): Boolean = p match {
      case g: logical.WindowGroupLimit
          if g.partitionSpec.map(_.semanticHash()) == spec => true
      case u @ (_: logical.Project | _: logical.Filter | _: logical.Sort |
                _: logical.Repartition | _: logical.RepartitionByExpression |
                _: logical.WindowGroupLimit) =>
        boundedByGroupLimit(u.children.head, spec)
      case _ => false
    }
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.nonEmpty &&
          !boundedByGroupLimit(w.child,
            w.partitionSpec.map(_.semanticHash())) => w
    }
    windows.flatMap { w =>
      val child = ColumnGlue.ofRows(spark, w.child)
      val keys = w.partitionSpec.map(ColumnGlue.column)
      val r = child
        .select(approx_count_distinct(struct(keys: _*)).as("g"),
          count(lit(1)).as("n"))
        .head()
      val (g, n) = (r.getLong(0), r.getLong(1))
      if (g > 0 && g < minGroups && n / g >= minRowsPerGroup)
        Some(Finding("low-cardinality-partition-window",
          s"Window partitioned by [${w.partitionSpec.map(_.sql).mkString(", ")}]: " +
            s"~$g groups over $n rows (~${n / g} rows funnel through each group's task)"))
      else None
    }
  }
}
