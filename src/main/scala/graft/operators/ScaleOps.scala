package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques the 100 TB plan needs when the defaults stop
  * working: key-salting for skewed shuffles and bucketing for
  * repeated co-located joins. These complement — not replace — AQE's
  * runtime skew-join splitting (`spark.sql.adaptive.skewJoin`):
  * salting is the plan-level fix when one key dominates so hard that
  * even a split partition can't hold it, or when the skewed side
  * feeds an aggregation rather than a join.
  */
object ScaleOps {

  /** Skew-safe equi-join: the big (skewed) side gets a uniform salt
    * in [0, numSalts); the small side is replicated once per salt
    * value, so each hot key's rows spread over numSalts reducers.
    * Result is exactly the plain join (salt values never affect the
    * match — every big row finds its replicated partner).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 numSalts: Int, joinType: String = "inner"): DataFrame = {
    require(numSalts > 0)
    val saltedBig = big.withColumn("__salt", (rand(42) * numSalts).cast("int"))
    val replSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    saltedBig.join(replSmall, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Skew-safe additive aggregation (sum/count shapes): partial
    * aggregate on (keys, salt) — spreading a hot key over numSalts
    * reducers — then final aggregate on the keys. Only valid for
    * associative+commutative aggregates; sums and counts here.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     numSalts: Int): DataFrame = {
    require(numSalts > 0)
    val keyCols = keys.map(col)
    df.withColumn("__salt", (rand(42) * numSalts).cast("int"))
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("n"))
  }

  /** Write a table bucketed+sorted on the join key: repeated joins on
    * that key then read co-located buckets and skip the shuffle
    * entirely (the executed plan has no Exchange on the key — the
    * spec asserts exactly that).
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketKey: String,
                    numBuckets: Int, path: String = null): Unit = {
    // Dropping first keeps overwrite deterministic whether the catalog
    // entry is managed (spec) or external-at-path (q66).
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketKey)
      .sortBy(bucketKey)
      .format("parquet")
    (if (path == null) w else w.option("path", path)).saveAsTable(tableName)
  }

  /** Join two tables bucketed on the same key with the same bucket
    * count — shuffle-free by construction.
    */
  def coLocatedJoin(spark: org.apache.spark.sql.SparkSession,
                    leftTable: String, rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Small-file compaction — the operational tax of every streaming /
    * incremental sink (each micro-batch lands a file per partition;
    * a year of 2-minute batches is 260k files whose open/seek cost
    * dwarfs the data). Rewrites a parquet directory into
    * ceil(totalBytes / targetFileBytes) files. File sizes come from
    * the Hadoop FileSystem API (HDFS/S3-correct, never java.io);
    * the rewrite is a scan + round-robin repartition (no keyed
    * shuffle — compaction must not assume a layout) into a staging
    * dir, swapped in only after success, so a crashed compaction
    * leaves the original data untouched.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetFileBytes: Long, schemaDdl: String = null): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (dataFiles.size <= nOut) return dataFiles.size.toLong // already compact

    val reader = if (schemaDdl == null) spark.read else spark.read.schema(schemaDdl)
    val staging = new org.apache.hadoop.fs.Path(dir + "_compacting")
    fs.delete(staging, true)
    reader.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(staging.toString)
    // swap: the window without live data is the two renames, and the
    // original survives any failure before the final rename
    val retired = new org.apache.hadoop.fs.Path(dir + "_precompact")
    fs.delete(retired, true)
    require(fs.rename(path, retired), s"cannot retire $dir")
    require(fs.rename(staging, path), s"cannot activate compacted $dir")
    fs.delete(retired, true)
    nOut.toLong
  }

  /** Cluster-for-skipping write: range-repartition + sort on the
    * filter key before writing, so every parquet row group holds a
    * narrow [min, max] of that key and point/range scans prune row
    * groups from the footer stats alone — the poor man's Z-order for
    * a single dimension, and the reason "sorted by the hot filter
    * column" is table-layout advice at 100 TB.
    */
  def writeClustered(df: DataFrame, dir: String, key: String,
                     numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(dir)

  /** Bit-interleave two `bitsPer`-bit non-negative longs into a
    * Z-order (Morton) curve value — pure Catalyst built-ins
    * (shiftright / and / shiftleft / or), so the whole computation
    * stays inside whole-stage codegen; no UDF.
    */
  def interleaveBits(a: Column, b: Column, bitsPer: Int): Column =
    (0 until bitsPer).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Z-order clustered write: layout for tables filtered on EITHER of
    * two keys. A single-key sort (writeClustered) gives perfect
    * pruning on that key and none on any other; interleaving the two
    * keys' bits makes file/row-group [min, max] ranges narrow in BOTH
    * dimensions — a range filter on either column prunes most files
    * from footer stats alone. This is the layout decision that turns
    * a 100 TB "scan everything for the second access path" table into
    * two prunable ones without storing it twice.
    *
    * Keys are normalized to 16-bit by linear min/max scaling (one tiny
    * aggregate; the two scalars are the only driver values). Uniform
    * synthetic data makes linear scaling exact; for skewed production
    * keys substitute quantile-boundary bucketing — the curve logic is
    * unchanged.
    */
  def writeZOrdered(df: DataFrame, dir: String, keyA: String, keyB: String,
                    numFiles: Int): Unit = {
    val Array(r) = df.agg(
      min(col(keyA)).cast("long"), max(col(keyA)).cast("long"),
      min(col(keyB)).cast("long"), max(col(keyB)).cast("long")).collect()
    val (aMin, aMax, bMin, bMax) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // `/` on longs is double division in Spark SQL — floor + cast
    // keeps the bucket id integral for the bit ops
    def to16(c: Column, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else floor((c.cast("long") - lit(lo)) * lit(65535.0) / lit((hi - lo).toDouble))
        .cast("long")
    val z = interleaveBits(
      to16(col(keyA), aMin, aMax), to16(col(keyB), bMin, bMax), 16)
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(dir)
  }

  /** Bloom runtime filter — the semi-join pruning pattern Spark's AQE
    * applies automatically for joins, exposed as a reusable operator
    * so any big-side scan (including ones feeding aggregations or
    * multi-stage pipelines AQE can't see through) can be pruned by a
    * small side's key set BEFORE its first shuffle.
    *
    * The bitset is built distributed: each key fans out to `numHashes`
    * md5-derived bit positions, positions partial-aggregate via
    * `bit_or` into at most mBits/64 longs, and only those longs reach
    * the driver — never the keys. Membership is a pure-Catalyst
    * expression over an array literal (`element_at` + shift + mask),
    * fully codegen'd, no UDF.
    *
    * False positives pass the filter and must be removed by the exact
    * join downstream (same contract as every bloom runtime filter);
    * false negatives cannot happen.
    */
  def bloomBits(keys: DataFrame, keyCol: String, mBits: Int,
                numHashes: Int): Array[Long] = {
    require(mBits % 64 == 0 && mBits > 0 && numHashes > 0)
    val slots = (0 until numHashes).map { r =>
        keys.select((hash60(concat(lit(s"b$r:"), col(keyCol).cast("string")))
          % mBits).as("pos"))
      }.reduce(_ union _)
    val words = slots
      .select(expr("pos DIV 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
      .groupBy(col("word")).agg(bit_or(col("bit")).as("bits"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(mBits / 64)(i => words.getOrElse(i, 0L))
  }

  /** Membership-test Column for a bitset from [[bloomBits]] — AND of
    * `numHashes` bit probes against the bitset-as-literal array.
    * Pure Catalyst built-ins (element_at / shiftleft / bitwise and),
    * so the probe stays inside whole-stage codegen at the scan.
    */
  def bloomMightContain(bits: Array[Long], key: Column, mBits: Int,
                        numHashes: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.ShiftLeft
    import org.apache.spark.sql.graftglue.ColumnGlue
    val bitsLit = lit(bits)
    (0 until numHashes).map { r =>
      val pos = hash60(concat(lit(s"b$r:"), key.cast("string"))) % mBits
      // pos < mBits ≤ 2^20, so the double division is exact
      val word = floor(pos / 64).cast("int")
      val mask = ColumnGlue.column(ShiftLeft(
        ColumnGlue.expression(lit(1L)),
        ColumnGlue.expression((pos % 64).cast("int"))))
      element_at(bitsLit, word + 1).bitwiseAND(mask) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Engine-independent 60-bit hash (top 15 hex chars of md5) — the
    * repo-wide convention, replayable in DuckDB as
    * `CAST('0x'||substring(md5(x),1,15) AS BIGINT)`.
    */
  private def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  final val BloomBits = 1024
  final val BloomHashes = 3
  final val BloomIncidents = 15

  /** q62 — bloom runtime filter in action: the 15 highest-value error
    * events name the "incident users" (~10% of keys); a 1024-bit
    * bloom over that set prunes the full event stream AT THE SCAN
    * (before any shuffle), the broadcast equi-join removes bloom
    * false positives, and the per-user activity summary aggregates
    * only survivors. At 100 TB the bloom probe is the difference
    * between shuffling 10% and 100% of the fact table; the oracle is
    * the exact semi-join (bloom is semantics-free by contract).
    */
  def q62_bloom_prune(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type",
        graft.Tables.cents($"value").as("v_cents"))
    val incidentUsers = ev.filter($"event_type" === "error")
      .orderBy($"v_cents".desc, $"event_id").limit(BloomIncidents)
      .select($"user_id").distinct()
    val bits = bloomBits(incidentUsers, "user_id", BloomBits, BloomHashes)
    ev.filter(bloomMightContain(bits, $"user_id", BloomBits, BloomHashes))
      .join(broadcast(incidentUsers), "user_id") // exact: drops false positives
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"v_cents").cast("long").as("sum_cents"))
      .orderBy($"user_id")
  }

  /** Guard for the q66 bucketed fact tables: rewrite only when the
    * (session, dir) changes. Bucketing IS load work — "shuffle the
    * facts once at load, then every equi-join on the key is
    * exchange-free" — so paying the two bucketed writes inside every
    * q66 invocation both misstates the per-query cost (round-5 bench:
    * 5.3 s, ~90% write) and contradicts the operator's own story.
    * Single-slot on purpose (unlike Graph.edgeMemo's keyed map): the
    * catalog table NAMES are fixed, so only one dir's layout can
    * exist at a time — a session alternating dirs re-buckets on each
    * switch, which is required for correctness there.
    */
  private var bucketedKey = ""

  def ensureBucketedFacts(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Unit = synchronized {
    import spark.implicits._
    val key = s"${spark.sparkContext.applicationId}:$dir"
    if (bucketedKey != key) {
      val o = graft.Tables.load(spark, dir, "orders")
        .select($"o_orderkey".as("okey"),
          graft.Tables.cents($"o_totalprice").as("order_cents"))
      val li = graft.Tables.load(spark, dir, "lineitem")
        .select($"l_orderkey".as("okey"),
          graft.Tables.cents($"l_extendedprice").as("item_cents"))
      writeBucketed(o, "graft_orders_b", "okey", 8, "/tmp/graft_buckets/orders_b")
      writeBucketed(li, "graft_lineitem_b", "okey", 8, "/tmp/graft_buckets/lineitem_b")
      bucketedKey = key
    }
  }

  /** q66 — bucketed co-located join: both fact tables land bucketed +
    * sorted on the join key at LOAD time ([[ensureBucketedFacts]],
    * once per session+dir), so the repeated-join workload reads
    * co-located buckets and the sort-merge join has NO Exchange on
    * either side (ScaleOpsSpec asserts the plan). At 100 TB this is
    * the difference between shuffling two fact tables per run and
    * shuffling them once at load time. The `merge` hint pins SMJ so
    * the bucketed layout (not a broadcast) carries the join at every
    * scale.
    */
  def q66_bucketed_join(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    import spark.implicits._
    ensureBucketedFacts(spark, dir)
    spark.table("graft_orders_b").hint("merge")
      .join(spark.table("graft_lineitem_b"), "okey")
      .groupBy(($"okey" % 97).as("okey_mod"))
      .agg(count(lit(1)).as("n_items"),
        sum($"item_cents").cast("long").as("sum_item_cents"),
        sum($"order_cents").cast("long").as("sum_order_cents"))
      .orderBy($"okey_mod")
  }

  final val AggSalts = 16

  /** q67 — salted skew-safe aggregation: the partial aggregate runs on
    * (event_type, salt) so a dominant event type spreads over
    * [[AggSalts]] reducers before the tiny final aggregate on the key
    * alone. Sums/counts are associative, so the result is exactly the
    * unsalted aggregate — which is what the oracle computes.
    */
  def q67_salted_agg(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), graft.Tables.cents(col("value")).as("v_cents"))
    saltedSumCount(ev, Seq("event_type"), "v_cents", AggSalts)
      .orderBy(col("event_type"))
  }

  /** q149 — exact distinct counting via bitmap aggregation: per-group
    * COUNT(DISTINCT key) computed as a two-level mergeable aggregate
    * over Spark's native bitmap functions. Level 1 groups on
    * (group, bitmap_bucket_number(key)) and ORs the keys of one
    * 32k-wide bucket into a 4 KB bitmap (`bitmap_construct_agg`);
    * level 2 sums the bucket popcounts. Unlike `count(distinct)` —
    * which expands every (group, key) pair through the shuffle — the
    * shuffle here carries one fixed-size bitmap per (group, bucket):
    * for dense key domains that is orders of magnitude fewer bytes,
    * and the partial aggregates merge associatively on every
    * topology. The oracle is the exact COUNT(DISTINCT).
    */
  def q149_bitmap_distinct(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "events")
      .groupBy($"event_type", expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy($"event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy($"event_type")
  }

  /** q271 — join-key skew planner: the report that DECIDES when the
    * salting/AQE machinery (q67, X60) is worth its cost, instead of
    * folklore thresholds. Per candidate shuffle key, exact skew
    * statistics computed WITHOUT any global sort: the per-key
    * frequency table reduces to the frequency-OF-frequency histogram
    * (bounded by the max multiplicity, not |keys|), and max share,
    * exact p99/median multiplicity (integer cross-multiplied
    * cumulative thresholds) and the Gini coefficient (grouped
    * rank-sum arithmetic — Σ ranks of a c-key group is
    * c·cumBefore + c(c+1)/2, all integers) fall out of one cumulative
    * window over that bounded table. `salt_advice` flags keys whose
    * hottest value exceeds a 32-partition fair share.
    */
  def q271_skew_planner(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    import spark.implicits._
    def forKey(col: String): DataFrame = {
      val freq = graft.Tables.load(spark, dir, "lineitem")
        .groupBy(org.apache.spark.sql.functions.col(col).as("k"))
        .agg(count(lit(1)).as("f"))
      val ff = freq.groupBy($"f").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"f")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = ff.withColumn("cumc", sum($"c").over(w))
      val meta = cum.agg(sum($"c").as("nk"), sum($"f" * $"c").as("nr"),
        max($"f").as("mx"),
        sum($"f" * (($"cumc" - $"c") * $"c" + expr("c * (c + 1) div 2"))).as("sxi"))
      val p99 = cum.crossJoin(broadcast(meta.select($"nk".as("nk2"))))
        .filter($"cumc" * 100 >= $"nk2" * 99).agg(min($"f").as("p99_mult"))
      val med = cum.crossJoin(broadcast(meta.select($"nk".as("nk3"))))
        .filter($"cumc" * 2 >= $"nk3").agg(min($"f").as("med_mult"))
      meta.crossJoin(broadcast(p99)).crossJoin(broadcast(med))
        .select(lit(col).as("key_col"), $"nk".as("n_keys"),
          round(lit(1e6) * $"mx" / $"nr").cast("long").as("max_share_micro"),
          $"p99_mult", $"med_mult",
          round(lit(1000.0) * (lit(2L) * $"sxi" - ($"nk" + 1) * $"nr")
            / ($"nk".cast("double") * $"nr")).cast("long").as("gini_milli"),
          (round(lit(1e6) * $"mx" / $"nr").cast("long") > 1000000L / 32L)
            .cast("int").as("salt_advice"))
    }
    forKey("l_orderkey").union(forKey("l_partkey")).union(forKey("l_suppkey"))
      .orderBy($"key_col")
  }

  /** q272 — join-cardinality estimator audit: the System-R uniform
    * assumption |A⋈B| ≈ n_A·n_B / max(d_A, d_B) checked against the
    * EXACT join size — computed without executing the join, as
    * Σ f_A(k)·f_B(k) over the per-key count tables (one equi-join of
    * two aggregates, never the fact×fact row explosion). The audit a
    * CBO regression suite runs: when err_pct drifts, the optimizer's
    * stats model no longer matches the data's key correlation.
    */
  def q272_join_card_audit(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    import spark.implicits._
    def audit(name: String, left: DataFrame, lk: String,
              right: DataFrame, rk: String): DataFrame = {
      val fa = left.groupBy(org.apache.spark.sql.functions.col(lk).as("k"))
        .agg(count(lit(1)).as("fa"))
      val fb = right.groupBy(org.apache.spark.sql.functions.col(rk).as("k"))
        .agg(count(lit(1)).as("fb"))
      val actual = fa.join(fb, "k").agg(sum($"fa" * $"fb").as("actual_rows"))
      val s = fa.agg(sum($"fa").as("na"), count(lit(1)).as("da"))
        .crossJoin(fb.agg(sum($"fb").as("nb"), count(lit(1)).as("db")))
      s.crossJoin(broadcast(actual))
        .select(lit(name).as("join_name"), $"na".as("n_left"), $"nb".as("n_right"),
          $"da".as("d_left"), $"db".as("d_right"),
          round($"na".cast("double") * $"nb" / greatest($"da", $"db"))
            .cast("long").as("est_rows"),
          $"actual_rows",
          round(lit(100.0) * ($"na".cast("double") * $"nb" / greatest($"da", $"db")
            - $"actual_rows") / $"actual_rows").cast("long").as("err_pct"))
    }
    val li = graft.Tables.load(spark, dir, "lineitem")
    audit("orders_lineitem", graft.Tables.load(spark, dir, "orders"), "o_orderkey",
        li, "l_orderkey")
      .union(audit("part_lineitem", graft.Tables.load(spark, dir, "part"), "p_partkey",
        li, "l_partkey"))
      .orderBy($"join_name")
  }

  final val HrwShards = 10

  /** q303 — rendezvous (highest-random-weight) sharding with the
    * minimal-movement audit (Thaler & Ravishankar 1998, the stateless
    * alternative to consistent-hash rings): every doc goes to the
    * shard with the highest hash(doc, shard) weight, so assignment
    * needs NO routing table, any node computes it, and adding shard
    * N+1 moves EXACTLY the docs whose new weight wins — an expected
    * 1/(N+1) of the corpus, all INTO the new shard, none between old
    * shards. The audit assigns at [[HrwShards]] and [[HrwShards]]+1
    * in one pass (conditional argmax over the same exploded weights)
    * and reports per-shard before/after counts and moved-out counts —
    * the spec pins moved_out = n_before − n_after for every old shard
    * and 0 arrivals anywhere but the new one. Weights are the
    * repo-wide 60-bit md5 (oracle replays bit-for-bit). Distinct
    * from q45's greedy packing: HRW is stateless and
    * rebalance-minimal, the shape a 100 TB ingest tier actually runs.
    */
  def q303_rendezvous_shards(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shards = array((0 to HrwShards).map(s => lit(s.toLong)): _*)
    val byDoc = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(shards).as("s"))
      .withColumn("w", hash60(concat(lit("graft_hrw_"),
        $"doc_id".cast("string"), lit("_"), $"s".cast("string"))))
      .groupBy($"doc_id")
      .agg(
        max(when($"s" < HrwShards, struct($"w", $"s"))).as("a10"),
        max(struct($"w", $"s")).as("a11"))
      .select($"a10.s".as("s10"), $"a11.s".as("s11"))
    val before = byDoc.groupBy($"s10".as("shard"))
      .agg(count(lit(1)).as("n_before"),
        sum(($"s10" =!= $"s11").cast("long")).as("moved_out"))
    val after = byDoc.groupBy($"s11".as("shard"))
      .agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("shard"), "full_outer")
      .select($"shard",
        coalesce($"n_before", lit(0L)).as("n_before"),
        coalesce($"n_after", lit(0L)).as("n_after"),
        coalesce($"moved_out", lit(0L)).as("moved_out"))
      .orderBy($"shard")
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("q62_bloom_prune" -> q62_bloom_prune,
      "q303_rendezvous_shards" -> q303_rendezvous_shards,
      "q271_skew_planner" -> q271_skew_planner,
      "q272_join_card_audit" -> q272_join_card_audit,
      "q66_bucketed_join" -> q66_bucketed_join,
      "q67_salted_agg" -> q67_salted_agg,
      "q149_bitmap_distinct" -> q149_bitmap_distinct)

  /** One q271 oracle block per key column; unioned below. */
  private def skewOracleFor(col: String): String =
    s"""SELECT * FROM (
       |WITH freq AS (SELECT $col AS k, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM lineitem GROUP BY 1),
       |ff AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS c FROM freq GROUP BY 1),
       |cum AS (SELECT f, c, CAST(SUM(c) OVER (ORDER BY f
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc
       |  FROM ff),
       |meta AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ff) AS nk,
       |    (SELECT CAST(SUM(f * c) AS BIGINT) FROM ff) AS nr,
       |    (SELECT CAST(MAX(f) AS BIGINT) FROM ff) AS mx,
       |    (SELECT CAST(SUM(f * ((cumc - c) * c + c * (c + 1) // 2))
       |      AS BIGINT) FROM cum) AS sxi)
       |SELECT '$col' AS key_col, nk AS n_keys,
       |  CAST(ROUND(1e6 * mx / nr) AS BIGINT) AS max_share_micro,
       |  (SELECT CAST(MIN(f) AS BIGINT) FROM cum, meta
       |    WHERE cumc * 100 >= nk * 99) AS p99_mult,
       |  (SELECT CAST(MIN(f) AS BIGINT) FROM cum, meta
       |    WHERE cumc * 2 >= nk) AS med_mult,
       |  CAST(ROUND(1000.0 * (2 * sxi - (nk + 1) * nr)
       |    / (CAST(nk AS DOUBLE) * nr)) AS BIGINT) AS gini_milli,
       |  CAST(CASE WHEN CAST(ROUND(1e6 * mx / nr) AS BIGINT) > 31250
       |    THEN 1 ELSE 0 END AS INT) AS salt_advice
       |FROM meta)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q303_rendezvous_shards" ->
      s"""WITH w AS (SELECT d.doc_id, s.s,
        |    CAST(('0x' || substring(md5('graft_hrw_' || d.doc_id || '_'
        |      || s.s), 1, 15)) AS BIGINT) AS w
        |  FROM documents d, (SELECT CAST(unnest(generate_series(0, $HrwShards))
        |      AS BIGINT) AS s) s),
        |bd AS (SELECT doc_id,
        |    MAX(CASE WHEN s < $HrwShards THEN ROW(w, s) END) AS a10,
        |    MAX(ROW(w, s)) AS a11
        |  FROM w GROUP BY 1),
        |pick AS (SELECT (a10)[2] AS s10, (a11)[2] AS s11 FROM bd),
        |bef AS (SELECT s10 AS shard, CAST(COUNT(*) AS BIGINT) AS n_before,
        |    CAST(SUM(CASE WHEN s10 <> s11 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS moved_out
        |  FROM pick GROUP BY 1),
        |aft AS (SELECT s11 AS shard, CAST(COUNT(*) AS BIGINT) AS n_after
        |  FROM pick GROUP BY 1)
        |SELECT COALESCE(bef.shard, aft.shard) AS shard,
        |  COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after,
        |  COALESCE(moved_out, 0) AS moved_out
        |FROM bef FULL OUTER JOIN aft ON aft.shard = bef.shard
        |ORDER BY shard""".stripMargin,
    "q271_skew_planner" ->
      (skewOracleFor("l_orderkey") + "\nUNION ALL\n" +
        skewOracleFor("l_partkey") + "\nUNION ALL\n" +
        skewOracleFor("l_suppkey") + "\nORDER BY key_col"),
    "q272_join_card_audit" ->
      """SELECT * FROM (
        |WITH fa AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS fa
        |    FROM orders GROUP BY 1),
        |fb AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS fb
        |    FROM lineitem GROUP BY 1),
        |m AS (SELECT CAST(SUM(fa.fa * fb.fb) AS BIGINT) AS actual_rows
        |  FROM fa JOIN fb USING (k)),
        |s AS (SELECT (SELECT CAST(SUM(fa) AS BIGINT) FROM fa) AS na,
        |    (SELECT CAST(SUM(fb) AS BIGINT) FROM fb) AS nb,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fa) AS da,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fb) AS db)
        |SELECT 'orders_lineitem' AS join_name, na AS n_left, nb AS n_right,
        |  da AS d_left, db AS d_right,
        |  CAST(ROUND(CAST(na AS DOUBLE) * nb / GREATEST(da, db)) AS BIGINT)
        |    AS est_rows,
        |  m.actual_rows,
        |  CAST(ROUND(100.0 * (CAST(na AS DOUBLE) * nb / GREATEST(da, db)
        |    - m.actual_rows) / m.actual_rows) AS BIGINT) AS err_pct
        |FROM s, m)
        |UNION ALL
        |SELECT * FROM (
        |WITH fa AS (SELECT p_partkey AS k, CAST(COUNT(*) AS BIGINT) AS fa
        |    FROM part GROUP BY 1),
        |fb AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS fb
        |    FROM lineitem GROUP BY 1),
        |m AS (SELECT CAST(SUM(fa.fa * fb.fb) AS BIGINT) AS actual_rows
        |  FROM fa JOIN fb USING (k)),
        |s AS (SELECT (SELECT CAST(SUM(fa) AS BIGINT) FROM fa) AS na,
        |    (SELECT CAST(SUM(fb) AS BIGINT) FROM fb) AS nb,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fa) AS da,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fb) AS db)
        |SELECT 'part_lineitem' AS join_name, na AS n_left, nb AS n_right,
        |  da AS d_left, db AS d_right,
        |  CAST(ROUND(CAST(na AS DOUBLE) * nb / GREATEST(da, db)) AS BIGINT)
        |    AS est_rows,
        |  m.actual_rows,
        |  CAST(ROUND(100.0 * (CAST(na AS DOUBLE) * nb / GREATEST(da, db)
        |    - m.actual_rows) / m.actual_rows) AS BIGINT) AS err_pct
        |FROM s, m)
        |ORDER BY join_name""".stripMargin,
    "q149_bitmap_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q66_bucketed_join" ->
      """WITH o AS (SELECT o_orderkey AS okey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS order_cents FROM orders),
        |li AS (SELECT l_orderkey AS okey,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS item_cents FROM lineitem)
        |SELECT o.okey % 97 AS okey_mod, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(li.item_cents) AS BIGINT) AS sum_item_cents,
        |  CAST(SUM(o.order_cents) AS BIGINT) AS sum_order_cents
        |FROM o JOIN li ON o.okey = li.okey
        |GROUP BY 1 ORDER BY okey_mod""".stripMargin,
    "q67_salted_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q62_bloom_prune" ->
      s"""WITH ev AS (SELECT event_id, user_id, event_type,
         |    CAST(ROUND(value * 100) AS BIGINT) AS v_cents FROM events),
         |iu AS (SELECT DISTINCT user_id FROM (
         |    SELECT user_id FROM ev WHERE event_type = 'error'
         |    ORDER BY v_cents DESC, event_id LIMIT $BloomIncidents))
         |SELECT ev.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(v_cents) AS BIGINT) AS sum_cents
         |FROM ev JOIN iu ON ev.user_id = iu.user_id
         |GROUP BY ev.user_id ORDER BY ev.user_id""".stripMargin)
}
