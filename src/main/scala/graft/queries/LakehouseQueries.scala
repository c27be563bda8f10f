package graft.queries

import org.apache.spark.sql.functions._

/** Lakehouse table-management tier: the operations a 100 TB table needs
  * AROUND the analytics — optimizer statistics, histograms, snapshot
  * diffing, and data-quality gating. The reference
  * (src/lib/etl.js:8-31) hard-codes a single static metrics blob; this
  * tier computes the real thing, one scan each, at any scale.
  *
  * Scale design (100 TB):
  *  - `o_table_stats`: ALL per-column stats ride ONE aggregate over one
  *    scan (count/nulls/min/max fold partially map-side). The exact NDVs
  *    force Catalyst's Expand (one replica per distinct column), which is
  *    the oracle-parity price; the production path swaps
  *    `count_distinct` → `approx_count_distinct` (HLL++, mergeable,
  *    no Expand) — the same exact-vs-sketch trade `a2_approx_distinct
  *    _scale` measures head-to-head.
  *  - `o_equidepth_histogram`: boundaries from an exact `percentile`
  *    aggregate (single buffer — fine at table-stats cardinalities, and
  *    the oracle can mirror it); the scale path swaps in
  *    `approx_percentile` (KLL-class mergeable sketch, demonstrated by
  *    `t_kll_doclen_quantiles`) — bucket ASSIGNMENT is unchanged either
  *    way: the 1-row boundary frame broadcasts and each row folds over
  *    the 15 boundaries, so no global sort and no single-task window
  *    (`ntile` over an unpartitioned window would serialize the table
  *    through one task — the layout this tier exists to avoid).
  *  - `o_snapshot_diff`: inverse of `o_cdc_merge_snapshot` — two
  *    snapshots full-outer-join on the key and classify per row; only
  *    per-change-type aggregates exit the join. With both snapshots
  *    bucketed on the key (the `o_bucketed_join_stats` machinery) the
  *    join is shuffle-free; AQE handles the skewless hash case here.
  *  - `o_expectations_audit`: every constraint — completeness, domain,
  *    range, uniqueness, AND referential integrity — folds into ONE
  *    aggregate over one pass: the dim side enters as a broadcast LEFT
  *    join (1:1 on the unique dim key) so "orphan" is just a null probe
  *    inside the same aggregate. Never one scan per check, and no
  *    separate anti-join branch re-scanning the fact table.
  */
object LakehouseQueries {
  import Q._

  /** Columns profiled by `o_table_stats`. */
  private val StatCols =
    Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private val NumBuckets = 16

  /** Probability grid for the equi-depth boundaries, rendered once so the
    * Spark `percentile` call and the DuckDB `quantile_cont` literal parse
    * the IDENTICAL doubles (i/16 are exact in binary, so both engines
    * interpolate from the same positions and produce the same boundary
    * values — the `pc > b` bucket comparisons then agree bit-for-bit).
    */
  private val ProbList: String =
    (1 until NumBuckets).map(i => (i.toDouble / NumBuckets).toString).mkString(", ")

  /** The deterministic "old snapshot" for `o_snapshot_diff`, derived from
    * the current `orders` so the diff has all three change types:
    * rows born since the old snapshot (key%97==0) are absent from it,
    * rows touched since (key%5==0) carried a different price, and the old
    * snapshot holds since-deleted rows (synthetic key+20M for key%113==0).
    */
  private def oldSnapshot(cur: org.apache.spark.sql.DataFrame) = {
    val base = cur
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn(
        "o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice"))
      )
    val deleted = cur
      .filter(col("o_orderkey") % 113 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(20000000L))
    base.unionByName(deleted)
  }

  /** The deterministic "dirty" orders frame for `o_expectations_audit`:
    * planted violations for each constraint class (moduli chosen coprime
    * and sparse so each class is attributable; 101·331 > any tested key
    * range, so the custkey mutations never collide).
    */
  private def dirtyOrders(cur: org.apache.spark.sql.DataFrame) = {
    val mutated = cur.select(
      col("o_orderkey"),
      when(col("o_orderkey") % 101 === 0, lit(null).cast("long"))
        .when(col("o_orderkey") % 331 === 0, col("o_custkey") + lit(1000000L))
        .otherwise(col("o_custkey"))
        .as("o_custkey"),
      when(col("o_orderkey") % 251 === 0, lit("X"))
        .otherwise(col("o_orderstatus"))
        .as("o_orderstatus"),
      when(col("o_orderkey") % 503 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice"))
        .as("o_totalprice")
    )
    mutated.unionByName(mutated.filter(col("o_orderkey") % 997 === 0))
  }

  /** Distributed exact multi-quantile: the same ARRAY<DOUBLE> the exact
    * `percentile(v, array(probs))` aggregate returns, computed without
    * its single-reducer value-count map (r14 OPTIMIZATION, guide §2.1/§5).
    *
    * Why: Spark's `Percentile` is a TypedImperativeAggregate — every task
    * builds an OpenHashMap[boxed value → count], every partial map is
    * serialized to ONE final reducer which merges and sorts the full
    * distinct-value domain. Measured at sf0.1 (583 k distinct price
    * cents): ~4-5 s per evaluation, all of it single-threaded merge +
    * boxing; at 100 TB the merged map is O(distinct values) on one task —
    * the exact layout this suite's histogram/skyline plans exist to
    * avoid. This helper decomposes rank selection hierarchically instead:
    *   1. (v, w) value counts — ONE ordinary hash-agg shuffle;
    *   2. v bucketed into ≤[[QuantileBuckets]] uniform value ranges
    *      (overflow-safe integer arithmetic off the broadcast 1-row
    *      min/max frame — deterministic, no sampling);
    *   3. global rank = bucket offset (cumsum window over ≤1024
    *      AGGREGATE rows — O(buckets), the vetted pattern) + within-
    *      bucket running count (window PARTITIONED by bucket, each sort
    *      bounded by the bucket's value-domain slice, never corpus size);
    *   4. the ≤2·|probs| needed ranks select their rows via a broadcast
    *      1-row probe lattice, and interpolation replays Percentile's
    *      EXACT double arithmetic (verified against the Spark 4.1.2
    *      bytecode, QuantileBoundsSpec asserts bit-equality):
    *      pos = CAST(N-1 AS DOUBLE) * p; klo = floor(pos),
    *      khi = ceil(pos); value-at-rank k = the v with
    *      cumBefore ≤ k < cumBefore + w; result = vlo when klo = khi OR
    *      vlo = vhi, else (khi - pos)·vlo + (pos - klo)·vhi.
    *
    * Contract: `vals` non-empty with non-null LONG `valueCol` (both call
    * sites feed non-null cents); `probsList` a strictly ascending
    * comma-separated double-literal grid (both grids are i/16, i/32) —
    * the output array is in prob order exactly like `percentile`.
    * Consumers treat the result as a 1-row broadcast frame, identically
    * to the aggregate it replaces.
    */
  private[graft] val QuantileBuckets = 1024

  private[graft] def exactQuantileBounds(
      vals: org.apache.spark.sql.DataFrame,
      valueCol: String,
      probsList: String): org.apache.spark.sql.DataFrame =
    exactQuantileBoundsOfCounts(
      vals.select(col(valueCol).as("v")).filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("w"))
        .localCheckpoint(), // 3 consumers: min/max/N, bucket offsets, ranks
      probsList)

  /** [[exactQuantileBounds]] over a PRE-AGGREGATED, already-materialized
    * (v, w) value-count frame — for callers that need the counts frame
    * for their own aggregation anyway (o_equidepth_histogram) and would
    * otherwise pay the groupBy + checkpoint twice. `cnt` must be
    * materialized (checkpointed) by the caller: it has three consumers
    * here plus the caller's own.
    */
  private[graft] def exactQuantileBoundsOfCounts(
      cnt: org.apache.spark.sql.DataFrame,
      probsList: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm = cnt.agg(
      min(col("v")).as("vmin"), max(col("v")).as("vmax"), sum(col("w")).as("n"))
    // width ≥ ceil(span / QuantileBuckets) keeps bkt ∈ [0, QuantileBuckets]
    // with overflow-safe arithmetic (no (v - vmin) * K product).
    val b = cnt.crossJoin(broadcast(mm)).select(
      col("v"), col("w"),
      expr(s"(v - vmin) div ((vmax - vmin) div $QuantileBuckets + 1)").as("bkt"))
    val boff = b.groupBy(col("bkt")).agg(sum(col("w")).as("bw"))
      .select(
        col("bkt"),
        coalesce(
          sum(col("bw")).over(
            Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("off")) // ≤1025 aggregate rows: O(buckets) window
    val wInB = Window.partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = b
      .withColumn("lb", coalesce(sum(col("w")).over(wInB), lit(0L)))
      .join(broadcast(boff), "bkt")
      .select(col("v"), col("w"), (col("off") + col("lb")).as("cb"))
    val pr = mm.select(
      expr(s"transform(array($probsList), p -> named_struct(" +
        "'p', p, 'pos', CAST(n - 1 AS DOUBLE) * p))").as("ps0"))
      .select(expr("transform(ps0, s -> named_struct('p', s.p, 'pos', s.pos, " +
        "'klo', CAST(floor(s.pos) AS BIGINT), " +
        "'khi', CAST(ceiling(s.pos) AS BIGINT)))").as("ps"))
    val inRange = (k: org.apache.spark.sql.Column) =>
      k >= col("cb") && k < col("cb") + col("w")
    ranked.crossJoin(broadcast(pr))
      .select(
        col("v"), col("cb"), col("w"),
        explode(expr("filter(ps, s -> (s.klo >= cb AND s.klo < cb + w) OR " +
          "(s.khi >= cb AND s.khi < cb + w))")).as("s"))
      .groupBy(col("s.p").as("p"), col("s.pos").as("pos"),
        col("s.klo").as("klo"), col("s.khi").as("khi"))
      .agg(
        max(when(inRange(col("s.klo")), col("v"))).as("vlo"),
        max(when(inRange(col("s.khi")), col("v"))).as("vhi"))
      .select(
        col("p"),
        when(col("khi") === col("klo") || col("vhi") === col("vlo"),
          col("vlo").cast("double"))
          .otherwise(
            (col("khi").cast("double") - col("pos")) * col("vlo").cast("double") +
              (col("pos") - col("klo").cast("double")) * col("vhi").cast("double"))
          .as("bnd"))
      .agg(expr("transform(array_sort(collect_list(struct(p, bnd))), s -> s.bnd)")
        .as("bs"))
  }

  val queries: Map[String, Fn] = Map(
    // ANALYZE TABLE-style per-column statistics — the inputs a
    // cost-based optimizer needs (row count, null fraction, NDV,
    // min/max) — one plain aggregate for the count/null/min/max block
    // plus ONE single-column count_distinct aggregate per profiled
    // column, assembled through broadcast 1-row joins and unpivoted to
    // one row per column via an explode of structs.
    //
    // r14 OPTIMIZATION (guide §2.3 — aggregate before you shuffle /
    // shuffle fewer bytes): the previous shape folded all five exact
    // NDVs into the one aggregate, which forces Catalyst's
    // RewriteDistinctAggregates Expand — SIX replicas of every scanned
    // row (one per distinct column + one for the plain aggregates), a
    // 6-column first-level group key carrying 16 partial-agg buffers,
    // and a shuffle of the whole expanded row set
    // (plans/r14/o_table_stats_before.txt operators (2)-(5)). Split
    // apart, each count_distinct plans as a lone two-level distinct
    // aggregate on its OWN column: map-side partial dedup on the
    // narrow single-column projection, then a count — no Expand, no
    // multi-column group key, and the low-NDV columns (discount/tax/
    // quantity: 9-53 values) collapse to a handful of rows before
    // their exchange. The plain block is unchanged one pass. Same scan
    // bytes either way (Parquet reads each referenced column once);
    // what disappears is the 6x in-memory row blowup between scan and
    // first aggregate. Output identical (exact NDV, same columns,
    // same order) — the DuckDB oracle is untouched. Measured at
    // sf0.1/local[32]: exec 2.2-2.6 s → ~0.6 s warm (Scratch, 3 reps).
    "o_table_stats" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val aggs = count(lit(1)).as("n_rows") +: StatCols.flatMap { c =>
        Seq(
          count(col(c)).as(s"${c}_nn"),
          min(col(c).cast("double")).as(s"${c}_min"),
          max(col(c).cast("double")).as(s"${c}_max")
        )
      }
      val ndvs = StatCols.map { c =>
        broadcast(li.agg(count_distinct(col(c)).as(s"${c}_ndv")))
      }
      ndvs
        .foldLeft(li.agg(aggs.head, aggs.tail: _*))(_.crossJoin(_))
        .select(
          explode(array(StatCols.map { c =>
            struct(
              lit(c).as("column_name"),
              col("n_rows"),
              (col("n_rows") - col(s"${c}_nn")).as("n_nulls"),
              col(s"${c}_ndv").as("ndv"),
              col(s"${c}_min").as("min_val"),
              col(s"${c}_max").as("max_val")
            )
          }: _*)).as("st")
        )
        .select("st.*")
        .orderBy("column_name")
    }),

    // Equi-depth histogram of order totals (integer cents): exact
    // percentile boundaries (1-row frame, broadcast) + a per-row fold
    // over the 15 boundaries to assign buckets — two scans total, no
    // global sort, no single-task window.
    "o_equidepth_histogram" -> ((s, dir) => {
      val pcs = table(s, dir, "orders").select(cents(col("o_totalprice")).as("pc"))
      // r14 OPTIMIZATION (guide §2.1/§5): boundaries via the distributed
      // exact-quantile helper instead of the single-reducer `percentile`
      // aggregate — identical ARRAY<DOUBLE> (bit-verified by
      // QuantileBoundsSpec), no O(distinct-values) merge on one reducer.
      // The (value, count) frame is built ONCE and feeds both the
      // boundary selection and the per-bucket aggregation (weights
      // replace raw rows: n = sum(w), lo/hi unchanged), so the raw table
      // is scanned exactly once.
      val cnt = pcs.groupBy(col("pc").as("v")).agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val bounds = exactQuantileBoundsOfCounts(cnt, ProbList)
      cnt
        .crossJoin(broadcast(bounds))
        .select(
          col("v").as("pc"),
          col("w"),
          expr("CAST(aggregate(bs, 0, (acc, b) -> acc + IF(v > b, 1, 0)) AS BIGINT)")
            .as("bucket")
        )
        .groupBy("bucket")
        .agg(
          sum(col("w")).as("n"),
          min(col("pc")).as("lo_cents"),
          max(col("pc")).as("hi_cents")
        )
        .orderBy("bucket")
    }),

    // Snapshot diff: classify every key across two table snapshots as
    // insert / delete / update / unchanged with one full outer join,
    // emitting only per-type counts and checksums. Values compare in
    // integer cents so the verdict (and the hash) is engine-exact.
    "o_snapshot_diff" -> ((s, dir) => {
      val cur = table(s, dir, "orders")
      val old = oldSnapshot(cur)
      val curK = cur.select(
        col("o_orderkey").as("ck"),
        col("o_custkey").as("c_cust"),
        col("o_orderstatus").as("c_status"),
        cents(col("o_totalprice")).as("c_cents")
      )
      val oldK = old.select(
        col("o_orderkey").as("ok"),
        col("o_custkey").as("o_cust"),
        col("o_orderstatus").as("o_status"),
        cents(col("o_totalprice")).as("o_cents")
      )
      curK
        .join(oldK, curK("ck") === oldK("ok"), "full_outer")
        .select(
          when(col("ok").isNull, lit("insert"))
            .when(col("ck").isNull, lit("delete"))
            .when(
              col("c_cust") === col("o_cust") &&
                col("c_status") === col("o_status") &&
                col("c_cents") === col("o_cents"),
              lit("unchanged")
            )
            .otherwise(lit("update"))
            .as("change_type"),
          coalesce(col("ck"), col("ok")).as("key"),
          (coalesce(col("c_cents"), lit(0L)) - coalesce(col("o_cents"), lit(0L)))
            .as("delta_cents")
        )
        .groupBy("change_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("key")).as("key_checksum"),
          sum(col("delta_cents")).as("delta_cents_sum")
        )
        .orderBy("change_type")
    }),

    // Data-quality expectations (Deequ-shaped): ALL five constraints —
    // including referential integrity — in ONE aggregate over one pass.
    // The dim side joins in as a broadcast LEFT join (not a separate
    // anti-join branch, which would cost a second scan of the fact
    // table); an orphan is then just `c_custkey IS NULL` inside the
    // same aggregate that computes the scan metrics. Reported as
    // (check_name, n_violations, passed).
    "o_expectations_audit" -> ((s, dir) => {
      val dirty = dirtyOrders(table(s, dir, "orders"))
      val scan = dirty
        .join(
          // customer keys are unique, so the broadcast left join is 1:1
          // and leaves every scan-constraint count unchanged
          broadcast(table(s, dir, "customer").select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"),
          "left"
        )
        .agg(
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_completeness"),
          sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L))
            .as("v_domain"),
          sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v_range"),
          (count(lit(1)) - count_distinct(col("o_orderkey"))).as("v_uniqueness"),
          sum(
            when(col("o_custkey").isNotNull && col("c_custkey").isNull, 1L)
              .otherwise(0L)
          ).as("v_referential")
        )
      val checks = Seq(
        "completeness_custkey" -> "v_completeness",
        "domain_orderstatus" -> "v_domain",
        "range_totalprice_positive" -> "v_range",
        "uniqueness_orderkey" -> "v_uniqueness",
        "referential_custkey" -> "v_referential"
      )
      scan
        .select(
          explode(array(checks.map { case (name, c) =>
            struct(
              lit(name).as("check_name"),
              col(c).as("n_violations"),
              (col(c) === 0L).as("passed")
            )
          }: _*)).as("ck")
        )
        .select("ck.*")
        .orderBy("check_name")
    }),

    // PageRank centrality over the part co-purchase graph (undirected
    // edges = part pairs appearing in the same order): the top-ranked
    // parts are the catalog's "hub products". Three fixed damped
    // iterations (d = 0.85) in e12 fixed-point LONGs — contribution =
    // rank div degree, damping = ·85 div 100 — so every sum is
    // associative integer arithmetic and the result engine-exact (float
    // PageRank is reduction-order-dependent and could never hash-match
    // an oracle). Scale design: the edge build is a self-join
    // co-partitioned on l_orderkey whose per-key blowup is bounded by
    // max-lines-per-order (≤7 in TPC-H shape — the bounded analog of
    // the dedup tier's DF cap); each iteration is one join (messages
    // along edges) + one groupBy (sum per target), lineage cut per
    // round (localCheckpoint, same discipline as starContract's
    // fixpoint); no per-vertex driver state. Every node has degree ≥ 1
    // by construction, so there is no dangling-mass correction term.
    "o_pagerank_copurchase" -> ((s, dir) => {
      val Scale = 1000000000000L // e12 fixed-point rank units
      val li = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      // r14 OPTIMIZATION (guide §2.4 — remove a shuffle): the co-purchase
      // edge set used to come from a lineitem SELF-JOIN on l_orderkey
      // (two exchanges of the scan + the join) followed by distinct. An
      // order's line count is bounded (TPC-H ≤ 7; any real basket is
      // O(items-per-order), never corpus-sized), so the same pair set
      // falls out of ONE groupBy(l_orderkey) with a map-side-combinable
      // collect_set + inline codegen pair expansion — the identical
      // bounded-group expansion idiom as ngramCandidates. Plan: 2
      // Exchanges + SortMergeJoin → 1 Exchange + Generate; the distinct
      // exchange is unchanged. Edge semantics identical (pa < pb, one
      // edge per unordered pair).
      // r14 OPTIMIZATION (guide §2.4 — establish the partitioning ONCE,
      // §3.1 — pick the join strategy and build side deliberately): the
      // iteration joins read a checkpointed frame, whose LogicalRDD has
      // UNKNOWN size stats — so the planner defaulted every iteration to
      // a SortMergeJoin that RE-EXCHANGED and RE-SORTED the O(E)
      // adjacency each round (3 × exchange+sort of 2.4M rows at sf0.1).
      // This build materializes the DIRECTED adjacency once, hash-
      // partitioned on `u` (localCheckpoint preserves outputPartitioning):
      //  - both edge orientations expand inline from the per-order set
      //    (b != a instead of a < b), so the old undirected-pairs
      //    checkpoint + union + second exchange disappear — the expanded
      //    stream shuffles ONCE, by u, and the duplicate-edge distinct
      //    runs exchange-free on top (HashPartitioning(u) satisfies the
      //    (u, v) clustering requirement);
      //  - every iteration's join then reuses that layout, and the
      //    SHUFFLE_HASH hint on the O(V) contribution / message frames
      //    makes THEM the build side — per iteration the only moving
      //    bytes are the two O(V) exchanges and the map-side-combined
      //    message aggregation; the edge set never moves again.
      // This is also the only shape that scales: at 100 TB the edge list
      // dwarfs the node list, and sorting it per PageRank round is the
      // classic iterative-graph anti-pattern.
      val adj = li
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(
          explode(
            expr("flatten(transform(ps, a -> transform(filter(ps, b -> b != a), b -> struct(a AS u, b AS v))))")
          ).as("p")
        )
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("u"))
        .distinct() // unweighted graph: many shared orders, one edge — exchange-free on the u layout
        .localCheckpoint() // consumed by deg + 2× per iteration, pre-partitioned
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes")) // 1 row → broadcast
      // static per-node frame: id, deg, r0 = SCALE/N, base = 0.15·SCALE/N
      var ranks = deg
        .crossJoin(broadcast(nNodes))
        .select(
          col("u").as("id"),
          col("deg"),
          expr(s"${Scale}L div n_nodes").as("r"),
          expr(s"(15 * (${Scale}L div n_nodes)) div 100").as("base")
        )
        .localCheckpoint()
      for (_ <- 1 to 3) {
        val msgs = adj
          .join(
            ranks.select(col("id"), expr("r div deg").as("c")).hint("shuffle_hash"),
            adj("u") === col("id"))
          .groupBy(adj("v").as("mid"))
          .agg(sum(col("c")).as("m"))
        ranks = ranks
          .join(msgs.hint("shuffle_hash"), ranks("id") === msgs("mid"))
          .select(
            col("id"),
            col("deg"),
            expr("base + (85 * m) div 100").as("r"),
            col("base")
          )
          .localCheckpoint()
      }
      ranks
        .select(col("id").as("part_id"), col("deg"), col("r").as("rank_e12"))
        .orderBy(col("rank_e12").desc, col("part_id").asc)
        .limit(20)
    }),

    // Record linkage (MDM-style entity resolution): a dirty registry of
    // typo'd customer records links back to the master by BLOCKING on
    // the exact attributes (nation, segment, balance bucket) and
    // fuzzy-matching the name (levenshtein ≤ 2) within each block —
    // never an all-pairs name comparison. Best match per dirty record
    // is an argmin via `min(struct(lev, key))`: a plain aggregate with
    // map-side partial merge, NOT a per-group window sort. Scale: block
    // cardinality is the knob — (nation × segment × balance-bucket)
    // here; at corpus scale the bucket width shrinks so block sizes
    // stay bounded (same growth-law discipline as the LSH bit widths).
    // Unmatched dirty rows survive via a left join and report as
    // match_lev = -1 — linkage coverage is part of the result.
    "o_record_linkage" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
      // dirty registry: every 4th customer re-keyed +900000 with a
      // deterministic single-char name corruption (delete / substitute)
      val dirty = cust
        .filter(col("c_custkey") % 4 === 0)
        .select(
          (col("c_custkey") + 900000L).as("d_id"),
          when(
            col("c_custkey") % 3 === 0,
            expr("substring(c_name, 1, length(c_name) - 1)") // deletion
          ).when(
            col("c_custkey") % 3 === 1,
            concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("X")) // substitution
          ).otherwise(col("c_name")).as("d_name"),
          col("c_nationkey").as("d_nation"),
          col("c_mktsegment").as("d_segment"),
          col("c_acctbal").as("d_acctbal")
        )
      // $100-wide balance buckets, offset so the division runs on
      // non-negative cents — Spark `div` truncates toward zero while
      // DuckDB `//` floors, and the two disagree exactly on negatives
      val blockExpr = (bal: org.apache.spark.sql.Column) =>
        ((cents(bal) + lit(10000000L)) / 10000L).cast("long")
      // the lev ≤ 2 verify lives IN the left-join condition: a dirty row
      // whose block candidates all fail the threshold still emits its
      // null row (a post-join filter would silently drop it instead of
      // reporting match_lev = -1)
      val cand = dirty
        .join(
          cust,
          col("d_nation") === col("c_nationkey") &&
            col("d_segment") === col("c_mktsegment") &&
            blockExpr(col("d_acctbal")) === blockExpr(col("c_acctbal")) &&
            levenshtein(col("d_name"), col("c_name")) <= 2,
          "left"
        )
        .select(
          col("d_id"),
          col("c_custkey"),
          levenshtein(col("d_name"), col("c_name")).as("lev")
        )
      cand
        .groupBy(col("d_id"))
        .agg(min(struct(col("lev"), col("c_custkey"))).as("best"))
        .select(
          col("d_id"),
          coalesce(col("best.lev"), lit(-1)).as("match_lev"),
          col("best.c_custkey").as("matched_key")
        )
        .groupBy(col("match_lev"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("d_id")).as("dirty_checksum"),
          sum(coalesce(col("matched_key"), lit(0L))).as("master_checksum")
        )
        .orderBy(col("match_lev"))
    }),

    // OHLC time-series downsampling: per (event_type, day) bars with
    // open/close = value of the FIRST/LAST event under the total order
    // (ts, event_id) — computed as `min/max(struct(ts, event_id,
    // value))`, i.e. a partial-aggregable argmin/argmax instead of a
    // per-bucket window sort (`first_value` over a window would sort
    // every bucket; min(struct) folds map-side and merges
    // associatively — the only formulation that scales to a 100 TB
    // event stream). high/low/volume/turnover ride the same single
    // aggregate; turnover in integer cents so the sum is order-exact.
    "o_ohlc_bars" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
      ev.select(
        col("event_type"),
        // day as a TIMESTAMP bucket, not DATE: pandas renders Spark's
        // DATE as python objects but DuckDB's as datetime64 — the
        // driver's dtype-strict compare needs both sides timestamp
        date_trunc("DAY", col("ts")).as("day"),
        col("ts"),
        col("event_id"),
        cents(col("value")).as("v_cents")
      ).groupBy(col("event_type"), col("day"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("v_cents"))).as("first_ev"),
          max(struct(col("ts"), col("event_id"), col("v_cents"))).as("last_ev"),
          min(col("v_cents")).as("low_cents"),
          max(col("v_cents")).as("high_cents"),
          count(lit(1)).as("volume"),
          sum(col("v_cents")).as("turnover_cents")
        )
        .select(
          col("event_type"),
          col("day"),
          col("first_ev.v_cents").as("open_cents"),
          col("last_ev.v_cents").as("close_cents"),
          col("low_cents"),
          col("high_cents"),
          col("volume"),
          col("turnover_cents")
        )
        .orderBy(col("event_type"), col("day"))
    }),

    // Pareto frontier (skyline) over lineitem's (price, quantity),
    // minimizing both: the rows no other row beats on both axes. The
    // classic formulation is a sorted sweep with a running min — i.e. a
    // window over the GLOBAL price order, which is a single-task sort at
    // scale. This plan decomposes the prefix-min hierarchically instead:
    //   1. per-price min quantity (one shuffle, map-side combinable);
    //   2. price domain split into ≤1024 UNIFORM value ranges off a
    //      broadcast 1-row min/max frame (r14 OPTIMIZATION, guide §1.2:
    //      the bounds previously came from an exact 32-percentile
    //      aggregate — a single-reducer merge of the 583k-entry distinct-
    //      price count map costing ~5 s at sf0.1 and O(distinct) on one
    //      task at any scale. The bucketing is INTERNAL: any monotone
    //      bucketing yields the identical frontier — the oracle computes
    //      a plain sorted sweep and never sees bucket ids — so the
    //      percentile work bought nothing the min/max agg doesn't.
    //      Equi-width buckets can be unbalanced under price skew, but the
    //      per-bucket work is a running-min window, so imbalance costs a
    //      skewed sort, never a wrong answer; TPC-H prices are
    //      near-uniform);
    //   3. the exclusive prefix-min factors into bucket-level prefix
    //      (a ≤1025-row window — O(buckets) at any scale) + a
    //      within-bucket running min (window PARTITIONED by bucket, so
    //      every sort is ~1/1024th of the distinct-price domain, and the
    //      bucket count is the scale knob).
    // A frontier price survives iff its min-qty beats the combined
    // exclusive prefix. Output: the frontier points with their row
    // multiplicity.
    "o_pareto_frontier" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").select(
        cents(col("l_extendedprice")).as("pc"),
        cents(col("l_quantity")).as("qc")
      )
      val pairCounts = li.groupBy(col("pc"), col("qc")).agg(count(lit(1)).as("n"))
      // min qty per price; (qc, n) ride one struct-min so the row count
      // of the minimal pair comes along without a second join
      val pcMin = pairCounts
        .groupBy(col("pc"))
        .agg(min(struct(col("qc"), col("n"))).as("b"))
        .select(col("pc"), col("b.qc").as("mq"), col("b.n").as("n"))
        // r14 OPTIMIZATION (guide §1.2 — don't compute things twice):
        // pcMin feeds BOTH the min/max bounds and the bucketed frame;
        // un-pinned, the two-shuffle pairCounts→pcMin chain ran once
        // under each consumer (exchange reuse breaks across the
        // broadcast boundary). One materialization, both read it.
        .localCheckpoint()
      val mm = pcMin.agg(min(col("pc")).as("vmin"), max(col("pc")).as("vmax"))
      val bucketed = pcMin
        .crossJoin(broadcast(mm))
        .select(
          col("pc"),
          col("mq"),
          col("n"),
          // overflow-safe equi-width bucket: width ≥ ceil(span/1024) ≥ 1
          expr(s"(pc - vmin) div ((vmax - vmin) div $QuantileBuckets + 1)")
            .as("bkt")
        )
        .localCheckpoint() // two consumers: bucket mins and the per-row filter
      import org.apache.spark.sql.expressions.Window
      val bmin = bucketed.groupBy(col("bkt")).agg(min(col("mq")).as("bmq"))
      val bprefix = bmin.select(
        col("bkt"),
        min(col("bmq")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
        ).as("prev_bkt_min") // 32-row frame: the only unpartitioned window
      )
      val winBkt = Window.partitionBy(col("bkt")).orderBy(col("pc"))
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed
        .withColumn("prev_in_bkt", min(col("mq")).over(winBkt))
        .join(broadcast(bprefix), Seq("bkt"))
        .withColumn(
          "prefix_min",
          least(
            coalesce(col("prev_in_bkt"), lit(Long.MaxValue)),
            coalesce(col("prev_bkt_min"), lit(Long.MaxValue))
          )
        )
        .filter(col("mq") < col("prefix_min"))
        .select(col("pc").as("price_cents"), col("mq").as("qty_cents"), col("n").as("n_rows"))
        .orderBy(col("price_cents"))
    }),

    // Transaction-log time travel (Delta/Iceberg-shaped): an actions log
    // of file adds/removes replayed to the live snapshot AT each of
    // three versions — computed in ONE pass over the log by exploding
    // each action against the requested version lattice (a 3-element
    // broadcast literal), never one scan per version. A file is live at
    // V iff added at-or-before V and not removed at-or-before V.
    "o_time_travel_log" -> ((s, dir) => {
      val log = table(s, dir, "orders").select(
        col("o_orderkey").as("file_id"),
        (col("o_orderkey") % 40).as("v_add"),
        when(
          col("o_orderkey") % 3 === 0,
          (col("o_orderkey") % 40) + (col("o_orderkey") % 7) + 1L
        ).as("v_rm"), // null = never removed
        cents(col("o_totalprice")).as("bytes")
      )
      log
        .select(
          col("file_id"),
          col("v_add"),
          col("v_rm"),
          col("bytes"),
          explode(expr("array(10L, 25L, 39L)")).as("version")
        )
        .filter(
          col("v_add") <= col("version") &&
            (col("v_rm").isNull || col("v_rm") > col("version"))
        )
        .groupBy(col("version"))
        .agg(
          count(lit(1)).as("n_files"),
          sum(col("file_id")).as("file_checksum"),
          sum(col("bytes")).as("bytes_sum")
        )
        .orderBy(col("version"))
    }),

    // Cohort retention: users grouped by first-activity week, activity
    // counted per (cohort, week-offset), retention = active/cohort-size
    // in exact e6 integers. Two shuffles total — per-user first week,
    // then the (user, week) distinct — and the rate join runs on the
    // already-aggregated (cohort × offset) frame, which is tiny at any
    // corpus scale (weeks², not users).
    "o_cohort_retention" -> ((s, dir) => {
      val ev = events(s, dir)
      val firstWeek = ev
        .groupBy(col("user_id"))
        .agg(min(date_trunc("WEEK", col("ts"))).as("cohort"))
      val weekly = ev
        .select(col("user_id"), date_trunc("WEEK", col("ts")).as("week"))
        .distinct()
      val counts = weekly
        .join(firstWeek, Seq("user_id"))
        .select(
          col("cohort"),
          (datediff(col("week"), col("cohort")) / 7).cast("long").as("week_offset")
        )
        .groupBy(col("cohort"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .localCheckpoint() // two consumers (sizes + rate join): the tiny
      // (cohort × offset) frame materializes once, the 2-shuffle user
      // pipeline never re-runs (ReuseExchange is defeated by pushdown
      // de-canonicalization — see DedupQueries.hashedSets)
      // offset 0 row IS the cohort size (every user is active in their
      // own first week by construction)
      val sizes = counts
        .filter(col("week_offset") === 0L)
        .select(col("cohort").as("c0"), col("n_users").as("cohort_size"))
      counts
        .join(broadcast(sizes), col("cohort") === col("c0"))
        .select(
          col("cohort"),
          col("week_offset"),
          col("n_users"),
          expr("n_users * 1000000L div cohort_size").as("retention_e6")
        )
        .orderBy(col("cohort"), col("week_offset"))
    }),

    // Session transition matrix: within-session consecutive event-type
    // pairs (gap ≤ 30 min) → Markov transition counts and e6
    // row-normalized probabilities. The lag window is PARTITIONED by
    // user — the streaming source's natural state partitioning, so the
    // sort is per-user, never global; ties in ts break on event_id so
    // the replay is deterministic. The probability normalizer joins on
    // the aggregated from-type frame (|event types| rows).
    "o_transition_matrix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = events(s, dir)
        .select(
          col("user_id"),
          col("ts"),
          col("event_id"),
          col("event_type"),
          lag(col("event_type"), 1).over(w).as("from_type"),
          lag(col("ts"), 1).over(w).as("prev_ts")
        )
        .filter(
          col("from_type").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) <= 1800L * 1000000L
        )
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // two consumers: the |types|² frame
      // materializes once so the per-user lag window runs exactly once
      val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("row_total"))
      trans
        .join(broadcast(totals), Seq("from_type"))
        .select(
          col("from_type"),
          col("to_type"),
          col("n"),
          expr("n * 1000000L div row_total").as("prob_e6")
        )
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Small-file compaction planner — the other half of lakehouse table
    // maintenance next to `o_zorder_layout` (Delta/Iceberg OPTIMIZE
    // bin-packing): given a file manifest (here simulated as one file
    // per (ship-month partition, writer-bucket l_orderkey % 64) — the
    // layout 64 parallel writers produce), group each partition's files
    // into compaction bins of ~4096 rows (production bins on bytes; rows
    // are the deterministic stand-in) and report, per partition, the
    // small-file problem and the plan that fixes it. Bins use the same
    // boundary-tolerant exclusive-prefix-sum layout as
    // `t_sequence_packing` (greedy first-fit is a non-associative reset
    // scan with no partial-agg form; prefix-sum div capacity is
    // order-deterministic and windowable).
    //
    // Scale: THE point of this operator is that planning runs on the
    // MANIFEST, not the data — the only data-sized exchange is the
    // (month, bucket) rollup (in a real lakehouse even that comes free
    // from the manifest's per-file stats); the planning window then runs
    // per partition over ≤64 metadata rows. Output is O(months).
    "o_compaction_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val files = table(s, dir, "lineitem")
        .groupBy(
          date_trunc("month", col("l_shipdate")).cast("date").as("part_month"),
          (col("l_orderkey") % 64).as("file_id")
        )
        .agg(count(lit(1)).as("n_rows"))
      val w = Window
        .partitionBy(col("part_month"))
        .orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cum_excl", coalesce(sum(col("n_rows")).over(w), lit(0L)))
        .withColumn("bin", expr("cum_excl div 4096"))
        .groupBy(date_format(col("part_month"), "yyyy-MM-dd").as("part_month"))
        .agg(
          count(lit(1)).as("n_input_files"),
          sum(when(col("n_rows") < 2048L, 1L).otherwise(0L)).as("n_small_files"),
          count_distinct(col("bin")).as("n_output_files"),
          sum(col("n_rows")).as("rows_total")
        )
        .orderBy(col("part_month"))
    }),

    // VACUUM planner — the retention half of table maintenance, over the
    // same simulated transaction log as `o_time_travel_log` (file live
    // range = [v_add, v_rm)): with current version 39 and a retention
    // horizon keeping versions ≥ 30 time-travelable, a file is
    // reclaimable iff NO retained snapshot references it — i.e. its
    // removal version is ≤ the horizon (files never re-appear once
    // removed; v_rm null = still live). The report partitions the log
    // into live-at-head / time-travel-only / vacuumable and prices the
    // reclaim (bytes + id checksum, so the driver can verify the exact
    // delete set without materializing it).
    //
    // Scale: one scan, one aggregate — the interval predicate is a pure
    // per-row projection and only the O(1) audit row crosses the
    // exchange. At a real table this runs on the manifest/log, which is
    // ~1e-5 the data size; nothing here touches data files at all.
    "o_vacuum_plan" -> ((s, dir) => {
      val horizon = 30L
      val head = 39L
      // Classification depends ONLY on the removal version: files never
      // re-appear once removed, so live-at-head and vacuumable are both
      // pure predicates on v_rm — the add version (which o_time_travel_log
      // needs for point-in-time replay) is deliberately not projected.
      val log = table(s, dir, "orders").select(
        col("o_orderkey").as("file_id"),
        when(
          col("o_orderkey") % 3 === 0,
          (col("o_orderkey") % 40) + (col("o_orderkey") % 7) + 1L
        ).as("v_rm"),
        cents(col("o_totalprice")).as("bytes")
      )
      log
        .select(
          (col("v_rm").isNull || col("v_rm") > head).as("live_head"),
          (col("v_rm").isNotNull && col("v_rm") <= horizon).as("vacuumable"),
          col("file_id"),
          col("bytes")
        )
        .agg(
          count(lit(1)).as("n_files_total"),
          sum(when(col("live_head"), 1L).otherwise(0L)).as("n_live_head"),
          sum(when(!col("live_head") && !col("vacuumable"), 1L).otherwise(0L))
            .as("n_time_travel_only"),
          sum(when(col("vacuumable"), 1L).otherwise(0L)).as("n_vacuumable"),
          sum(when(col("vacuumable"), col("bytes")).otherwise(0L)).as("bytes_reclaimed"),
          sum(when(col("vacuumable"), col("file_id")).otherwise(0L)).as("reclaim_checksum")
        )
    }),

    // PSI (population stability index) drift monitor — the tabular twin
    // of e_centroid_drift: per event_type, how far the value distribution
    // of the current half-month sits from the baseline half-month,
    // Σ (p_i − q_i)·ln(p_i/q_i) over 10 FROZEN $50 bins (a production
    // PSI freezes bin edges with the baseline snapshot — deriving them
    // from data would be another corpus pass and make the metric
    // non-comparable across runs). Laplace +1 smoothing on a DENSE
    // (type × bin × cohort) grid (a bin empty on one side must smooth,
    // not vanish into an inner join). Scale: one scan, one partial-agg
    // shuffle on (type, cohort, bin) — ≤100 groups; everything after
    // runs on the O(types·bins) frame. Per-bin contributions quantize to
    // e9 BIGINT BEFORE summing (identical doubles → identical integers;
    // integer sums are order-independent), so the PSI is bit-exact
    // across engines and partitionings; the top contributing bin rides
    // a max(struct) argmax. All psi values on this stationary synthetic
    // corpus sit far below the 0.2 industry alert line — the verified
    // deliverable is the exact e9 value, not a flag.
    "o_psi_drift" -> ((s, dir) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val binned = events(s, dir).select(
        col("event_type"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 0)
          .otherwise(1).as("cohort"),
        // Clamp BOTH ends to the frozen [0, 9] grid (ADVICE r10): without
        // the lower clamp a negative value bins to 0 here (Spark `div`
        // truncates toward zero) but to -1 in the mirror (DuckDB `//`
        // floors) and silently vanishes from the dense grid. The 0-clamp
        // also makes the truncate-vs-floor divergence moot — the engines
        // only disagree on negative quotients, and every negative
        // quotient clamps to bin 0 on both sides.
        greatest(lit(0L),
          least(lit(9L), call_function("div", cents(col("value")), lit(5000L)))).as("bin"))
      val counts = binned
        .groupBy(col("event_type"), col("cohort"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val grid = s.range(10).select(col("id").as("bin"))
        .crossJoin(types.toDF("event_type"))
        .crossJoin(Seq(0, 1).toDF("cohort"))
      val dense = grid
        .join(counts, Seq("event_type", "cohort", "bin"), "left")
        .select(
          col("event_type"), col("cohort"), col("bin"),
          coalesce(col("c"), lit(0L)).as("c"))
      val tot = dense.groupBy(col("event_type"), col("cohort"))
        .agg(sum(col("c")).as("n"))
      val frac = dense
        .join(tot, Seq("event_type", "cohort"))
        .select(
          col("event_type"), col("cohort"), col("bin"),
          ((col("c") + 1).cast("double") / (col("n") + 10).cast("double")).as("frac"))
      val contrib = frac.filter(col("cohort") === 0)
        .select(col("event_type"), col("bin"), col("frac").as("p"))
        .join(
          frac.filter(col("cohort") === 1)
            .select(col("event_type"), col("bin"), col("frac").as("q")),
          Seq("event_type", "bin"))
        .select(
          col("event_type"), col("bin"),
          expr("CAST(round((p - q) * ln(p / q) * 1000000000) AS BIGINT)").as("c_e9"))
      contrib
        .groupBy(col("event_type"))
        .agg(
          sum(col("c_e9")).as("psi_e9"),
          max(struct(col("c_e9"), (-col("bin")).as("nb"))).as("m"))
        .join(tot.filter(col("cohort") === 0)
          .select(col("event_type"), col("n").as("n_base")), Seq("event_type"))
        .join(tot.filter(col("cohort") === 1)
          .select(col("event_type"), col("n").as("n_curr")), Seq("event_type"))
        .select(
          col("event_type"), col("n_base"), col("n_curr"), col("psi_e9"),
          (-col("m.nb")).cast("int").as("top_bin"),
          col("m.c_e9").as("top_bin_psi_e9"))
        .orderBy("event_type")
    })
  )

  /** One unrolled PageRank iteration as a DuckDB CTE: messages = sum of
    * rank div deg along edges, new rank = base + 85·msgs div 100 —
    * mirroring the Spark fixed-point arithmetic operation-for-operation.
    * MATERIALIZED is load-bearing at scale: each iteration references its
    * predecessor twice (outer row + message subquery), so DuckDB's default
    * CTE inlining re-derives the 30M-row edge build 2^iters times — at sf1
    * that spilled past 78 GB of temp before the hint pinned each CTE to one
    * evaluation (the localCheckpoint on the Spark side is the same move).
    */
  private def prIterDuck(prev: String, cur: String): String =
    s""", $cur AS MATERIALIZED (SELECT $prev.id, $prev.deg, $prev.base,
       |                $prev.base + (85 * m.m) // 100 AS r
       |         FROM $prev JOIN (
       |           SELECT adj.v AS id, CAST(sum($prev.r // $prev.deg) AS BIGINT) AS m
       |           FROM adj JOIN $prev ON adj.u = $prev.id GROUP BY adj.v) m
       |         ON $prev.id = m.id)""".stripMargin

  private def statsSelect(c: String): String =
    s"""SELECT '$c' AS column_name, count(*) AS n_rows,
       |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS ndv,
       |  CAST(min($c) AS DOUBLE) AS min_val, CAST(max($c) AS DOUBLE) AS max_val
       |FROM lineitem""".stripMargin

  val oracle: Map[String, String] = Map(
    "o_table_stats" ->
      (StatCols.map(statsSelect).mkString("", "\nUNION ALL\n", "\n") +
        "ORDER BY column_name"),
    "o_equidepth_histogram" ->
      s"""WITH pc AS (SELECT ${centsSql("o_totalprice")} AS pc FROM orders),
         |b AS (SELECT quantile_cont(pc, [$ProbList]) AS bs FROM pc)
         |SELECT CAST(len(list_filter(b.bs, x -> pc.pc > x)) AS BIGINT) AS bucket,
         |       count(*) AS n, min(pc.pc) AS lo_cents, max(pc.pc) AS hi_cents
         |FROM pc, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "o_snapshot_diff" ->
      s"""WITH cur AS (
         |  SELECT o_orderkey AS k, o_custkey AS cust, o_orderstatus AS status,
         |         ${centsSql("o_totalprice")} AS cents
         |  FROM orders),
         |old AS (
         |  SELECT o_orderkey AS k, o_custkey AS cust, o_orderstatus AS status,
         |         ${centsSql("(o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END)")} AS cents
         |  FROM orders WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 20000000 AS k, o_custkey, o_orderstatus,
         |         ${centsSql("o_totalprice")} AS cents
         |  FROM orders WHERE o_orderkey % 113 = 0),
         |d AS (
         |  SELECT CASE WHEN old.k IS NULL THEN 'insert'
         |              WHEN cur.k IS NULL THEN 'delete'
         |              WHEN cur.cust = old.cust AND cur.status = old.status
         |                   AND cur.cents = old.cents THEN 'unchanged'
         |              ELSE 'update' END AS change_type,
         |         coalesce(cur.k, old.k) AS key,
         |         coalesce(cur.cents, 0) - coalesce(old.cents, 0) AS delta_cents
         |  FROM cur FULL OUTER JOIN old ON cur.k = old.k)
         |SELECT change_type, count(*) AS n,
         |       CAST(sum(key) AS BIGINT) AS key_checksum,
         |       CAST(sum(delta_cents) AS BIGINT) AS delta_cents_sum
         |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin,
    "o_expectations_audit" ->
      s"""WITH mut AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 101 = 0 THEN NULL
         |         WHEN o_orderkey % 331 = 0 THEN o_custkey + 1000000
         |         ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 251 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         |    CASE WHEN o_orderkey % 503 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
         |  FROM orders),
         |dirty AS (
         |  SELECT * FROM mut
         |  UNION ALL
         |  SELECT * FROM mut WHERE o_orderkey % 997 = 0),
         |scan AS (
         |  SELECT
         |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_completeness,
         |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) AS v_domain,
         |    CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         |    count(*) - count(DISTINCT o_orderkey) AS v_uniqueness
         |  FROM dirty),
         |ref AS (
         |  SELECT count(*) AS v_referential
         |  FROM dirty d LEFT JOIN customer c ON d.o_custkey = c.c_custkey
         |  WHERE d.o_custkey IS NOT NULL AND c.c_custkey IS NULL),
         |checks AS (
         |  SELECT 'completeness_custkey' AS check_name, v_completeness AS n_violations FROM scan
         |  UNION ALL SELECT 'domain_orderstatus', v_domain FROM scan
         |  UNION ALL SELECT 'range_totalprice_positive', v_range FROM scan
         |  UNION ALL SELECT 'uniqueness_orderkey', v_uniqueness FROM scan
         |  UNION ALL SELECT 'referential_custkey', v_referential FROM ref)
         |SELECT check_name, n_violations, n_violations = 0 AS passed
         |FROM checks ORDER BY check_name""".stripMargin,
    "o_pagerank_copurchase" ->
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
         |, adj AS MATERIALIZED (SELECT pa AS u, pb AS v FROM pairs
         |          UNION ALL SELECT pb AS u, pa AS v FROM pairs)
         |, deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM adj GROUP BY u)
         |, nn AS (SELECT count(*) AS n_nodes FROM deg)
         |, r0 AS MATERIALIZED (SELECT deg.u AS id, deg.deg,
         |                1000000000000 // nn.n_nodes AS r,
         |                (15 * (1000000000000 // nn.n_nodes)) // 100 AS base
         |         FROM deg, nn)
         |${prIterDuck("r0", "r1")}
         |${prIterDuck("r1", "r2")}
         |${prIterDuck("r2", "r3")}
         |SELECT id AS part_id, deg, CAST(r AS BIGINT) AS rank_e12
         |FROM r3 ORDER BY rank_e12 DESC, part_id ASC LIMIT 20""".stripMargin,
    // argmin mirrored as a row_number window (DuckDB has no struct-min
    // aggregate); ties broken identically on (lev, c_custkey).
    // The lev<=2 verify runs in an INNER hash join + filter, with
    // unmatched dirty rows restored by a keyed LEFT JOIN afterwards —
    // semantically identical to lev-inside-the-LEFT-JOIN-ON, but DuckDB
    // plans THAT form as BLOCKWISE_NL_JOIN (outer joins with non-equi
    // conjuncts in the ON never reach its hash join: 5.6e11 dirty ×
    // customer pairs at sf10, >1800 s — round-10 EXPLAIN finding).
    "o_record_linkage" ->
      s"""WITH dirty AS (
         |  SELECT c_custkey + 900000 AS d_id,
         |    CASE WHEN c_custkey % 3 = 0 THEN substring(c_name, 1, length(c_name) - 1)
         |         WHEN c_custkey % 3 = 1 THEN substring(c_name, 1, length(c_name) - 1) || 'X'
         |         ELSE c_name END AS d_name,
         |    c_nationkey AS d_nation, c_mktsegment AS d_segment, c_acctbal AS d_acctbal
         |  FROM customer WHERE c_custkey % 4 = 0),
         |cand AS (
         |  SELECT d.d_id, c.c_custkey, levenshtein(d.d_name, c.c_name) AS lev
         |  FROM dirty d JOIN customer c
         |    ON d.d_nation = c.c_nationkey AND d.d_segment = c.c_mktsegment
         |   AND (${centsSql("d.d_acctbal")} + 10000000) // 10000
         |     = (${centsSql("c.c_acctbal")} + 10000000) // 10000
         |  WHERE levenshtein(d.d_name, c.c_name) <= 2),
         |bm AS (
         |  SELECT d_id, lev, c_custkey AS matched_key
         |  FROM cand
         |  QUALIFY row_number() OVER (
         |    PARTITION BY d_id ORDER BY lev ASC, c_custkey ASC) = 1),
         |best AS (
         |  SELECT d.d_id, CAST(coalesce(bm.lev, -1) AS INTEGER) AS match_lev,
         |         bm.matched_key
         |  FROM dirty d LEFT JOIN bm ON d.d_id = bm.d_id)
         |SELECT match_lev, count(*) AS n,
         |       CAST(sum(d_id) AS BIGINT) AS dirty_checksum,
         |       CAST(sum(coalesce(matched_key, 0)) AS BIGINT) AS master_checksum
         |FROM best GROUP BY match_lev ORDER BY match_lev""".stripMargin,
    // first/last mirrored as two row_number windows over the identical
    // (ts, event_id) total order.
    "o_ohlc_bars" ->
      s"""WITH ev AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |         CAST(ts AS TIMESTAMP) AS tss, event_id,
         |         ${centsSql("value")} AS v_cents
         |  FROM events WHERE value IS NOT NULL),
         |f AS (
         |  SELECT event_type, day, v_cents,
         |    row_number() OVER (PARTITION BY event_type, day ORDER BY tss ASC, event_id ASC) AS rn_a,
         |    row_number() OVER (PARTITION BY event_type, day ORDER BY tss DESC, event_id DESC) AS rn_d
         |  FROM ev),
         |agg AS (
         |  SELECT event_type, day, min(v_cents) AS low_cents, max(v_cents) AS high_cents,
         |         count(*) AS volume, CAST(sum(v_cents) AS BIGINT) AS turnover_cents
         |  FROM ev GROUP BY 1, 2)
         |SELECT agg.event_type, agg.day, fo.v_cents AS open_cents, fc.v_cents AS close_cents,
         |       low_cents, high_cents, volume, turnover_cents
         |FROM agg
         |JOIN (SELECT event_type, day, v_cents FROM f WHERE rn_a = 1) fo
         |  ON agg.event_type = fo.event_type AND agg.day = fo.day
         |JOIN (SELECT event_type, day, v_cents FROM f WHERE rn_d = 1) fc
         |  ON agg.event_type = fc.event_type AND agg.day = fc.day
         |ORDER BY agg.event_type, agg.day""".stripMargin,
    // the frontier mirrored as ONE window sweep over the per-price mins
    // (the NOT EXISTS formulation is quadratic in distinct prices and
    // would stall DuckDB at scale; the window is the same semantics)
    "o_pareto_frontier" ->
      s"""WITH v AS (SELECT ${centsSql("l_extendedprice")} AS pc,
         |                  ${centsSql("l_quantity")} AS qc FROM lineitem),
         |pm AS (SELECT pc, min(qc) AS mq FROM v GROUP BY pc),
         |sw AS (SELECT pc, mq,
         |         min(mq) OVER (ORDER BY pc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
         |       FROM pm),
         |fr AS (SELECT pc, mq FROM sw WHERE pmin IS NULL OR mq < pmin)
         |SELECT fr.pc AS price_cents, fr.mq AS qty_cents, count(*) AS n_rows
         |FROM fr JOIN v ON v.pc = fr.pc AND v.qc = fr.mq
         |GROUP BY 1, 2 ORDER BY price_cents""".stripMargin,
    "o_time_travel_log" ->
      s"""WITH log AS (
         |  SELECT o_orderkey AS file_id, o_orderkey % 40 AS v_add,
         |    CASE WHEN o_orderkey % 3 = 0
         |         THEN (o_orderkey % 40) + (o_orderkey % 7) + 1 END AS v_rm,
         |    ${centsSql("o_totalprice")} AS bytes
         |  FROM orders),
         |x AS (SELECT log.*, v.version FROM log
         |      CROSS JOIN (SELECT unnest(CAST([10, 25, 39] AS BIGINT[])) AS version) v)
         |SELECT version, count(*) AS n_files,
         |       CAST(sum(file_id) AS BIGINT) AS file_checksum,
         |       CAST(sum(bytes) AS BIGINT) AS bytes_sum
         |FROM x
         |WHERE v_add <= version AND (v_rm IS NULL OR v_rm > version)
         |GROUP BY version ORDER BY version""".stripMargin,
    "o_cohort_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week FROM events),
        |fw AS (SELECT user_id, min(week) AS cohort FROM ev GROUP BY user_id),
        |wk AS (SELECT DISTINCT user_id, week FROM ev),
        |cnt AS (SELECT f.cohort,
        |               CAST(date_diff('day', f.cohort, w.week) // 7 AS BIGINT) AS week_offset,
        |               count(*) AS n_users
        |        FROM wk w JOIN fw f ON w.user_id = f.user_id
        |        GROUP BY 1, 2),
        |sz AS (SELECT cohort AS c0, n_users AS cohort_size FROM cnt WHERE week_offset = 0)
        |SELECT cnt.cohort, cnt.week_offset, cnt.n_users,
        |       (cnt.n_users * 1000000) // sz.cohort_size AS retention_e6
        |FROM cnt JOIN sz ON cnt.cohort = sz.c0
        |ORDER BY cohort, week_offset""".stripMargin,
    "o_transition_matrix" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tss, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type,
        |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        |  FROM events),
        |tr AS (SELECT from_type, event_type AS to_type, count(*) AS n
        |       FROM t
        |       WHERE from_type IS NOT NULL
        |         AND epoch_us(tss) - epoch_us(prev_ts) <= 1800 * 1000000
        |       GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |       (tr.n * 1000000) // tot.row_total AS prob_e6
        |FROM tr JOIN tot ON tr.from_type = tot.from_type
        |ORDER BY tr.from_type, tr.to_type""".stripMargin,
    "o_compaction_plan" ->
      """WITH files AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part_month,
        |    l_orderkey % 64 AS file_id, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY 1, 2),
        |pl AS (SELECT part_month, n_rows,
        |    CAST(coalesce(sum(n_rows) OVER (PARTITION BY part_month ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_excl
        |  FROM files)
        |SELECT strftime(part_month, '%Y-%m-%d') AS part_month, CAST(count(*) AS BIGINT) AS n_input_files,
        |  CAST(sum(CASE WHEN n_rows < 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_files,
        |  CAST(count(DISTINCT cum_excl // 4096) AS BIGINT) AS n_output_files,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_total
        |FROM pl GROUP BY part_month ORDER BY part_month""".stripMargin,
    "o_vacuum_plan" ->
      s"""WITH log AS (SELECT o_orderkey AS file_id,
        |    CASE WHEN o_orderkey % 3 = 0
        |         THEN (o_orderkey % 40) + (o_orderkey % 7) + 1 END AS v_rm,
        |    ${centsSql("o_totalprice")} AS bytes
        |  FROM orders),
        |cls AS (SELECT file_id, bytes,
        |    (v_rm IS NULL OR v_rm > 39) AS live_head,
        |    (v_rm IS NOT NULL AND v_rm <= 30) AS vacuumable
        |  FROM log)
        |SELECT CAST(count(*) AS BIGINT) AS n_files_total,
        |  CAST(sum(CASE WHEN live_head THEN 1 ELSE 0 END) AS BIGINT) AS n_live_head,
        |  CAST(sum(CASE WHEN NOT live_head AND NOT vacuumable THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_time_travel_only,
        |  CAST(sum(CASE WHEN vacuumable THEN 1 ELSE 0 END) AS BIGINT) AS n_vacuumable,
        |  CAST(sum(CASE WHEN vacuumable THEN bytes ELSE 0 END) AS BIGINT) AS bytes_reclaimed,
        |  CAST(sum(CASE WHEN vacuumable THEN file_id ELSE 0 END) AS BIGINT) AS reclaim_checksum
        |FROM cls""".stripMargin,
    // Identical dense grid, smoothing, and e9 quantization-before-sum —
    // the ln inputs are the same doubles on both engines, so the rounded
    // integer contributions (and their exact integer sums) match
    // bit-for-bit.
    "o_psi_drift" ->
      """WITH b AS (SELECT event_type,
        |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS cohort,
        |    greatest(0, least(9, CAST(round(value * 100) AS BIGINT) // 5000)) AS bin
        |  FROM events),
        |bc AS (SELECT event_type, cohort, bin, count(*) AS c FROM b GROUP BY 1, 2, 3),
        |grid AS (SELECT t.event_type, c.cohort, r.range AS bin
        |         FROM (VALUES ('click'),('error'),('purchase'),('signup'),('view')) t(event_type)
        |         CROSS JOIN (VALUES (0),(1)) c(cohort)
        |         CROSS JOIN range(0, 10) r),
        |dense AS (SELECT g.event_type, g.cohort, g.bin, coalesce(bc.c, 0) AS c
        |          FROM grid g LEFT JOIN bc ON bc.event_type = g.event_type
        |            AND bc.cohort = g.cohort AND bc.bin = g.bin),
        |tot AS (SELECT event_type, cohort, sum(c) AS n FROM dense GROUP BY 1, 2),
        |f AS (SELECT d.event_type, d.cohort, d.bin,
        |        (d.c + 1.0) / (t.n + 10.0) AS frac
        |      FROM dense d JOIN tot t ON t.event_type = d.event_type AND t.cohort = d.cohort),
        |j AS (SELECT p.event_type, p.bin,
        |        CAST(round((p.frac - q.frac) * ln(p.frac / q.frac) * 1000000000) AS BIGINT) AS c_e9
        |      FROM f p JOIN f q ON q.event_type = p.event_type AND q.bin = p.bin
        |       AND p.cohort = 0 AND q.cohort = 1),
        |agg AS (SELECT event_type, CAST(sum(c_e9) AS BIGINT) AS psi_e9 FROM j GROUP BY 1),
        |tb AS (SELECT event_type, CAST(bin AS INT) AS top_bin, c_e9 AS top_bin_psi_e9 FROM j
        |       QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY c_e9 DESC, bin ASC) = 1)
        |SELECT a.event_type, CAST(t0.n AS BIGINT) AS n_base, CAST(t1.n AS BIGINT) AS n_curr,
        |  a.psi_e9, tb.top_bin, tb.top_bin_psi_e9
        |FROM agg a
        |JOIN (SELECT event_type, n FROM tot WHERE cohort = 0) t0 ON t0.event_type = a.event_type
        |JOIN (SELECT event_type, n FROM tot WHERE cohort = 1) t1 ON t1.event_type = a.event_type
        |JOIN tb ON tb.event_type = a.event_type
        |ORDER BY a.event_type""".stripMargin
  )
}
