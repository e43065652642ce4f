"""Relational patterns built on the filter/sketch layer.

- ``filter_prefiltered_join``: the bloom-join pushdown — build a membership
  filter over the build side's join keys, pre-filter the probe side with a
  map-only probe BEFORE the shuffle join. Zero false negatives mean results
  are exactly the plain join; false positives only cost wasted shuffle rows
  (bounded by the filter's FPR). At 100TB this is the difference between
  shuffling the full probe table and shuffling only the ~matching fraction.
- ``sessionize``: event sessionization via window functions (lag + gap
  cutoff + running session counter) — pure JVM window exec, oracle-checkable.
- ``dedup_components``: connected components over near-dup candidate pairs
  (iterative min-label propagation, the dedup-cluster step after LSH);
  deterministic exact fixpoint, oracle-checkable against a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def filter_prefiltered_join(probe_df: DataFrame, build_df: DataFrame,
                            probe_key: str, build_key: str,
                            kind: str = "xorf", params: dict | None = None,
                            num_partitions: int = 8) -> DataFrame:
    """Inner join probe_df x build_df with a membership-filter pre-pass.

    Returns the joined rows (probe columns + build columns). Correctness:
    zero FN guarantees no lost matches; FP rows are eliminated by the real
    join, so the result set is EXACTLY the plain join (oracle-checkable).

    The index is collected once and shipped as a broadcast variable, so
    the pre-filter is map-only; it must fit executor memory. An index too
    large for that can be probed distributed with
    ``spark.probe.probe_membership_cogrouped`` directly.
    """
    from ..spark.build import build_filter_index
    from ..spark.probe import collect_index, probe_membership

    params = params or {"arity": 3, "fp_bits": 16}
    idx_df = build_filter_index(build_df, build_key, kind, params,
                                num_partitions)
    pre = (probe_membership(probe_df, probe_key, collect_index(idx_df))
           .filter("maybe_present").drop("maybe_present"))
    return pre.join(build_df, pre[probe_key] == build_df[build_key])


def sessionize(events: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
               gap_minutes: int = 30, tiebreak_col: str = "event_id") -> DataFrame:
    """(user_id, session_id, n_events, session_start) via lag + gap cutoff.

    session_id = running count of gap-breaks per user (window exec,
    shuffle on user_id only). ``tiebreak_col`` (a unique per-row column)
    makes the within-user event order — and therefore session assignment —
    deterministic when timestamps collide.
    """
    # microsecond-exact gap math (event timestamps carry fractional seconds;
    # integer micros avoid float-vs-truncation drift against SQL oracles)
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    with_sid = events.withColumn(
        "session_id", F.sum(new_session).over(w).cast("long"))
    return (
        with_sid.groupBy(user_col, "session_id")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("session_start"))
    )


def latest_per_key(df: DataFrame, key_col: str, order_col: str,
                   tiebreak_col: str) -> DataFrame:
    """Recency dedup: keep each key's most recent row (snapshot semantics —
    e.g. one row per url at its latest warc_ts across crawls).

    ``tiebreak_col`` makes the choice total when ``order_col`` ties, so the
    result is deterministic and oracle-checkable. One shuffle on the key;
    the window computes per-group max without materializing a sort of the
    whole partition (rank-1 filter prunes in the window exec).
    """
    w = Window.partitionBy(key_col).orderBy(F.desc(order_col),
                                            F.desc(tiebreak_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def hash_split(df: DataFrame, key_col: str, train_fraction: float = 0.8,
               seed: str = "42", split_col: str = "split") -> DataFrame:
    """Deterministic hash-based train/holdout assignment — the reproducible
    alternative to ``df.sample()`` for building training-data splits: a
    key's split never changes across runs, cluster sizes, or partitionings,
    and the SAME function is expressible in any engine (md5 is portable;
    xxhash64 is not).

    Assignment: first 15 hex chars of md5(seed:key) as a 60-bit integer,
    train iff below ``train_fraction * 2^60``. Map-only (no shuffle, no
    RNG state); membership is a pure function of (seed, key).
    """
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(seed),
                                             F.col(key_col))), 1, 15),
               16, 10).cast("long")
    thresh = int(train_fraction * (1 << 60))
    return df.withColumn(
        split_col, F.when(h < thresh, F.lit("train")).otherwise(F.lit("holdout")))


def asof_join(left: DataFrame, right: DataFrame, key_col: str, ts_col: str,
              value_cols: tuple, suffix: str = "_asof") -> DataFrame:
    """As-of join: each left row annotated with the LATEST right row at or
    before its timestamp for the same key — the time-series point-in-time
    lookup Spark lacks natively.

    Spark-first plan: NO join at all. Both sides union into one stream
    tagged by side, one window partitioned by key and ordered by
    (ts, side, right-row order) carries the last-seen right values forward
    (``last(..., ignorenulls=True)``), and left rows are filtered back out
    annotated. ONE shuffle (the window partition) regardless of side
    sizes — no range/theta join, no per-key skew beyond the key's own row
    count. Ties: a right row AT the left row's timestamp wins (sorts
    first), and among equal-timestamp right rows the highest-ordered one
    (input order column appended to the sort) wins deterministically.

    ``value_cols`` must be non-empty and its FIRST column must uniquely
    identify right rows within a (key, ts) pair (e.g. the right table's id
    column) — it is the tie-break for equal-timestamp right rows. With a
    non-unique (or nullable) first value column, which right row annotates
    the left row is engine-dependent and can change run to run; pass the
    unique id first and the payload columns after it.
    """
    if not value_cols:
        raise ValueError(
            "asof_join requires at least one value column; the first is "
            "also the equal-timestamp tie-break and must uniquely identify "
            "right rows within a (key, ts) pair")
    lcols = [c for c in left.columns]
    # ONE struct carries all right values: last(struct, ignorenulls) picks
    # the latest right ROW atomically — per-column last() would skip a NULL
    # in the latest row's column and splice in an OLDER row's value, an
    # annotation that exists on no single right row
    r_struct = F.struct(*[F.col(v).alias(v) for v in value_cols])
    l_tagged = left.select(
        *lcols, F.lit(1).alias("__side"),
        F.lit(None).cast(
            right.select(r_struct.alias("s")).schema["s"].dataType)
        .alias("__r"))
    r_tagged = right.select(
        *[F.col(key_col) if c == key_col
          else (F.col(ts_col) if c == ts_col else F.lit(None).cast(left.schema[c].dataType))
          .alias(c) for c in lcols],
        F.lit(0).alias("__side"),
        r_struct.alias("__r"))
    union = l_tagged.unionByName(r_tagged)
    # total order: ts, then side (right rows before left at equal ts), then
    # the first value column nulls-first — pass a UNIQUE right column (e.g.
    # its id) first in value_cols to make equal-timestamp ties deterministic
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), F.col("__side").asc(),
                  F.col(f"__r.{value_cols[0]}").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = union.select(
        *lcols, "__side",
        F.last("__r", ignorenulls=True).over(w).alias("__r_last"))
    return (carried.filter(F.col("__side") == 1)
            .select(*lcols,
                    *[F.col(f"__r_last.{v}").alias(f"{v}{suffix}")
                      for v in value_cols]))


def range_join(left: DataFrame, right: DataFrame, left_ts: str,
               start_col: str, end_col: str, keys: tuple = (),
               bucket_seconds: int = 1800) -> DataFrame:
    """Interval (range) join: left rows with ``start <= ts < end`` against
    right intervals, optionally key-equijoined too.

    The scale plan: instead of the inequality-only theta join (which Spark
    executes as a broadcast nested loop — O(n·m)), each interval EXPLODES
    into the fixed-width time buckets it covers and each left row carries
    its single bucket; the join becomes an EQUI-join on (keys..., bucket)
    with the exact range predicate as a post-filter. A (left, interval)
    pair can meet in at most one bucket (the left row has exactly one), so
    no dedup pass is needed. ``bucket_seconds`` trades replication factor
    (interval_len / bucket) against bucket selectivity — set it near the
    typical interval length.
    """
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / bucket_seconds)
    rb_start = F.floor(F.unix_timestamp(F.col(start_col)) / bucket_seconds)
    rb_end = F.floor(F.unix_timestamp(F.col(end_col)) / bucket_seconds)
    # alias both sides: left/right frequently derive from the SAME source
    # (e.g. two filters of one events table), where bare l[k] == r[k]
    # predicates resolve ambiguously over the shared lineage
    l = left.withColumn("__b", lb.cast("long")).alias("__rj_l")
    r = right.withColumn("__b", F.explode(F.sequence(rb_start.cast("long"),
                                                     rb_end.cast("long")))) \
             .alias("__rj_r")
    cond = [F.col("__rj_l.__b") == F.col("__rj_r.__b")] + \
           [F.col(f"__rj_l.{k}") == F.col(f"__rj_r.{k}") for k in keys]
    joined = l.join(r, cond)
    out_cols = ([F.col(f"__rj_l.{c}") for c in left.columns]
                + [F.col(f"__rj_r.{c}") for c in right.columns
                   if c not in left.columns])
    return (joined.filter((F.col(f"__rj_l.{left_ts}") >= F.col(f"__rj_r.{start_col}"))
                          & (F.col(f"__rj_l.{left_ts}") < F.col(f"__rj_r.{end_col}")))
            .select(*out_cols))


def per_key_quota(df: DataFrame, group_col: str, id_col: str,
                  max_per_group: int, seed: str = "42") -> DataFrame:
    """Per-group quota cap: keep at most ``max_per_group`` rows per group,
    chosen DETERMINISTICALLY by md5(seed:id) order (id tiebreak) — the
    per-domain/per-host cap a web corpus applies so no single site
    dominates the training mixture.

    Hash order (not input order) makes the kept set a pure function of
    (seed, ids), reproducible across engines and partitionings, and
    unbiased w.r.t. crawl order. One shuffle (the window partition); a
    hot group costs only its own row count — the cap throws away the
    excess immediately after ranking.
    """
    if max_per_group <= 0:
        raise ValueError("max_per_group must be positive")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col)))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_per_group).drop("__rn"))


def token_budget_sample(df: DataFrame, budget: int, group_col: str = "source",
                        id_col: str = "doc_id", token_col: str | None = None,
                        text_col: str = "text",
                        seed: str = "42") -> DataFrame:
    """Per-group token-budget mixture sampling: within each group, order
    rows by md5(seed:id) (id tiebreak — the same deterministic order as
    ``per_key_quota``) and keep the maximal PREFIX whose running token
    total stays within ``budget``. This is how a training mixture is
    assembled from per-source token targets ("200B tokens of web, 30B of
    code"): the kept set is a pure function of (seed, ids, token counts),
    reproducible across engines and partitionings, and unbiased w.r.t.
    crawl order.

    Prefix semantics, not knapsack: once the running total passes the
    budget, NO later row in the hash order is admitted even if it would
    individually fit — so the boundary is a single deterministic cut and
    re-running with a larger budget strictly extends the kept set
    (monotonicity, the property that lets a mixture be grown
    incrementally without resampling what's already chosen).

    ``token_col`` names a precomputed token-count column; otherwise
    whitespace tokens of ``text_col`` are counted inline (map-only).
    Returns (id, group, n_tokens, cum_tokens) for the kept rows. ONE
    shuffle (the window partition); a group's cost is its own row count.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    n_tok = (F.col(token_col).cast("long") if token_col
             else F.size(F.split(F.col(text_col), " ")).cast("long"))
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col)))
    w = (Window.partitionBy(group_col)
         .orderBy(h.asc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df.select(id_col, group_col, n_tok.alias("n_tokens"))
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= budget))


def hypertable_rollup(events: DataFrame, ts_col: str = "ts",
                      value_col: str = "value",
                      resolutions: tuple = ("hour", "day")) -> DataFrame:
    """Multi-resolution continuous aggregate (the hypertable rollup
    pattern): (resolution, bucket_start, cnt, sum_value) for each level,
    with every COARSER level computed from the next FINER level's
    aggregates, not from the raw events.

    That hierarchy is the scale property: raw rows are scanned once for
    the finest resolution; each coarser rollup aggregates the (tiny)
    previous level — at 10^12 events and minute/hour/day levels, the hour
    and day aggregates shuffle thousands of rows, not the corpus. Counts
    are EXACT under re-aggregation; double sums are associative only up to
    float rounding (re-aggregating the finer level changes addition order,
    so coarse sums can differ from a direct aggregate in low-order bits —
    aggregate a decimal/long value column where bit-exactness matters).
    Extend with the sketch layer for distinct/quantile rollups.

    ``resolutions``: finest first, each a ``date_trunc`` unit.
    """
    if not resolutions:
        raise ValueError("need at least one resolution")
    finest = resolutions[0]
    level = (events.groupBy(F.date_trunc(finest, F.col(ts_col)).alias("bucket_start"))
             .agg(F.count("*").alias("cnt"),
                  F.sum(F.col(value_col).cast("double")).alias("sum_value")))
    out = level.select(F.lit(finest).alias("resolution"), "*")
    for res in resolutions[1:]:
        level = (level.groupBy(F.date_trunc(res, F.col("bucket_start"))
                       .alias("bucket_start"))
                 .agg(F.sum("cnt").alias("cnt"),
                      F.sum("sum_value").alias("sum_value")))
        out = out.unionByName(level.select(F.lit(res).alias("resolution"), "*"))
    return out


def stratified_sample(df: DataFrame, key_col: str, fractions: dict,
                      strata_col: str = "lang", seed: str = "42") -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the 60-bit md5 of
    (seed:key) falls below its stratum's fraction threshold.

    The training-data mixture op (e.g. downsample boilerplate languages,
    upweight rare ones ≤ 1.0) with ``hash_split``'s guarantees: membership
    is a pure function of (seed, key) — reproducible across runs, engines,
    cluster sizes, and partitionings, unlike ``df.sampleBy`` (RNG state per
    partition). Map-only: no shuffle, the filter pushes past the scan.
    Strata absent from ``fractions`` are DROPPED (explicit mixture spec).
    """
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(seed),
                                             F.col(key_col))), 1, 15),
               16, 10).cast("long")
    cond = None
    for stratum, frac in fractions.items():
        c = (F.col(strata_col) == stratum) & (h < int(frac * (1 << 60)))
        cond = c if cond is None else cond | c
    if cond is None:
        raise ValueError("fractions must name at least one stratum")
    return df.filter(cond)


# rounds between lineage cuts + convergence checks in dedup_components
CHECK_EVERY = 3


def dedup_components(pairs: DataFrame, all_ids: DataFrame,
                     id_col: str = "doc_id", max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) where
    cluster_id = min doc id reachable through the pair graph.

    Iterative min-label propagation to fixpoint (large-scale dedup's
    cluster-assignment step). Each iteration is one join + aggregate; the
    iteration count is O(graph diameter), small for near-dup clusters.

    Scale hygiene: lineage is cut with ``localCheckpoint`` every
    ``CHECK_EVERY`` rounds (unbounded iterative lineage re-executes the
    whole chain on any recompute and blows up the planner), and the
    driver-side convergence check — an extra job per round in the naive
    form — is batched to checkpoint rounds as one aggregate over the
    already-materialized labels. Raises if the propagation has not
    converged after ``max_iters`` (silently returning partial components
    would mislabel clusters).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct()
        .cache()
    )
    labels = all_ids.select(F.col(id_col).alias("node"),
                            F.col(id_col).alias("label"))
    last_sig = None
    converged = False
    it = 0
    while it < max_iters:
        it += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select("node", F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"))
        )
        if it % CHECK_EVERY == 0 or it == max_iters:
            # cut lineage, then one cheap agg on the materialized labels:
            # labels only DECREASE, so an unchanged signature across a whole
            # check window means fixpoint. bit_xor(xxhash64(label)) is the
            # primary aggregate: order-independent, overflow-free at any
            # scale (a long sum of 63-bit hashed ids overflows — wrapping
            # silently in non-ANSI mode, raising in ANSI mode), and any
            # change in the label multiset flips it with overwhelming
            # probability; avg adds an independent aliasing check.
            labels = labels.localCheckpoint(eager=True)
            sig = tuple(labels.agg(F.bit_xor(F.xxhash64("label")), F.count("*"),
                                   F.avg("label")).collect()[0])
            if sig == last_sig:
                converged = True
                break
            last_sig = sig
    if not converged:
        # one final exactness pass: fixpoint may have landed between checks
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        still = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .filter(F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label"))
            .count()
        )
        if still:
            raise RuntimeError(
                f"dedup_components did not converge in {max_iters} iterations "
                f"({still} labels still decreasing) — the pair graph has a "
                f"longer diameter; raise max_iters")
    edges.unpersist()
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("cluster_id"))


def score_quantile_buckets(scored: DataFrame, score_col: str,
                           cuts: tuple = (1.0 / 3, 2.0 / 3),
                           labels: tuple = ("head", "middle", "tail"),
                           ascending: bool = False,
                           max_distinct_scores: int | None = 1_000_000) -> DataFrame:
    """CCNet-style quantile bucket assignment (head/middle/tail in the
    paper; any cut list works): rank rows by ``score_col`` (descending
    by default — higher score = better bucket) and label each row by the
    cumulative fraction of rows strictly ahead of its SCORE VALUE. Ties
    are never split: every row with the same score lands in the bucket
    of the group's first row — the semantics a threshold-on-quantile
    filter actually has.

    Scale shape — the naive form (percent_rank over a global ORDER BY
    window) moves the ENTIRE corpus to one reducer; this one never
    ranks rows. It builds the per-score histogram (one map-side-combined
    shuffle whose output is bounded by the number of DISTINCT scores,
    not rows), computes cumulative fractions on that bounded histogram
    (the only unpartitioned window runs over histogram rows — fine for
    the discretized/rounded scores every upstream scorer here emits,
    e.g. lm_score's 4 decimals; do NOT feed it a continuous unrounded
    score at corpus scale), and broadcast-joins the per-score bucket
    back — the corpus side stays map-only.

    ``max_distinct_scores`` (round 7) makes the boundedness assumption a
    RUNTIME CONTRACT instead of a docstring plea: the histogram row
    count is checked inside the plan (a 1-row aggregate over the
    already-shuffled histogram — no extra corpus scan) and the query
    raises loudly when a caller feeds a continuous unrounded score whose
    histogram would silently become a corpus-sized single-reducer
    window. The guard rides in as a broadcast, which materializes before
    the window stage runs. ``None`` disables it (caller-proven input).
    Rows with a NULL score are counted in the histogram but, because the
    final join is null-unsafe, do not appear in the output — filter or
    bucket them explicitly upstream; and if deriving ``scored`` is
    expensive, persist/localCheckpoint it first (it is scanned for the
    histogram and again as the probe side).
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError(f"need len(labels) == len(cuts)+1, got "
                         f"{len(labels)} labels / {len(cuts)} cuts")
    from pyspark.sql import Window

    hist = scored.groupBy(score_col).agg(F.count("*").alias("__c"))
    if max_distinct_scores is not None:
        guard = hist.agg(F.count("*").alias("__n")).select(
            F.when(F.col("__n") <= F.lit(int(max_distinct_scores)),
                   F.lit(1))
            .otherwise(F.raise_error(F.concat(
                F.lit("score_quantile_buckets: "), F.col("__n").cast("string"),
                F.lit(f" distinct values of '{score_col}' exceed "
                      f"max_distinct_scores={max_distinct_scores}; the "
                      "cumulative window would sort a corpus-sized "
                      "histogram on one reducer. Round/discretize the "
                      "score upstream (e.g. F.round(score, 4)) or raise "
                      "max_distinct_scores explicitly."))))
            .alias("__guard_ok"))
        hist = hist.crossJoin(F.broadcast(guard))
    order = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    frac_before = (F.coalesce(F.sum("__c").over(w), F.lit(0))
                   / F.sum("__c").over(wt))
    bucket = None
    for cut, lab in zip(cuts, labels):
        clause = frac_before < F.lit(float(cut))
        bucket = (F.when(clause, F.lit(lab)) if bucket is None
                  else bucket.when(clause, F.lit(lab)))
    bucket = bucket.otherwise(F.lit(labels[-1]))
    if max_distinct_scores is not None:
        # the guard column must stay LOAD-BEARING in the output expression:
        # an unused column would be pruned, and with it the raise_error
        # subtree. __guard_ok is always 1 (or the query raised), so the
        # wrap never changes a bucket value.
        bucket = F.when(F.col("__guard_ok") == 1, bucket)
    per_score = hist.select(score_col, bucket.alias("bucket"))
    return scored.join(F.broadcast(per_score), score_col)
