"""Spark-layer integration tests (SURVEY.md §7.1 v1 spine + north-rule gates):

- partition filter build -> probe: zero false negatives, FPR within
  S-filter aggregate bound;
- deterministic text extraction (input_hint per-row invariant) across
  parallelism levels;
- mergeable sketch aggregation: estimate within bound AND merged state
  bit-identical across different partition counts (grouping-independence of
  the monoid);
- checkpoint/resume: kill after k partitions, resume, final state identical
  to an uninterrupted build;
- salted two-phase aggregation equals plain groupBy.
"""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from filterz_spark.sources.pages import extract_text, synth_pages
from filterz_spark.spark.build import build_filter_index
from filterz_spark.spark.checkpoint import checkpointed_build, read_lineage
from filterz_spark.spark.merge import partial_states, sketch_column, tree_merge
from filterz_spark.spark.probe import collect_index, probe_membership
from filterz_spark.spark.skew import two_phase_count

N_PAGES = 30_000


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, N_PAGES, 8).cache()
    df.count()
    yield df
    df.unpersist()


class TestFilterIndex:
    def test_build_probe_zero_fn(self, spark, pages):
        idx = collect_index(
            build_filter_index(pages, "url", "xorf", {"arity": 3, "fp_bits": 16}, 8)
        )
        assert len(idx) == 8
        assert sum(r["num_keys"] for r in idx) == N_PAGES  # urls unique
        probed = probe_membership(pages.select("url"), "url", idx)
        assert probed.filter("NOT maybe_present").count() == 0

    def test_fpr_within_aggregate_bound(self, spark, pages):
        idx = collect_index(
            build_filter_index(pages, "url", "xorf", {"arity": 3, "fp_bits": 16}, 8)
        )
        absent = pages.selectExpr("concat(url, '#absent') AS url")
        fp = probe_membership(absent, "url", idx).filter("maybe_present").count()
        bound = len(idx) * 2.0 ** -16 * N_PAGES
        assert fp <= bound + 4 * np.sqrt(bound) + 4

    def test_sbbf_and_ribbon_kinds(self, spark, pages):
        for kind, params in [("sbbf", {"bits_per_key": 16}),
                             ("ribbon", {"coeff_bits": 64, "result_bits": 16})]:
            idx = collect_index(build_filter_index(pages, "url", kind, params, 4))
            probed = probe_membership(pages.select("url").limit(2000), "url", idx)
            assert probed.filter("NOT maybe_present").count() == 0

    def test_index_metrics_recorded(self, spark, pages):
        rows = build_filter_index(pages, "url", "xorf", {"arity": 3, "fp_bits": 16}, 4).collect()
        for r in rows:
            assert r["build_ns"] > 0 and r["mem_usage"] >= r["ideal_mem_usage"] > 0
            assert r["attempts"] >= 1

    def test_failed_collect_index_runs_build_once(self, spark, pages, monkeypatch):
        """A build that fails on the executors raises from collect_index
        after exactly the jobs of one good build: no second build through
        the row-pickling collect()."""
        from pyspark.errors import PythonException
        from pyspark.sql import DataFrame

        collects = []
        real_collect = DataFrame.collect

        def counting_collect(df):
            collects.append(df)
            return real_collect(df)

        monkeypatch.setattr(DataFrame, "collect", counting_collect)
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def jobs_of(group, params):
            sc.setJobGroup(group, group)
            try:
                collect_index(build_filter_index(pages, "url", "ribbon", params, 4))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(tracker.getJobIdsForGroup(group))

        good = jobs_of("collect_index_good", {"coeff_bits": 64, "result_bits": 16})
        with pytest.raises(PythonException, match="result_bits"):
            jobs_of("collect_index_bad", {"coeff_bits": 64, "result_bits": 40})
        assert len(tracker.getJobIdsForGroup("collect_index_bad")) == good
        assert collects == []

    def test_cogrouped_probe_zero_fn_and_single_filter_fpr(self, spark, pages):
        """Distributed probe: index stays a DataFrame, each key is routed to
        the partition that built its filter. Zero FN; FPR at the
        SINGLE-filter bound (not S x p) because only one partition's
        filters see each key."""
        from filterz_spark.spark.probe import probe_membership_cogrouped
        parts = 8
        idx_df = build_filter_index(pages, "url", "xorf",
                                    {"arity": 3, "fp_bits": 16}, parts)
        probed = probe_membership_cogrouped(pages.select("url"), "url",
                                            idx_df, parts)
        assert probed.filter("NOT maybe_present").count() == 0
        absent = pages.selectExpr("concat(url, '#absent') AS url")
        fp = probe_membership_cogrouped(absent, "url", idx_df, parts) \
            .filter("maybe_present").count()
        bound = 2.0 ** -16 * N_PAGES  # per-filter bound, no S multiplier
        assert fp <= bound + 4 * np.sqrt(bound) + 4

    def test_cogrouped_probe_agrees_with_broadcast_probe_on_present(self, spark, pages):
        """On inserted keys the two probe strategies must agree exactly
        (both are FN-free); the cogrouped path may only ever have FEWER
        false positives on absent keys."""
        from filterz_spark.spark.probe import probe_membership_cogrouped
        parts = 4
        idx_df = build_filter_index(pages, "url", "xorf",
                                    {"arity": 3, "fp_bits": 16}, parts)
        idx = collect_index(idx_df)
        mixed = pages.select("url").limit(3000).unionAll(
            pages.selectExpr("concat(url, '#a') AS url").limit(3000))
        a = set(r["url"] for r in probe_membership(mixed, "url", idx)
                .filter("maybe_present").collect())
        b = set(r["url"] for r in probe_membership_cogrouped(mixed, "url", idx_df, parts)
                .filter("maybe_present").collect())
        assert b <= a  # targeted probe is a subset (fewer FPs, same inserted keys)
        present = set(r["url"] for r in pages.select("url").limit(3000).collect())
        assert present <= b

    def test_probe_output_schema_is_input_plus_hit_column(self, spark, pages):
        """Both probes pass every probe column through unchanged (names with
        spaces and nested types included) and append only
        ``maybe_present boolean``."""
        from pyspark.sql.types import BooleanType, StructField, StructType
        from filterz_spark.spark.probe import probe_membership_cogrouped
        parts = 4
        idx_df = build_filter_index(pages, "url", "xorf",
                                    {"arity": 3, "fp_bits": 16}, parts)
        probes = pages.limit(500).selectExpr(
            "url AS `page url`", "array(length(url), 7) AS lens",
            "named_struct('u', url, 'n', length(url)) AS meta",
            "CAST(length(url) / 3 AS DECIMAL(12, 4)) AS score",
            "timestamp_seconds(1700000000 + length(url)) AS ts",
            "map(url, length(url)) AS m").cache()
        try:
            want = StructType([*probes.schema.fields,
                               StructField("maybe_present", BooleanType())])
            rows_in = sorted((tuple(r) for r in probes.collect()), key=repr)
            for probed in (
                    probe_membership(probes, "page url", collect_index(idx_df)),
                    probe_membership_cogrouped(probes, "page url", idx_df, parts)):
                assert probed.schema == want
                rows = probed.collect()
                assert all(r["maybe_present"] for r in rows)  # zero FN
                assert sorted((tuple(r)[:-1] for r in rows), key=repr) == rows_in
        finally:
            probes.unpersist()

    def test_cogrouped_probe_empty_and_one_section(self, spark, pages):
        """An empty probe frame gives no rows and the full schema. Keys that
        all route to one section leave every other section's index group
        without probes; those groups must return empty, correctly typed
        results, and the probed section keeps zero FN and its single-filter
        FPR."""
        from filterz_spark.spark.build import section_id
        from filterz_spark.spark.probe import probe_membership_cogrouped
        parts = 8
        idx_df = build_filter_index(pages, "url", "xorf",
                                    {"arity": 3, "fp_bits": 16}, parts)
        urls = pages.select("url")
        empty = probe_membership_cogrouped(urls.filter("url = ''"), "url",
                                           idx_df, parts)
        assert empty.columns == ["url", "maybe_present"]
        assert empty.collect() == []
        mixed = urls.unionAll(urls.selectExpr("concat(url, '#a') AS url"))
        one = mixed.filter(section_id(F.xxhash64("url"), parts) == 5)
        probed = probe_membership_cogrouped(one, "url", idx_df, parts)
        got = {r["url"]: r["maybe_present"] for r in probed.collect()}
        assert len(got) == one.count() > 0
        present = {u for u in got if not u.endswith("#a")}
        assert present and all(got[u] for u in present)
        fp = sum(got[u] for u in got if u.endswith("#a"))
        bound = 2.0 ** -16 * (len(got) - len(present))
        assert fp <= bound + 4 * np.sqrt(bound) + 4

    def test_one_broadcast_per_collected_index(self, spark, pages, monkeypatch):
        """N probes of one ``collect_index`` result create one broadcast;
        ``release`` destroys it and the next probe broadcasts again. A
        hand-built list of dicts still probes, and the index pickles as
        that plain list."""
        import pickle
        sc = spark.sparkContext
        made = []
        real = sc.broadcast

        def counting(value):
            made.append(real(value))
            return made[-1]

        monkeypatch.setattr(sc, "broadcast", counting)
        idx = collect_index(build_filter_index(
            pages, "url", "sbbf", {"bits_per_key": 16}, 4))
        urls = pages.select("url").limit(2000)

        def misses(index):
            return probe_membership(urls, "url", index) \
                .filter("NOT maybe_present").count()

        try:
            for _ in range(3):
                assert misses(idx) == 0
            assert len(made) == 1
            idx.release()
            assert not os.path.exists(made[0]._path)
            assert misses(idx) == 0
            assert len(made) == 2
            plain = pickle.loads(pickle.dumps(idx))
            assert type(plain) is list and plain == list(idx)
            assert misses(plain) == 0
            assert len(made) == 3
        finally:
            idx.release()


def _last_stage_tasks(spark, group, action):
    """Run ``action`` under job group ``group``; the task count of the last
    stage of its last job (the stage that runs the Python UDF)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    job = max(tracker.getJobIdsForGroup(group))
    return tracker.getStageInfo(max(tracker.getJobInfo(job).stageIds)).numTasks


class TestSections:
    """Which keys each index row holds, independent of which task built it."""

    XORF = {"arity": 3, "fp_bits": 16}

    @pytest.fixture(scope="class")
    def keys(self, spark):
        # duplicates within and across input partitions
        df = spark.range(0, 24_000, 1, 5).selectExpr("id % 9001 AS k").cache()
        df.count()
        yield df
        df.unpersist()

    @pytest.mark.parametrize("parts", [3, 7, 16, 40])
    def test_sections_match_driver_build(self, spark, keys, parts):
        """Row ``partition_id = s`` is the filter over exactly the distinct
        hashes with ``pmod(hash(h), P) == s``, one row per section."""
        from filterz_spark.filters import FILTER_KINDS
        tbl = keys.select(F.xxhash64("k").alias("h")).select(
            "h", F.pmod(F.hash("h"), F.lit(parts)).alias("s")).toArrow()
        h = tbl.column("h").to_numpy().view(np.uint64)
        s = tbl.column("s").to_numpy()
        rows = build_filter_index(keys, "k", "xorf", self.XORF, parts).collect()
        pids = [r["partition_id"] for r in rows]
        assert len(pids) == len(set(pids)) == parts
        assert sum(r["num_keys"] for r in rows) == np.unique(h).size == 9001
        for r in rows:
            want = FILTER_KINDS["xorf"].build(
                np.unique(h[s == r["partition_id"]]), **self.XORF)
            assert bytes(r["payload"]) == want.serialize(), r["partition_id"]

    def test_default_section_count_is_shuffle_partitions(self, spark, keys):
        """``num_partitions=None`` builds the ``spark.sql.shuffle.partitions``
        hash sections, so the cogrouped probe can route to its index."""
        from filterz_spark.spark.probe import probe_membership_cogrouped
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def rows(df):
            return sorted((r["partition_id"], r["shard"], bytes(r["payload"]))
                          for r in df.collect())

        default = build_filter_index(keys, "k", "xorf", self.XORF)
        assert rows(default) == rows(
            build_filter_index(keys, "k", "xorf", self.XORF, parts))
        probed = probe_membership_cogrouped(keys, "k", default, parts)
        assert probed.filter("NOT maybe_present").count() == 0

    def test_one_python_task_per_core(self, spark, keys):
        """The build runs min(P, cores) Python tasks, the probe at most
        cores, however many sections or probe partitions there are."""
        cores = spark.sparkContext.defaultParallelism
        for parts in (3, 2 * cores + 3):
            idx_df = build_filter_index(keys, "k", "xorf", self.XORF, parts)
            assert _last_stage_tasks(spark, f"sections_build_{parts}",
                                     idx_df.collect) == min(parts, cores)
        probes = spark.range(0, 6000, 1, 3 * cores).selectExpr("id AS k")
        probed = probe_membership(probes, "k", collect_index(idx_df))
        assert _last_stage_tasks(spark, "sections_probe",
                                 probed.collect) <= cores


class TestExtraction:
    def test_text_extraction_invariant(self, spark, pages):
        ext = extract_text(pages)
        bad = ext.join(pages.select("url", "text"), "url") \
                 .filter("extracted_text != text").count()
        assert bad == 0

    def test_byte_identical_across_parallelism(self, spark):
        """Same rows at 2 vs 8 partitions -> identical url->text mapping
        (the two-cluster-size determinism requirement)."""
        a = synth_pages(spark, 5_000, 2).select("url", "text")
        b = synth_pages(spark, 5_000, 8).select("url", "text")
        diff = a.join(b.withColumnRenamed("text", "t2"), "url") \
                .filter("text != t2").count()
        assert diff == 0 and a.count() == b.count() == 5_000

    def test_zipf_vocab_leg_deterministic_and_long_tailed(self, spark):
        """The round-6 realistic-vocabulary leg: parallelism-invariant like
        the default leg, distinct from it, and actually long-tailed (many
        more token types than the 5,000-token uniform vocabulary would
        ever produce on the same row count)."""
        from pyspark.sql import functions as F
        z1 = synth_pages(spark, 5_000, 2, vocab="zipf").select("url", "text")
        z2 = synth_pages(spark, 5_000, 8, vocab="zipf").select("url", "text")
        diff = z1.join(z2.withColumnRenamed("text", "t2"), "url") \
                 .filter("text != t2").count()
        assert diff == 0
        u = synth_pages(spark, 5_000, 2).select("url", "text")
        same = z1.join(u.withColumnRenamed("text", "t2"), "url") \
                 .filter("text = t2").count()
        assert same == 0, "zipf leg must not reproduce the uniform leg"
        n_types = (z1.select(F.explode(F.split("text", " ")).alias("t"))
                   .distinct().count())
        assert n_types > 20_000, n_types  # uniform leg caps at 5,000
        with pytest.raises(ValueError, match="unknown vocab"):
            synth_pages(spark, 10, vocab="nope")


class TestSketchAggregation:
    def test_hll_within_bound(self, spark, pages):
        s = sketch_column(pages, "url", "hll", {"p": 14})
        assert abs(s.estimate() - N_PAGES) / N_PAGES < 3 * s.std_error()

    def test_state_independent_of_partitioning(self, spark, pages):
        """HLL/CMS/Bloom merged state must be bit-identical whether built
        from 2, 16 or 100 partitions (monoid grouping-independence). 100
        states exceed the fan-in of 32, so that build also runs one
        executor-side merge round before the driver finish."""
        for kind, params in [("hll", {"p": 12}),
                             ("cms", {"depth": 4, "width": 2048}),
                             ("bloom", {"capacity": N_PAGES, "bits_per_key": 16})]:
            few = tree_merge(partial_states(pages.repartition(2), "url", kind, params))
            many = tree_merge(partial_states(pages.repartition(16), "url", kind, params))
            assert few.serialize() == many.serialize(), kind
            fanned = sketch_column(pages.repartition(100), "url", kind, params)
            assert fanned.serialize() == few.serialize(), kind

    def test_unknown_value_kind_raises(self, spark, pages, tmp_path):
        """A misspelt value_kind must fail before any job runs, not be
        read as 'float' (which sketches the wrong values silently)."""
        import os
        from filterz_spark.spark.merge import grouped_sketch_states
        from filterz_spark.spark.sketch_store import write_sketch_epoch
        store = str(tmp_path / "store")
        calls = {
            "partial_states": lambda: partial_states(
                pages, "url", "hll", {"p": 12}, value_kind="hashed"),
            "sketch_column": lambda: sketch_column(
                pages, "url", "hll", {"p": 12}, value_kind="hashed"),
            "grouped_sketch_states": lambda: grouped_sketch_states(
                pages, "lang", "url", "hll", {"p": 12}, value_kind="hashed"),
            "write_sketch_epoch": lambda: write_sketch_epoch(
                pages, "url", store, "2024-01-01", kind="hll",
                params={"p": 12}, value_kind="hashed"),
        }
        for call in calls.values():
            with pytest.raises(ValueError, match="value_kind"):
                call()
        assert not os.path.exists(store)

    def test_cms_lang_counts_exact_side(self, spark, pages):
        s = sketch_column(pages, "lang", "cms", {"depth": 5, "width": 8192})
        truth = {r["lang"]: r["cnt"] for r in
                 pages.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
        hashes = {r["lang"]: r["h"] for r in
                  pages.select("lang").distinct()
                  .withColumn("h", F.xxhash64("lang")).collect()}
        for lang, cnt in truth.items():
            est = int(s.query(np.array([hashes[lang]], dtype=np.int64).view(np.uint64))[0])
            assert cnt <= est <= cnt + s.error_bound(), lang

    @pytest.mark.parametrize("kind,params", [("kll", {"k": 64}),
                                             ("tdigest", {"delta": 50})])
    def test_fan_in_round_folds_in_partition_order(self, spark, kind, params):
        """100 partitions run one executor merge round of 32-state groups.
        For these order-dependent kinds the state must equal the driver
        emulation: fold each 32-state chunk in partition order, then fold
        the chunk states in order."""
        import json
        from filterz_spark.spark.merge import _fold
        df = spark.range(0, 40_000, 1, 100).select(
            F.exp((F.col("id") % 997) / 100 + F.spark_partition_id() / 10)
            .alias("v"))
        got = sketch_column(df, "v", kind, params).serialize()
        rows = sorted(partial_states(df, "v", kind, params).collect(),
                      key=lambda r: r["partition_id"])
        assert [r["partition_id"] for r in rows] == list(range(100))
        chunks = [_fold(kind, [r["payload"] for r in rows[i:i + 32]],
                        [r["params"] for r in rows[i:i + 32]])
                  for i in range(0, 100, 32)]
        want = _fold(kind, [c.serialize() for c in chunks],
                     [json.dumps(c.params()) for c in chunks]).serialize()
        assert got == want
        # the tree shape matters for these kinds, so the check has teeth
        flat = _fold(kind, [r["payload"] for r in rows],
                     [r["params"] for r in rows]).serialize()
        assert flat != want

    def test_quantile_sketches(self, spark, pages):
        ntok = pages.select(F.size(F.split("text", " ")).cast("double").alias("v"))
        exact = ntok.selectExpr(
            "percentile(v, array(0.1, 0.5, 0.9)) AS p").collect()[0]["p"]
        for kind, params, tol in [("tdigest", {"delta": 200}, 2.0),
                                  ("kll", {"k": 200}, 4.0)]:
            s = sketch_column(ntok, "v", kind, params)
            for q, ex in zip((0.1, 0.5, 0.9), exact):
                assert abs(s.quantile(q) - ex) <= tol, (kind, q)


class TestCheckpointResume:
    @pytest.mark.parametrize("scheme", ["path", "uri"])
    def test_resume_equivalence(self, spark, pages, scheme):
        """Resume equals an uninterrupted build, for a plain path and for
        a ``file://`` URI of the same directory (the state and lineage go
        through the Hadoop FileSystem, never the driver's cwd)."""
        base = tempfile.mkdtemp(prefix="fz_ckpt_")
        root = base if scheme == "path" else f"file://{base}"
        cwd_before = set(os.listdir("."))
        try:
            # uninterrupted build
            full = checkpointed_build(
                spark, pages, "url", f"{root}/full", "xorf",
                {"arity": 3, "fp_bits": 16}, num_partitions=8,
            ).orderBy("partition_id").collect()
            # crash after 3 partitions, then resume
            partial = checkpointed_build(
                spark, pages, "url", f"{root}/resumed", "xorf",
                {"arity": 3, "fp_bits": 16}, num_partitions=8, fail_after=3,
            )
            assert partial.count() == 3
            resumed = checkpointed_build(
                spark, pages, "url", f"{root}/resumed", "xorf",
                {"arity": 3, "fp_bits": 16}, num_partitions=8,
            ).orderBy("partition_id").collect()
            assert len(resumed) == len(full) == 8
            for a, b in zip(full, resumed):
                assert a["partition_id"] == b["partition_id"]
                assert bytes(a["payload"]) == bytes(b["payload"]), \
                    "resumed partition state differs from uninterrupted build"
            assert not [n for n in set(os.listdir(".")) - cwd_before
                        if n.startswith("file:")], \
                "checkpoint wrote a stray file: entry into the cwd"
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def test_crash_replay_overwrites_state(self, spark, pages):
        """A lost lineage update after the state commit (crash between
        the two) replays the build: the replay replaces the rebuilt
        partitions on disk instead of appending a second copy."""
        from filterz_spark.spark.checkpoint import CHECKPOINT_META_DIR
        from filterz_spark.spark.fsio import stamp_marker
        base = tempfile.mkdtemp(prefix="fz_ckpt_")
        try:
            kw = dict(kind="xorf", params={"arity": 3, "fp_bits": 16},
                      num_partitions=8)
            checkpointed_build(spark, pages, "url", base, fail_after=3, **kw)
            before = read_lineage(spark, base)
            first = {(r["partition_id"], r["shard"]): bytes(r["payload"])
                     for r in checkpointed_build(spark, pages, "url", base,
                                                 **kw).collect()}
            assert len(first) >= 8
            stamp_marker(spark, base, CHECKPOINT_META_DIR, before)
            checkpointed_build(spark, pages, "url", base, **kw)
            on_disk = spark.read.parquet(f"{base}/state").collect()
            keys = [(r["partition_id"], r["shard"]) for r in on_disk]
            assert len(keys) == len(set(keys)), \
                "replay appended duplicate (partition_id, shard) rows"
            assert {(r["partition_id"], r["shard"]): bytes(r["payload"])
                    for r in on_disk} == first
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def test_snapshot_history(self, spark, pages):
        """Lineage carries one snapshot per epoch with build metrics; a
        completed checkpoint re-run is a no-op (no new snapshot)."""
        base = tempfile.mkdtemp(prefix="fz_ckpt_")
        try:
            kw = dict(kind="xorf", params={"arity": 3, "fp_bits": 16},
                      num_partitions=8)
            checkpointed_build(spark, pages, "url", base, fail_after=3, **kw)
            checkpointed_build(spark, pages, "url", base, **kw)
            checkpointed_build(spark, pages, "url", base, **kw)  # no-op
            lineage = read_lineage(spark, base)
            snaps = lineage["snapshots"]
            assert [s["epoch"] for s in snaps] == [1, 2]
            assert len(snaps[0]["new_partitions"]) == 3
            assert sorted(snaps[0]["new_partitions"]
                          + snaps[1]["new_partitions"]) == list(range(8))
            total_keys = sum(s["keys"] for s in snaps)
            assert total_keys == pages.select("url").distinct().count()
            assert all(s["build_ns"] > 0 and s["wall_s"] > 0 and s["shards"]
                       >= len(s["new_partitions"]) for s in snaps)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def test_param_mismatch_rejected(self, spark, pages):
        base = tempfile.mkdtemp(prefix="fz_ckpt_")
        try:
            checkpointed_build(spark, pages, "url", base, "xorf",
                               {"arity": 3, "fp_bits": 16}, num_partitions=4)
            with pytest.raises(RuntimeError, match="different parameters"):
                checkpointed_build(spark, pages, "url", base, "xorf",
                                   {"arity": 4, "fp_bits": 16}, num_partitions=4)
        finally:
            shutil.rmtree(base, ignore_errors=True)


class TestSkew:
    def test_two_phase_count_equals_plain(self, spark, pages):
        plain = {r["lang"]: r["cnt"] for r in
                 pages.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
        salted = {r["lang"]: r["cnt"] for r in
                  two_phase_count(pages.select("lang"), "lang").collect()}
        assert plain == salted


class TestConstructionRetry:
    def test_failed_partition_resplits_into_shards(self, spark, pages):
        """A kind whose construction fails above a size threshold must
        re-split into shard filters with intact probe semantics
        (ConstructError is a real code path, ref src/xorf.zig:52-56)."""
        import numpy as np

        from filterz_spark.filters import FILTER_KINDS, XorFilter
        from filterz_spark.spark.build import build_filter_index
        from filterz_spark.spark.probe import collect_index, probe_membership

        class FlakyFilter(XorFilter):
            kind = "flaky"
            LIMIT = 2200

            @classmethod
            def build(cls, hashes, **params):
                if hashes.size > cls.LIMIT:
                    from filterz_spark.filters.xorf import ConstructError
                    raise ConstructError("synthetic construction failure")
                f = XorFilter.build(hashes, **params)
                return cls(f.header, f.fingerprints, f.arity, f.fp_bits, f.num_keys)

        FILTER_KINDS["flaky"] = FlakyFilter
        try:
            # 30k rows / 8 partitions = ~3750 keys/partition > LIMIT -> every
            # partition must split once (2 shards of ~1875)
            idx_df = build_filter_index(
                pages, "url", "flaky", {"arity": 3, "fp_bits": 16}, 8)
            rows = idx_df.collect()
            by_pid = {}
            for r in rows:
                by_pid.setdefault(r["partition_id"], []).append(r)
            assert all(len(v) >= 2 for v in by_pid.values()), \
                "expected re-split shards per partition"
            assert all(r["attempts"] >= 3 for r in rows)  # 1 fail + 2 builds
            # register deserializer under the flaky kind for the probe side
            idx = collect_index(idx_df)
            for r in idx:
                r["kind"] = "xorf"  # payload layout is xorf's
            probed = probe_membership(pages.select("url"), "url", idx)
            assert probed.filter("NOT maybe_present").count() == 0
        finally:
            FILTER_KINDS.pop("flaky", None)


class TestGroupedSketches:
    def test_per_group_hll_within_bound(self, spark, pages):
        from filterz_spark.spark.merge import grouped_estimates, grouped_sketch_states
        states = grouped_sketch_states(pages, "lang", "url", "hll", {"p": 12})
        ests = dict(grouped_estimates(states))
        exact = {r["lang"]: r["n"] for r in
                 pages.groupBy("lang").agg(F.countDistinct("url").alias("n")).collect()}
        assert set(ests) == set(exact)
        for lang, n in exact.items():
            assert abs(ests[lang] - n) / max(n, 1) < 3 * 1.04 / np.sqrt(1 << 12), lang

    @pytest.mark.parametrize("kind,params", [
        ("hll", {"p": 12}),
        ("cms", {"depth": 4, "width": 2048}),
    ])
    def test_pass_value_kind_matches_hash(self, spark, pages, kind, params):
        """value_kind='pass' over precomputed xxhash64 values must give the
        same per-group states as value_kind='hash' over the raw column;
        a cast through double would drop the hashes' low bits (CMS mixes
        every bit into its counter positions, so it shows the loss)."""
        from filterz_spark.spark.merge import grouped_sketch_states
        hashed = pages.withColumn("url_h", F.xxhash64("url"))
        got = {r["g"]: bytes(r["payload"]) for r in grouped_sketch_states(
            hashed, "lang", "url_h", kind, params,
            value_kind="pass").collect()}
        want = {r["g"]: bytes(r["payload"]) for r in grouped_sketch_states(
            pages, "lang", "url", kind, params,
            value_kind="hash").collect()}
        assert got == want

    @pytest.mark.parametrize("kind,params", [("hll", {"p": 10}),
                                             ("kll", {"k": 64})])
    def test_null_group_is_a_group(self, spark, kind, params):
        """Rows whose group is NULL form one group (SQL GROUP BY), and every
        group's state, the NULL one included, equals ``sketch_column`` over
        that group's rows."""
        from filterz_spark.spark.merge import grouped_sketch_states
        df = spark.range(0, 20_000, 1, 6).selectExpr(
            "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('g', id % 3) END AS g",
            "CAST((id * 7919) % 10007 AS double) AS v")
        got = {r["g"]: bytes(r["payload"]) for r in grouped_sketch_states(
            df, "g", "v", kind, params).collect()}
        assert set(got) == {None, "g0", "g1", "g2"}
        for g, payload in got.items():
            rows = df.filter(F.col("g").isNull() if g is None else F.col("g") == g)
            assert payload == sketch_column(rows, "v", kind, params).serialize(), g

    def test_states_partition_independent(self, spark, pages):
        from filterz_spark.spark.merge import grouped_sketch_states
        a = {r["g"]: bytes(r["payload"]) for r in
             grouped_sketch_states(pages.repartition(3), "lang", "url", "hll", {"p": 10}).collect()}
        b = {r["g"]: bytes(r["payload"]) for r in
             grouped_sketch_states(pages.repartition(11), "lang", "url", "hll", {"p": 10}).collect()}
        assert a == b


class TestCheckpointAtomicity:
    def test_fail_after_is_partition_atomic_with_shards(self, spark):
        """A partition whose construction re-splits into shards must persist
        all-or-nothing under a simulated crash (a half-persisted partition
        would resume as done with a missing shard = probe false negatives)."""
        # tiny fp space + enough keys per partition to force re-splits is
        # hard to trigger deterministically; instead verify the invariant on
        # the persisted state: every persisted partition has a contiguous
        # shard set starting at 0 matching the uninterrupted build
        base = tempfile.mkdtemp(prefix="fz_atomic_")
        try:
            keys = spark.range(4000).selectExpr("concat('k', id) AS url")
            full = checkpointed_build(
                spark, keys, "url", f"{base}/full", "xorf",
                {"arity": 3, "fp_bits": 16}, num_partitions=6,
            ).collect()
            shards_full = {}
            for r in full:
                shards_full.setdefault(r["partition_id"], set()).add(r["shard"])
            partial = checkpointed_build(
                spark, keys, "url", f"{base}/crash", "xorf",
                {"arity": 3, "fp_bits": 16}, num_partitions=6, fail_after=2,
            ).collect()
            by_pid = {}
            for r in partial:
                by_pid.setdefault(r["partition_id"], set()).add(r["shard"])
            assert len(by_pid) == 2
            for pid, shards in by_pid.items():
                assert shards == shards_full[pid], \
                    "crash persisted a partial shard set for a partition"
            # lineage only marks the persisted partitions complete
            lin = read_lineage(spark, f"{base}/crash")
            assert sorted(lin["completed_partitions"]) == sorted(by_pid)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def test_rerun_after_completion_is_noop_even_with_empty_partitions(self, spark):
        """Empty partitions must be recorded complete: a finished checkpoint
        re-run must not inflate the epoch (re-executing the build forever)."""
        base = tempfile.mkdtemp(prefix="fz_noop_")
        try:
            # 3 distinct keys across 16 partitions -> most partitions empty
            keys = spark.range(3).selectExpr("concat('k', id) AS url")
            checkpointed_build(spark, keys, "url", base, "sbbf",
                               {"bits_per_key": 16}, num_partitions=16)
            epoch1 = read_lineage(spark, base)["epoch"]
            out = checkpointed_build(spark, keys, "url", base, "sbbf",
                                     {"bits_per_key": 16}, num_partitions=16)
            epoch2 = read_lineage(spark, base)["epoch"]
            assert epoch1 == epoch2 == 1, "rerun was not a no-op"
            assert out.count() >= 1
        finally:
            shutil.rmtree(base, ignore_errors=True)


class TestTreeMergePartitionCount:
    def test_private_api_error_surfaces(self, spark, pages):
        """tree_merge's partition count reads a PRIVATE Spark API
        (_jdf.queryExecution().toRdd()) with no fallback: on the one
        supported platform it works, and an error from it surfaces
        instead of being swallowed — gated by proxying the states frame
        so only the private attribute dies."""

        class BrokenPrivateApi:
            def __init__(self, df):
                object.__setattr__(self, "_df", df)

            def __getattr__(self, name):
                if name == "_jdf":
                    raise AttributeError("private API removed")
                return getattr(self._df, name)

        states = partial_states(pages.repartition(4), "url", "hll", {"p": 12})
        assert tree_merge(states).estimate() > 0
        with pytest.raises(AttributeError, match="private API removed"):
            tree_merge(BrokenPrivateApi(states))


class TestSessionDefaults:
    """get_session's conf, read off a recording builder (no JVM)."""

    class Recorder:
        def __init__(self):
            self.conf = {}

        def master(self, value):
            self.conf["master"] = value
            return self

        def appName(self, _):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    def _conf(self, monkeypatch, cores=2, **extra_conf):
        from types import SimpleNamespace

        from filterz_spark.spark import session
        monkeypatch.setattr(session, "SparkSession",
                            SimpleNamespace(builder=self.Recorder()))
        return session.get_session(cores=cores, **extra_conf)

    def test_defaults_fit_the_host(self, monkeypatch):
        """Unset, the driver heap is at most physical RAM (half of it) and
        the cores are the CPUs this process may run on; both env vars
        still override."""
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        conf = self._conf(monkeypatch, cores=None)
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        mem = conf["spark.driver.memory"]
        assert mem.endswith("m") and 0 < int(mem[:-1]) << 20 <= ram, mem
        assert conf["master"] == f"local[{len(os.sched_getaffinity(0))}]"
        monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        conf = self._conf(monkeypatch, cores=None)
        assert (conf["spark.driver.memory"], conf["master"]) == ("3g", "local[3]")

    def test_origin_capture_off_by_default(self, monkeypatch, spark):
        key = "spark.python.sql.dataFrameDebugging.enabled"
        assert self._conf(monkeypatch)[key] == "false"
        assert spark.conf.get(key) == "false"

    def test_extra_conf_turns_origin_capture_back_on(self, monkeypatch):
        conf = self._conf(monkeypatch, **{
            "spark.python.sql.dataFrameDebugging.enabled": "true"})
        assert conf["spark.python.sql.dataFrameDebugging.enabled"] == "true"
