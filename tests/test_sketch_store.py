"""Epoch-partitioned sketch store gates (spark/sketch_store.py):

- merging all stored epochs is BIT-IDENTICAL to sketching the whole
  corpus in one pass (HLL/CMS/Bloom monoid grouping-independence now
  extended across the persistence boundary);
- a sub-range merge equals sketching only that range's rows;
- quantile kinds (t-digest) hold their rank bounds through the store;
- per-epoch re-writes are idempotent (dynamic partition overwrite), and
  a re-run over an epoch whose rows are gone stores the zero state;
- the marker refuses mismatched params / kinds / unmarked directories,
  and markers in the round-6 part-file layout still read;
- 100-partition epoch writes (one executor fan-in round) store the same
  states as 4-partition ones;
- the range scan is partition-pruned on the epoch directory column, and a
  range merge runs one Spark job.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from filterz_spark.sources.pages import synth_pages
from filterz_spark.spark.merge import sketch_column
from filterz_spark.spark.sketch_store import (merge_sketch_range,
                                              read_sketch_store,
                                              write_sketch_epoch)

N = 24_000
EPOCHS = ("2024-01-01", "2024-01-02", "2024-01-03")


@pytest.fixture(scope="module")
def pages(spark):
    df = (synth_pages(spark, N, 8)
          .withColumn("epoch", F.element_at(
              F.array(*[F.lit(e) for e in EPOCHS]),
              ((F.xxhash64("url") % 3 + 3) % 3 + 1).cast("int")))
          .cache())
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def store(tmp_path):
    p = str(tmp_path / "sketch_store")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _write_all(pages, store, kind, params):
    for e in EPOCHS:
        write_sketch_epoch(pages.where(F.col("epoch") == e), "url", store, e,
                           kind=kind, params=params)


class TestBitIdentity:
    @pytest.mark.parametrize("kind,params", [
        ("hll", {"p": 12}),
        ("cms", {"depth": 4, "width": 2048}),
        ("bloom", {"capacity": N, "bits_per_key": 16}),
    ])
    def test_full_range_equals_single_pass(self, spark, pages, store,
                                           kind, params):
        _write_all(pages, store, kind, params)
        merged = merge_sketch_range(spark, store)
        whole = sketch_column(pages, "url", kind, params)
        assert merged.serialize() == whole.serialize()

    def test_subrange_equals_subset_sketch(self, spark, pages, store):
        _write_all(pages, store, "hll", {"p": 12})
        merged = merge_sketch_range(spark, store,
                                    epoch_min=EPOCHS[0], epoch_max=EPOCHS[1])
        subset = sketch_column(
            pages.where(F.col("epoch").isin(*EPOCHS[:2])), "url",
            "hll", {"p": 12})
        assert merged.serialize() == subset.serialize()

    @pytest.mark.parametrize("kind,params", [
        ("hll", {"p": 12}),
        ("cms", {"depth": 4, "width": 2048}),
    ])
    def test_epoch_rewrite_idempotent(self, spark, pages, store, kind,
                                      params):
        """Re-running a day replaces its state rather than folding into
        it, so a counting sketch (CMS) is not double-counted either."""
        _write_all(pages, store, kind, params)
        before = merge_sketch_range(spark, store).serialize()
        # re-run day 2 (crash-replay): replaces ONLY that partition
        write_sketch_epoch(pages.where(F.col("epoch") == EPOCHS[1]), "url",
                           store, EPOCHS[1], kind=kind, params=params)
        after = merge_sketch_range(spark, store).serialize()
        assert after == before
        rows = read_sketch_store(spark, store).count()
        assert rows == len(EPOCHS)  # one state per epoch, no duplicates


    def test_empty_rerun_replaces_epoch_with_zero_state(self, spark, pages,
                                                        store):
        """Re-running an epoch whose rows are all gone must replace its
        state with the identity, not leave the old state in place."""
        for e in EPOCHS[:2]:
            write_sketch_epoch(pages.where(F.col("epoch") == e), "url",
                               store, e, kind="hll", params={"p": 12})
        write_sketch_epoch(pages.where(F.lit(False)), "url", store,
                           EPOCHS[1], kind="hll", params={"p": 12})
        assert read_sketch_store(spark, store).count() == 2
        merged = merge_sketch_range(spark, store)
        only = merge_sketch_range(spark, store, epochs=[EPOCHS[0]])
        assert merged.serialize() == only.serialize()
        assert merge_sketch_range(spark, store,
                                  epochs=[EPOCHS[1]]).estimate() == 0


class TestFanInRound:
    @pytest.mark.parametrize("kind,params", [
        ("hll", {"p": 12}),
        ("cms", {"depth": 4, "width": 2048}),
    ])
    def test_fanin_round_matches_small_partition_count(self, spark, pages,
                                                       tmp_path, kind,
                                                       params):
        """100 input partitions put one executor fan-in round (32 states
        per group) into each epoch write; the merged range must equal a
        4-partition build byte for byte."""
        merged = {}
        for n in (100, 4):
            p = str(tmp_path / f"store_{n}")
            for e in EPOCHS[:2]:
                write_sketch_epoch(
                    pages.where(F.col("epoch") == e).repartition(n), "url",
                    p, e, kind=kind, params=params)
            assert read_sketch_store(spark, p).count() == 2
            merged[n] = merge_sketch_range(spark, p).serialize()
        assert merged[100] == merged[4]


class TestQuantileThroughStore:
    def test_tdigest_rank_bound(self, spark, pages, store):
        ntok = pages.withColumn(
            "ntok", F.size(F.split("text", " ")).cast("double"))
        for e in EPOCHS:
            write_sketch_epoch(ntok.where(F.col("epoch") == e), "ntok",
                               store, e, kind="tdigest", params={"delta": 200})
        s = merge_sketch_range(spark, store)
        exact = ntok.selectExpr(
            "percentile(ntok, array(0.1, 0.5, 0.9)) AS p").collect()[0]["p"]
        for q, ex in zip((0.1, 0.5, 0.9), exact):
            assert abs(s.quantile(q) - ex) <= 2.0, q


class TestMarkerContract:
    def test_params_mismatch_raises(self, spark, pages, store):
        write_sketch_epoch(pages, "url", store, EPOCHS[0],
                           kind="hll", params={"p": 12})
        with pytest.raises(RuntimeError, match="do not merge"):
            write_sketch_epoch(pages, "url", store, EPOCHS[1],
                               kind="hll", params={"p": 14})
        with pytest.raises(RuntimeError, match="do not merge"):
            write_sketch_epoch(pages, "url", store, EPOCHS[1],
                               kind="cms", params={"depth": 4, "width": 64})

    def test_read_validates_kind_and_params(self, spark, pages, store):
        write_sketch_epoch(pages, "url", store, EPOCHS[0],
                           kind="hll", params={"p": 12})
        with pytest.raises(RuntimeError, match="expects"):
            read_sketch_store(spark, store, kind="cms")
        with pytest.raises(RuntimeError, match="do not merge"):
            read_sketch_store(spark, store, kind="hll", params={"p": 14})
        read_sketch_store(spark, store, kind="hll", params={"p": 12})

    def test_unmarked_data_refused(self, spark, pages, tmp_path):
        p = str(tmp_path / "foreign")
        pages.limit(10).select("url").write.parquet(p)
        with pytest.raises(RuntimeError, match="no _filterz_sketch_meta"):
            write_sketch_epoch(pages, "url", p, EPOCHS[0],
                               kind="hll", params={"p": 12})
        with pytest.raises(RuntimeError, match="no _filterz_sketch_meta"):
            read_sketch_store(spark, p)

    def test_round6_part_file_marker_accepted(self, spark, pages, store):
        """Round-6 stores wrote their marker with a Spark job
        (``coalesce(1).write.json``: a part file plus ``_SUCCESS`` and
        ``.crc`` side files). Epoch writes and range merges must still
        read it, and keep checking it."""
        write_sketch_epoch(pages.where(F.col("epoch") == EPOCHS[0]), "url",
                           store, EPOCHS[0], kind="hll", params={"p": 12})
        meta = os.path.join(store, "_filterz_sketch_meta")
        shutil.rmtree(meta)
        spark.createDataFrame(
            [("hll", json.dumps({"p": 12}, sort_keys=True), "hash", 1)],
            "kind string, params string, value_kind string, version int",
        ).coalesce(1).write.json(meta)
        names = sorted(os.listdir(meta))
        assert "_SUCCESS" in names
        assert any(n.startswith("part-") for n in names)
        assert any(n.endswith(".crc") for n in names)
        day1 = pages.where(F.col("epoch") == EPOCHS[1])
        with pytest.raises(RuntimeError, match="do not merge"):
            write_sketch_epoch(day1, "url", store, EPOCHS[1],
                               kind="hll", params={"p": 14})
        write_sketch_epoch(day1, "url", store, EPOCHS[1],
                           kind="hll", params={"p": 12})
        merged = merge_sketch_range(spark, store)
        whole = sketch_column(pages.where(F.col("epoch").isin(*EPOCHS[:2])),
                              "url", "hll", {"p": 12})
        assert merged.serialize() == whole.serialize()
        assert sorted(os.listdir(meta)) == names  # marker left as written

    def test_empty_range_raises(self, spark, pages, store):
        write_sketch_epoch(pages, "url", store, EPOCHS[0],
                           kind="hll", params={"p": 12})
        with pytest.raises(ValueError, match="no states"):
            merge_sketch_range(spark, store, epoch_min="2030-01-01")


class TestPlan:
    def test_range_scan_is_partition_pruned(self, spark, pages, store):
        _write_all(pages, store, "hll", {"p": 12})
        states = read_sketch_store(spark, store) \
            .where(F.col("epoch") == EPOCHS[0])
        plan = states._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "epoch" in plan, plan
        # the epoch predicate must sit in PartitionFilters (pruned at file
        # listing), not as a post-scan Filter over all partitions
        pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert EPOCHS[0] in pf or "epoch" in pf, pf

    def test_range_merge_is_one_job(self, spark, pages, store):
        _write_all(pages, store, "hll", {"p": 12})
        sc = spark.sparkContext
        group = "sketch_store_range_merge"
        sc.setJobGroup(group, group)
        try:
            merge_sketch_range(spark, store, epoch_min=EPOCHS[1])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
