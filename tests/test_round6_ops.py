"""Round-6 session-3 operator gates:

- dedup_lines: corpus-wide first-occurrence line dedup (RefinedWeb pass)
  — first copy survives (cross-doc AND within-doc), original order kept,
  fully-deduped docs come back empty, scope_col restricts the rule,
  every mode equals a python first-occurrence reference, a NULL text
  counts 0 lines, plan stays JVM-only with no window;
- top_ngrams: deterministic top-k with count-desc/shingle-asc tiebreak,
  short-doc whole-text shingle contract;
- token_budget_sample: prefix semantics, budget monotonicity (the
  incremental-growth property), token_col override, validation;
- semdedup: triangular smaller-id drop rule within clusters, cluster
  isolation, trained-centroids path equals the label path on separable
  data, argument validation, JVM-only plan on the cluster_col path.
"""

import pytest
from pyspark.sql import functions as F

from filterz_spark.ops.relational import token_budget_sample
from filterz_spark.ops.similarity import semdedup
from filterz_spark.ops.text import dedup_lines, top_ngrams

LINE_DOCS = [
    # doc 1 owns "dup line" (first in (doc_id, pos) order) and repeats it
    # internally — only the FIRST copy survives anywhere
    (1, "A", "dup line\nunique one\ndup line"),
    (2, "A", "dup line\nunique two"),
    # doc 3 is entirely copies of earlier lines -> empty clean_text
    (3, "B", "dup line\nunique one"),
    (4, "B", "unique three\ndup line"),
]


def _ref_dedup_lines(docs, scoped=False):
    """Independent first-occurrence reference: dict doc_id ->
    (clean_text, n_lines_kept, n_lines_removed); with ``scoped`` a line
    is first per source instead of corpus-wide."""
    seen, out = set(), {}
    for did, src, text in sorted(docs):
        lines = [] if text is None else text.split("\n")
        kept = []
        for line in lines:
            key = (src, line) if scoped else line
            if key not in seen:
                seen.add(key)
                kept.append(line)
        out[did] = ("\n".join(kept), len(kept), len(lines) - len(kept))
    return out


@pytest.fixture(scope="module")
def line_docs(spark):
    return spark.createDataFrame(
        LINE_DOCS, "doc_id long, source string, text string")


class TestDedupLines:
    def test_first_occurrence_and_order(self, spark, line_docs):
        got = {r["doc_id"]: r for r in dedup_lines(line_docs).collect()}
        assert got[1]["clean_text"] == "dup line\nunique one"
        assert got[1]["n_lines_kept"] == 2 and got[1]["n_lines_removed"] == 1
        assert got[2]["clean_text"] == "unique two"
        assert got[3]["clean_text"] == ""
        assert got[3]["n_lines_kept"] == 0 and got[3]["n_lines_removed"] == 2
        assert got[4]["clean_text"] == "unique three"
        assert len(got) == len(LINE_DOCS)

    def test_order_preserved_many_lines(self, spark):
        text = "\n".join(f"line {i}" for i in range(40))
        df = spark.createDataFrame([(1, "g", text), (2, "g", text)],
                                   "doc_id long, source string, text string")
        out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
        assert out[1]["clean_text"] == text  # doc 1 owns every line
        assert out[2]["clean_text"] == "" and out[2]["n_lines_removed"] == 40

    def test_scope_col_restricts_rule(self, spark, line_docs):
        # per-source scope: doc 3 is group B's FIRST sight of both lines
        got = {r["doc_id"]: r for r in
               dedup_lines(line_docs, scope_col="source").collect()}
        assert got[3]["clean_text"] == "dup line\nunique one"
        assert got[4]["clean_text"] == "unique three"

    def test_hash_variant_identical(self, spark, line_docs):
        exact = dedup_lines(line_docs).sort("doc_id").collect()
        hashed = dedup_lines(line_docs, join_on_hash=True) \
            .sort("doc_id").collect()
        assert exact == hashed

    def test_jvm_only(self, spark, line_docs):
        p = dedup_lines(line_docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    def test_matches_reference(self, spark, line_docs):
        """Plain, hashed and source-scoped modes all equal the python
        first-occurrence reference."""
        for kw, scoped in (({}, False), ({"join_on_hash": True}, False),
                           ({"scope_col": "source"}, True)):
            got = {r["doc_id"]: (r["clean_text"], r["n_lines_kept"],
                                 r["n_lines_removed"])
                   for r in dedup_lines(line_docs, **kw).collect()}
            assert got == _ref_dedup_lines(LINE_DOCS, scoped), kw

    def test_null_text_counts_zero_lines(self, spark):
        df = spark.createDataFrame(
            [(1, "A", "x\ny"), (2, "A", None)],
            "doc_id long, source string, text string")
        got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
        assert got[2]["clean_text"] == ""
        assert (got[2]["n_lines_kept"], got[2]["n_lines_removed"]) == (0, 0)
        assert got[1]["n_lines_kept"] == 2

    def test_agg_owner_has_no_window_operator(self, spark, line_docs):
        for kw in ({}, {"join_on_hash": True}, {"scope_col": "source"}):
            p = dedup_lines(line_docs, **kw)._jdf.queryExecution() \
                .executedPlan().toString()
            assert "Window" not in p, p


class TestTopNgrams:
    def test_counts_and_tiebreak(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c d"), (3, "z z")],
            "doc_id long, text string")
        # bigrams: doc1 -> "a b","b a","a b"; doc2 -> "a b","b c","c d";
        # doc3 -> "z z"
        rows = top_ngrams(df, n=2, k=3).collect()
        assert [(r["shingle"], r["cnt"]) for r in rows] == \
            [("a b", 3), ("b a", 1), ("b c", 1)]  # ties broken by string

    def test_short_doc_whole_text_shingle(self, spark):
        df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        rows = top_ngrams(df, n=3, k=5).collect()
        assert [(r["shingle"], r["cnt"]) for r in rows] == [("solo", 1)]


class TestTokenBudgetSample:
    DOCS = [(i, "s" if i < 8 else "t", "w " * (i + 1) + "end")
            for i in range(12)]

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            self.DOCS, "doc_id long, source string, text string")

    def test_prefix_semantics(self, spark, docs):
        out = token_budget_sample(docs, budget=20).collect()
        assert all(r["cum_tokens"] <= 20 for r in out)
        # re-derive the expected kept set from the same hash order
        ordered = (docs.select(
            "doc_id", "source",
            F.size(F.split("text", " ")).alias("n"),
            F.md5(F.concat_ws(":", F.lit("42"), F.col("doc_id"))).alias("h"))
            .sort("source", "h", "doc_id").collect())
        expect = set()
        cum: dict = {}
        for r in ordered:
            c = cum.get(r["source"], 0) + r["n"]
            cum[r["source"]] = c
            if c <= 20:
                expect.add(r["doc_id"])
        assert {r["doc_id"] for r in out} == expect

    def test_budget_monotonicity(self, spark, docs):
        small = {r["doc_id"] for r in
                 token_budget_sample(docs, budget=15).collect()}
        big = {r["doc_id"] for r in
               token_budget_sample(docs, budget=40).collect()}
        assert small <= big

    def test_token_col_override_and_overflow(self, spark, docs):
        d = docs.withColumn("toks", F.lit(1000).cast("long"))
        assert token_budget_sample(d, budget=999,
                                   token_col="toks").count() == 0

    def test_validation(self, spark, docs):
        with pytest.raises(ValueError, match="budget"):
            token_budget_sample(docs, budget=0)


class TestPackSequences:
    L = 16

    @pytest.fixture(scope="class")
    def docs(self, spark):
        # lengths 1..20 tokens: several straddle the 16-token boundary,
        # doc 19 (20+1 tokens) can span two sequences on its own
        rows = [(i, "w " * i + "end") for i in range(20)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_offsets_match_sequential_rule(self, spark, docs):
        from filterz_spark.ops.pack import token_offsets
        got = {r["doc_id"]: r for r in token_offsets(docs).collect()}
        ordered = (docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n"),
            F.md5(F.concat_ws(":", F.lit("42"), F.col("doc_id"))).alias("h"))
            .sort("h", "doc_id").collect())
        acc = 0
        for r in ordered:
            assert got[r["doc_id"]]["start_offset"] == acc
            assert got[r["doc_id"]]["n_tokens"] == r["n"]
            acc += r["n"]

    def test_slices_reconstruct_docs_and_fill_sequences(self, spark, docs):
        from filterz_spark.ops.pack import pack_sequences
        rows = pack_sequences(docs, seq_len=self.L).collect()
        by_doc: dict = {}
        by_seq: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
            by_seq.setdefault(r["seq_id"], []).append(r)
        # per doc: slices contiguous from 0, summing to its token count
        n_tok = {r["doc_id"]: r["n"] for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")).collect()}
        for did, sl in by_doc.items():
            sl.sort(key=lambda r: r["doc_begin"])
            assert sl[0]["doc_begin"] == 0
            for a, b in zip(sl, sl[1:]):
                assert a["doc_begin"] + a["slice_len"] == b["doc_begin"]
            assert sum(r["slice_len"] for r in sl) == n_tok[did]
        # per sequence: slices tile [0, L) exactly (short last seq allowed)
        last = max(by_seq)
        for sid, sl in by_seq.items():
            sl.sort(key=lambda r: r["seq_pos"])
            assert sl[0]["seq_pos"] == 0
            for a, b in zip(sl, sl[1:]):
                assert a["seq_pos"] + a["slice_len"] == b["seq_pos"]
            total = sum(r["slice_len"] for r in sl)
            assert total == self.L or (sid == last and total < self.L)

    def test_deterministic_under_repartition(self, spark, docs):
        from filterz_spark.ops.pack import pack_sequences
        a = sorted(map(tuple, pack_sequences(docs, seq_len=self.L).collect()))
        b = sorted(map(tuple, pack_sequences(
            docs.repartition(7), seq_len=self.L).collect()))
        assert a == b

    def test_long_doc_straddles_many(self, spark):
        from filterz_spark.ops.pack import pack_sequences
        df = spark.createDataFrame([(1, "w " * 49 + "end")],
                                   "doc_id long, text string")
        rows = pack_sequences(df, seq_len=self.L).collect()
        assert len(rows) == 4  # 50 tokens over 16-token seqs

    def test_validation_and_zero_token_rows(self, spark):
        from filterz_spark.ops.pack import pack_sequences, token_offsets
        df = spark.createDataFrame([(1, "a b"), (2, None)],
                                   "doc_id long, text string")
        with pytest.raises(ValueError, match="seq_len"):
            pack_sequences(df, seq_len=0)
        d = df.withColumn("nt", F.when(F.col("text").isNotNull(),
                                       F.size(F.split("text", " ")))
                          .otherwise(F.lit(0)).cast("long"))
        out = token_offsets(d, token_col="nt").collect()
        assert [r["doc_id"] for r in out] == [1]  # zero-token row excluded


class TestSemDedup:
    # two well-separated clusters in 2-D; ids ordered so the triangular
    # rule is distinguishable from connected-components semantics
    EMB = [
        (0, [1.0, 0.0], 0),     # kept: no smaller-id mate
        (1, [1.0, 0.01], 0),    # dropped: ~1.0 cosine to 0
        (2, [0.0, 1.0], 0),     # kept: orthogonal to 0 and 1
        (3, [1.0, 0.0], 1),     # kept: identical to 0 but OTHER cluster
        (4, [0.02, 1.0], 1),    # kept: orthogonal-ish to 3
        (5, [0.03, 1.0], 1),    # dropped: near-dup of 4 (4 is kept)
        (6, [0.04, 1.0], 1),    # dropped: near-dup of 5 EVEN THOUGH 5 is
                                # dropped — the triangular rule, not CC
    ]

    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.createDataFrame(
            self.EMB, "vec_id long, embedding array<float>, label int")

    def test_triangular_rule_and_cluster_isolation(self, spark, emb):
        got = {r["vec_id"]: r for r in
               semdedup(emb, threshold=0.99, cluster_col="label").collect()}
        assert len(got) == len(self.EMB)
        assert {i for i, r in got.items() if r["kept"]} == {0, 2, 3, 4}
        assert all(got[i]["cluster"] == lab for i, _, lab in self.EMB)

    def test_trained_centroids_path_matches(self, spark):
        # ids 0/1 span the two natural directions, so ivf_train's
        # deterministic lowest-id init starts one centroid per cluster
        # and Lloyd converges to the label partition
        from filterz_spark.ops.similarity import ivf_train
        emb2 = spark.createDataFrame(
            [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1),
             (2, [1.0, 0.01], 0), (3, [0.01, 1.0], 1),
             (4, [0.8, 0.2], 0), (5, [0.2, 0.8], 1)],
            "vec_id long, embedding array<float>, label int")
        cents = ivf_train(emb2, n_clusters=2, iters=3)
        via_label = semdedup(emb2, threshold=0.99, cluster_col="label") \
            .sort("vec_id").collect()
        via_cents = semdedup(emb2, threshold=0.99, centroids=cents) \
            .sort("vec_id").collect()
        # cluster IDS may be permuted between the two assignments; the
        # kept/dropped decision must agree on separable data
        assert [r["kept"] for r in via_label] == \
            [r["kept"] for r in via_cents]
        assert [r["kept"] for r in via_label] == \
            [True, True, False, False, True, True]

    def test_validation(self, spark, emb):
        with pytest.raises(ValueError, match="exactly one"):
            semdedup(emb)
        with pytest.raises(ValueError, match="exactly one"):
            semdedup(emb, cluster_col="label",
                     centroids=[[1.0, 0.0], [0.0, 1.0]])

    def test_jvm_only_on_cluster_col_path(self, spark, emb):
        p = semdedup(emb, threshold=0.5, cluster_col="label") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
