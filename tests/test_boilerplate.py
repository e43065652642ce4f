"""Boilerplate-removal gates (ops/text.py round 6):

- the CCNet-style rule on a crafted corpus: shared headers/footers
  stripped per group, bodies kept in ORIGINAL order, all-template docs
  come back empty (not dropped), singleton groups untouched;
- hash-keyed variant (join_on_hash) is row-identical to the exact path;
- a NULL text counts 0 lines (kept and removed), never NULL;
- plan gate: pure JVM (no Python stage), group sizes broadcast.
"""

import pytest
from pyspark.sql import functions as F

from filterz_spark.ops.text import boilerplate_lines, remove_boilerplate

DOCS = [
    # group A: HEAD on all 3 docs, FOOT on 2 of 3 (frac 0.5 -> both strip
    # at min_docs=2), bodies unique
    (1, "A", "HEAD\nbody one alpha\nFOOT"),
    (2, "A", "HEAD\nbody two beta\nmiddle keep\nFOOT"),
    (3, "A", "HEAD\nbody three gamma"),
    # group A: a doc that is ALL template
    (4, "A", "HEAD\nFOOT"),
    # group B: single doc — min_docs=2 means nothing can be boilerplate
    (5, "B", "HEAD\nonly doc here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, source string, text string")


class TestRule:
    def test_boilerplate_table(self, spark, docs):
        bp = {(r["source"], r["line"]): r["df"] for r in
              boilerplate_lines(docs, min_docs=2, doc_frac=0.5).collect()}
        assert bp == {("A", "HEAD"): 4, ("A", "FOOT"): 3}

    def test_clean_texts_and_counts(self, spark, docs):
        got = {r["doc_id"]: r for r in
               remove_boilerplate(docs, min_docs=2, doc_frac=0.5).collect()}
        assert got[1]["clean_text"] == "body one alpha"
        assert got[2]["clean_text"] == "body two beta\nmiddle keep"
        assert got[3]["clean_text"] == "body three gamma"
        assert got[4]["clean_text"] == "" and got[4]["n_lines_kept"] == 0
        assert got[4]["n_lines_removed"] == 2
        assert got[5]["clean_text"] == "HEAD\nonly doc here"
        assert got[2]["n_lines_kept"] == 2 and got[2]["n_lines_removed"] == 2
        assert len(got) == len(DOCS)

    def test_order_preserved_many_lines(self, spark):
        text = "\n".join(f"line {i}" for i in range(40))
        df = spark.createDataFrame([(1, "g", text), (2, "g", text)],
                                   "doc_id long, source string, text string")
        # every line appears in both docs -> all boilerplate at frac 0.5
        out = remove_boilerplate(df, min_docs=2).collect()
        assert all(r["clean_text"] == "" for r in out)
        # raise the bar so nothing strips: order must be the original
        out2 = {r["doc_id"]: r["clean_text"] for r in
                remove_boilerplate(df, min_docs=3).collect()}
        assert out2[1] == text

    def test_hash_variant_identical(self, spark, docs):
        exact = remove_boilerplate(docs, min_docs=2).sort("doc_id").collect()
        hashed = remove_boilerplate(docs, min_docs=2,
                                    join_on_hash=True).sort("doc_id").collect()
        assert exact == hashed

    def test_null_text_counts_zero_lines(self, spark):
        df = spark.createDataFrame(
            [(1, "A", "HEAD\nx"), (2, "A", "HEAD\ny"), (3, "A", None)],
            "doc_id long, source string, text string")
        got = {r["doc_id"]: r for r in
               remove_boilerplate(df, min_docs=2, doc_frac=0.5).collect()}
        assert got[3]["clean_text"] == ""
        assert (got[3]["n_lines_kept"], got[3]["n_lines_removed"]) == (0, 0)
        assert (got[1]["clean_text"], got[1]["n_lines_removed"]) == ("x", 1)


class TestPlan:
    def test_jvm_only_and_broadcast_sizes(self, spark, docs):
        p = remove_boilerplate(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


class TestRedactPii:
    CASES = [
        (1, "mail me at a.b+c_1@sub.example.org today"),
        (2, "server 192.168.0.1 then call 555-123-4567"),
        (3, "dotted phone 555.123.4567 vs ip 10.0.0.7"),
        (4, "nothing sensitive here"),
        (5, "two mails x@y.io and z@w.co plus 1.2.3.4"),
    ]

    def test_counts_and_masking(self, spark):
        from filterz_spark.ops.text import redact_pii
        df = spark.createDataFrame(self.CASES, "doc_id long, text string")
        got = {r["doc_id"]: r for r in redact_pii(df).collect()}
        assert got[1]["n_email"] == 1 and "[PII-email]" in got[1]["redacted_text"]
        assert "@" not in got[1]["redacted_text"].replace("[PII-email]", "")
        assert got[2]["n_ipv4"] == 1 and got[2]["n_phone"] == 1
        assert got[2]["redacted_text"] == \
            "server [PII-ipv4] then call [PII-phone]"
        # order rule: ipv4 runs before phone, so a dotted phone that also
        # parses as neither stays phone; the dotted IP is ipv4
        assert got[3]["n_ipv4"] == 1 and got[3]["n_phone"] == 1
        assert got[4]["n_email"] == got[4]["n_ipv4"] == got[4]["n_phone"] == 0
        assert got[4]["redacted_text"] == "nothing sensitive here"
        assert got[5]["n_email"] == 2 and got[5]["n_ipv4"] == 1

    def test_map_only_jvm(self, spark):
        from filterz_spark.ops.text import redact_pii
        df = spark.createDataFrame(self.CASES, "doc_id long, text string")
        p = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "Exchange" not in p
