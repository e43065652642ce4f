"""Gates for the round-6 webtext additions:

- ops/html.py — HTML -> text extraction: hand-computed expected outputs,
  edge zoo (script/style/comment blocks, stringified close tags inside
  script, entity order incl. double-escapes, whitespace collapse), the
  generated DuckDB twin equals Spark on every zoo row (one step table,
  two engines), map-only plan;
- ops/dedup.duplicate_spans — Lee-et-al substring-dedup stats vs an
  independent python reference (ownership = corpus-min doc), short-doc
  single span, self-owned repeats not counted, NULL texts sharing one
  NULL span, one corpus explode and no window;
- ops/web.url_blocklist_filter — host and registered-domain match modes,
  path keyword rule, broadcast (never shuffled) anti-join plan.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from filterz_spark.ops.dedup import duplicate_spans
from filterz_spark.ops.html import (extract_html_text,
                                    extract_html_text_sql, html_to_text)
from filterz_spark.ops.web import url_blocklist_filter

HTML_ZOO = [
    # (html, expected extracted text)
    ("<p>hello world</p>", "hello world"),
    ("plain text, no markup", "plain text, no markup"),
    ("<SCRIPT>if (1 < 2) { x = \"</div>\"; }</script >after",
     "after"),
    ("<style media=\"all\">p > a { color: red }</style>kept", "kept"),
    ("a<!-- comment with <p> tag -->b", "a b"),
    ("<h1>Title</h1><p>one</p><p>two</p>", "Title\none\ntwo"),
    ("x<br>y<br/>z", "x\ny\nz"),
    ("<ul><li>A</li><li>B</li></ul>", "A\nB"),
    ("<span class='x'>in</span>line", "in line"),
    ("A &amp; B &lt;= C &gt; D &quot;q&quot; &#39;s&#39; &nbsp;E",
     "A & B <= C > D \"q\" 's' E"),
    # double-escaped: &amp;lt; must decode to the TEXT "&lt;", not "<"
    ("&amp;lt;not-a-tag&amp;gt;", "&lt;not-a-tag&gt;"),
    ("  <p>  spaced   out  </p>  ", "spaced out"),
    ("<div><div><p>deep</p></div></div>", "deep"),
    ("<td>cell</td><em>emph</em>", "cell emph"),
    ("<script src=\"x.js\"></script><p>body</p>", "body"),
    ("<style>a{b:c}</style><style>d{e:f}</style>g", "g"),
    ("line1\n\n\nline2", "line1\nline2"),
    ("<p>a</p>\n\n<p>b</p>", "a\nb"),
    ("", ""),
    ("<p></p>", ""),
]


class TestHtmlToText:
    def test_zoo_expected(self, spark):
        rows = [(i, h) for i, (h, _) in enumerate(HTML_ZOO)]
        df = spark.createDataFrame(rows, "doc_id long, html string")
        got = {r["doc_id"]: r["text"]
               for r in extract_html_text(df).collect()}
        for i, (html, want) in enumerate(HTML_ZOO):
            assert got[i] == want, f"zoo[{i}] {html!r}: {got[i]!r} != {want!r}"

    def test_duckdb_twin_matches_spark(self, spark):
        """The generated DuckDB chain and the Spark expression come from
        one step table — prove they agree on every zoo row."""
        con = duckdb.connect()
        sql = extract_html_text_sql("?")
        # parameterized single-value probe per zoo row
        for html, want in HTML_ZOO:
            got = con.execute(f"SELECT {sql}", [html]).fetchone()[0]
            assert got == want, f"duckdb twin on {html!r}: {got!r}"

    def test_map_only_plan(self, spark):
        df = spark.createDataFrame([(1, "<p>x</p>")],
                                   "doc_id long, html string")
        p = extract_html_text(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, "extraction must not shuffle"
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    def test_column_form_composable(self, spark):
        df = spark.createDataFrame([("<b>t</b>",)], "h string")
        assert df.select(html_to_text("h").alias("t")).first()["t"] == "t"

    def test_recovers_synth_pages_text_byte_identical(self, spark):
        """The input-hint per-row invariant via the pure-JVM path: over
        the synthetic pages table (url, warc_ts, html BINARY, text, lang)
        the extractor must recover `text` byte-identically from `html`
        on every row — the title line is the only other content."""
        from filterz_spark.sources.pages import synth_pages

        pages = synth_pages(spark, 300, num_partitions=5)
        ext = pages.select(
            "text",
            html_to_text(F.col("html").cast("string")).alias("ex"))
        bad = ext.where(
            F.element_at(F.split("ex", "\n"), 2) != F.col("text")).count()
        assert bad == 0


def _ref_duplicate_spans(docs, w):
    """Independent reference: dict doc_id -> (n_spans, n_dup_spans). A
    NULL text is one NULL span, shared by every NULL text."""
    owner, spans_by_doc = {}, {}
    for did, text in sorted(docs):
        if text is None:
            sp = [None]
        else:
            toks = text.split(" ")
            n = max(len(toks) - w + 1, 1)
            sp = [" ".join(toks[i:i + w]) for i in range(n)]
        spans_by_doc[did] = sp
        for s in sp:
            owner.setdefault(s, did)
    return {did: (len(sp), sum(1 for s in sp if owner[s] < did))
            for did, sp in spans_by_doc.items()}


DOCS = [
    (1, "a b c d e f g h"),
    (2, "z z a b c d q r"),          # copies doc1's "a b c d" run
    (3, "u v w x y"),                # unique
    (4, "a b c d e f g h"),          # exact duplicate of doc1
    (5, "m n"),                      # shorter than the window: ONE span
    (6, "m n"),                      # duplicate short doc
    (7, "p q p q p q p q"),          # self-owned repeats: NOT duplicates
    (8, None),                       # NULL text: one NULL span
    (9, ""),                         # empty text: one empty span
    (10, None),                      # later NULL text: its span is a dup
]


class TestDuplicateSpans:
    @pytest.mark.parametrize("w", [3, 4, 8])
    def test_matches_reference(self, spark, w):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
               for r in duplicate_spans(df, window=w).collect()}
        assert got == _ref_duplicate_spans(DOCS, w)

    def test_semantics_pinned(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               duplicate_spans(df, window=4).collect()}
        assert got[4]["dup_frac"] == 1.0          # exact dup: all spans dup
        assert got[3]["n_dup_spans"] == 0         # unique doc
        assert got[5]["n_spans"] == 1             # short doc: one span
        assert got[6]["n_dup_spans"] == 1         # dup short doc
        assert got[7]["n_dup_spans"] == 0         # self-owned repeats
        assert got[2]["n_dup_spans"] == 1         # the "a b c d" window
        assert (got[8]["n_spans"], got[8]["n_dup_spans"]) == (1, 0)
        assert (got[9]["n_spans"], got[9]["n_dup_spans"]) == (1, 0)
        assert (got[10]["n_spans"], got[10]["n_dup_spans"]) == (1, 1)

    def test_plan_shapes_no_python(self, spark):
        """The corpus is exploded ONCE (one Generate, before and after
        adaptive execution) and every owner step is a map-side-combinable
        aggregate: no window operator, and four hash exchanges — (doc_id,
        fp), fp, the owner's doc_id, and the doc_id side of the join to
        the map-side span totals. No Python runs."""
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        out = duplicate_spans(df)
        p = out._jdf.queryExecution().executedPlan().toString()
        assert p.count("Generate ") == 1, p
        assert "Window" not in p, p
        assert p.count("Exchange hashpartitioning") == 4, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        out.collect()
        final = out._jdf.queryExecution().executedPlan().toString() \
            .split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final
        assert final.count("Generate ") == 1, final
        assert "Window" not in final, final

URLS = [
    (1, "http://www.bad.example.com/a"),
    (2, "https://bad.example.com/b"),
    (3, "http://good.example.org/c"),
    (4, "http://good.example.org/ads/tracker.js"),
    (5, "http://sub.spam.co.uk/d"),
]


class TestUrlBlocklist:
    def test_domain_mode_blocks_subdomains(self, spark):
        docs = spark.createDataFrame(URLS, "doc_id long, url string")
        blocked = spark.createDataFrame(
            [("example.com",), ("spam.co.uk",)], "domain string")
        kept = {r["doc_id"] for r in
                url_blocklist_filter(docs, blocked).collect()}
        assert kept == {3, 4}

    def test_host_mode_exact(self, spark):
        docs = spark.createDataFrame(URLS, "doc_id long, url string")
        blocked = spark.createDataFrame(
            [("bad.example.com",)], "host string")
        kept = {r["doc_id"] for r in
                url_blocklist_filter(docs, blocked, match="host").collect()}
        assert kept == {1, 3, 4, 5}   # www.bad.example.com is a DIFFERENT host

    def test_path_pattern(self, spark):
        docs = spark.createDataFrame(URLS, "doc_id long, url string")
        blocked = spark.createDataFrame([("spam.co.uk",)], "domain string")
        kept = {r["doc_id"] for r in url_blocklist_filter(
            docs, blocked, path_pattern="/ads/").collect()}
        assert kept == {1, 2, 3}

    def test_bad_match_raises(self, spark):
        docs = spark.createDataFrame(URLS, "doc_id long, url string")
        blocked = spark.createDataFrame([("x",)], "host string")
        with pytest.raises(ValueError, match="match"):
            url_blocklist_filter(docs, blocked, match="tld")

    def test_broadcast_anti_join_plan(self, spark):
        docs = spark.createDataFrame(URLS, "doc_id long, url string")
        blocked = spark.createDataFrame([("x",)], "domain string")
        p = url_blocklist_filter(docs, blocked, path_pattern="/ads/") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
        assert "Exchange hashpartitioning" not in p, \
            "the corpus side must never shuffle"
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


class TestClassifierScores:
    def test_matches_hand_computed(self, spark):
        import math
        from filterz_spark.ops.text import classifier_scores
        docs = spark.createDataFrame(
            [(1, "good good bad"), (2, "zzz zzz zzz zzz")],
            "doc_id long, text string")
        w = spark.createDataFrame([("good", 2.0), ("bad", -1.0)],
                                  "token string, weight double")
        got = {r["doc_id"]: r for r in
               classifier_scores(docs, w, bias=0.5,
                                 default_weight=-0.25).collect()}
        exp1 = 1 / (1 + math.exp(-(0.5 + (2.0 + 2.0 - 1.0) / 3)))
        exp2 = 1 / (1 + math.exp(-(0.5 + 4 * -0.25 / 4)))
        assert got[1]["n_tokens"] == 3
        assert abs(got[1]["quality_prob"] - exp1) < 1e-6
        assert abs(got[2]["quality_prob"] - exp2) < 1e-6

    def test_plan_broadcast_one_shuffle(self, spark):
        from filterz_spark.ops.text import classifier_scores
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        w = spark.createDataFrame([("a", 1.0)], "token string, weight double")
        p = classifier_scores(docs, w)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in p, p
        assert p.count("Exchange hashpartitioning") == 1, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


class TestScoreQuantileBuckets:
    def test_tie_group_never_splits(self, spark):
        from filterz_spark.ops.relational import score_quantile_buckets
        rows = [(1, 5.0), (2, 4.0), (3, 4.0), (4, 3.0), (5, 2.0), (6, 1.0)]
        df = spark.createDataFrame(rows, "doc_id long, s double")
        got = {r["doc_id"]: r["bucket"] for r in
               score_quantile_buckets(df, "s").collect()}
        # frac strictly ahead of each SCORE GROUP: 5.0->0, 4.0->1/6 (both
        # head, the tie is unsplit), 3.0->3/6 middle, 2.0->4/6 tail, 1.0 tail
        assert got == {1: "head", 2: "head", 3: "head",
                       4: "middle", 5: "tail", 6: "tail"}

    def test_ascending_mode(self, spark):
        from filterz_spark.ops.relational import score_quantile_buckets
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 7)], "doc_id long, s double")
        got = {r["doc_id"]: r["bucket"] for r in
               score_quantile_buckets(df, "s", ascending=True).collect()}
        assert got == {1: "head", 2: "head", 3: "middle",
                       4: "middle", 5: "tail", 6: "tail"}

    def test_bad_labels_raise(self, spark):
        import pytest as _pytest
        from filterz_spark.ops.relational import score_quantile_buckets
        df = spark.createDataFrame([(1, 1.0)], "doc_id long, s double")
        with _pytest.raises(ValueError, match="labels"):
            score_quantile_buckets(df, "s", cuts=(0.5,),
                                   labels=("a", "b", "c"))

    def test_unbounded_scores_raise_loudly(self, spark):
        """Round-7 guard: a continuous unrounded score (distinct count
        above max_distinct_scores) must RAISE at execution instead of
        silently building a corpus-sized single-reducer window; a bounded
        score under the cap passes with identical buckets."""
        import pytest as _pytest
        from filterz_spark.ops.relational import score_quantile_buckets
        df = spark.createDataFrame(
            [(i, float(i) + 0.123) for i in range(100)], "doc_id long, s double")
        with _pytest.raises(Exception, match="max_distinct_scores"):
            score_quantile_buckets(df, "s", max_distinct_scores=10).collect()
        guarded = {r["doc_id"]: r["bucket"] for r in
                   score_quantile_buckets(df, "s",
                                          max_distinct_scores=100).collect()}
        unguarded = {r["doc_id"]: r["bucket"] for r in
                     score_quantile_buckets(df, "s",
                                            max_distinct_scores=None).collect()}
        assert guarded == unguarded and len(guarded) == 100

    def test_corpus_side_map_only(self, spark):
        """The only hashpartitioning exchange is the histogram groupBy;
        the corpus rejoins via broadcast — no rank window over rows.
        The round-7 distinct-score guard renders the SAME histogram
        exchange a second time in the static plan (its 1-row count agg
        consumes the histogram; AQE reuses the shuffle stage at runtime),
        so the guarded plan shows two identical hash exchanges and the
        unguarded plan exactly one."""
        from filterz_spark.ops.relational import score_quantile_buckets
        df = spark.createDataFrame(
            [(i, float(i % 7)) for i in range(100)], "doc_id long, s double")
        p = score_quantile_buckets(df, "s", max_distinct_scores=None) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p, p
        assert p.count("Exchange hashpartitioning") == 1, p
        pg = score_quantile_buckets(df, "s")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in pg, pg
        assert pg.count("Exchange hashpartitioning") == 2, pg
