"""Text-analysis operators over document tables — JVM-side built-ins only.

Every operator here is expressed with pyspark.sql.functions (whole-stage
codegen, no Python in the hot path) and has an exact ANSI-SQL twin runnable
in DuckDB, so each is oracle-checkable by the driver harness. These are the
text primitives a web-scale training-data pipeline runs in front of the
sketch layer: token counting, quality scoring, marker-based language ID,
document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..spark.partitioning import ensure_parallelism

# stopword-ish marker tokens per language for the n-gram/marker heuristic
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
}

STOPWORDS = ["the", "and", "of", "a", "to", "in", "is", "it"]


def normalize_text(docs: DataFrame, text_col: str = "text",
                   keep_cols: tuple = ()) -> DataFrame:
    """Canonicalization pass before exact/near dedup:
    (doc_id, [keep_cols...,] norm_text, norm_hash) — lowercase, strip
    non-alphanumerics, collapse whitespace, plus the md5 of the result
    (the exact-dedup key). ``keep_cols`` ride along in the same projection
    — no separate join back to the corpus for metadata columns.

    Pure per-row JVM expressions (lower/regexp_replace/trim/md5) — map-only,
    pushes past the scan, identical semantics in ANSI engines (DuckDB twin
    uses the 'g' replace flag; Spark replaces all matches by default).

    The strip pattern is ``[^a-z0-9]`` WITHOUT the space: since the
    replacement is itself a space, also "replacing" spaces is a no-op in
    the output, so the result is byte-identical to ``[^a-z0-9 ]`` — and
    measured ~28x faster on this JVM, whose regex engine degrades
    pathologically on negated classes with three-plus components
    (``[^a-z0-9 ]`` 18.5s vs ``[^a-z0-9]`` 0.7s for 200k ~700-char rows
    at 16 cores; two-component forms like ``[^a-z ]`` are fine). At
    corpus scale this pass runs over every byte, so the constant matters.
    """
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, "[^a-z0-9]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    return docs.select("doc_id", *keep_cols, t.alias("norm_text"),
                       F.md5(t).alias("norm_hash"))


def _top_count(arr):
    """Largest multiplicity in a string array: its longest run once
    sorted, in one ``aggregate`` over (previous, run, best)."""
    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["p"]), acc["r"] + 1).otherwise(1)
        return F.struct(x.alias("p"), run.alias("r"),
                        F.greatest(acc["b"], run).alias("b"))
    start = F.struct(F.lit(None).cast("string").alias("p"),
                     F.lit(0).alias("r"), F.lit(0).alias("b"))
    return F.aggregate(F.array_sort(arr), start, step)["b"]


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    (doc_id, n_words, distinct_ratio, top_word_frac, top_bigram_frac).

    distinct_ratio = distinct/total words; top_word_frac = most frequent
    word's share of all words; top_bigram_frac = most frequent bigram's
    share of all bigrams. Boilerplate/spam pages score low distinct_ratio
    and high top-fractions — the standard pre-training repetition filters.
    Words are ``split(text, ' ')`` (empty words of runs of spaces count)
    and bigrams ``shingle_array(2)``; a NULL text yields no row.

    Plan: one projection per input row, all JVM built-ins — no explode,
    aggregate or shuffle: each top count is the longest run of the sorted
    word (bigram) array. ``doc_id`` is the row key: a repeated doc_id
    gives one row per input row.
    """
    from .dedup import shingle_array
    words, bigrams = F.col("__w"), F.col("__b")
    n = F.size(words)
    base = (ensure_parallelism(docs.select("doc_id", "text"))
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.split("text", " ").alias("__w"),
                    shingle_array(2).alias("__b")))
    return base.select(
        "doc_id", n.cast("long").alias("n_words"),
        F.round(F.size(F.array_distinct(words)) / n, 4).alias("distinct_ratio"),
        F.round(_top_count(words) / n, 4).alias("top_word_frac"),
        F.round(_top_count(bigrams) / F.size(bigrams), 4)
        .alias("top_bigram_frac"))


def unigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """Corpus-unigram language-model score per doc:
    (doc_id, n_words, lm_score = mean over words of ln(corpus_freq(word)
    / total_words)) — the cheap LM-filter proxy (KenLM-style perplexity
    filtering's unigram floor): gibberish and rare-token spam score very
    negative, fluent text near the corpus average.

    Plan: LAZY and ONE corpus scan. Words reduce first to per-(doc, word)
    counts — one shuffle whose exchange every downstream branch reuses
    (the vocabulary is its regroup by word, the corpus total a 1-row sum
    over the vocabulary, never a second scan of documents); doc-word rows
    then join the vocabulary — broadcast (a deduplicated unigram vocab is
    MB-scale even for web corpora) — and the total rides in as a
    broadcast 1-row cross join, keeping the whole operator a single lazy
    plan with no driver-side action. Every word is
    its own key, so the join never misses (smoothing unnecessary); the
    per-doc mean is the count-weighted mean over distinct words —
    identical to the per-occurrence mean.
    """
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dwc = words.groupBy("doc_id", "w").agg(F.count("*").alias("dc"))
    vocab = dwc.groupBy("w").agg(F.sum("dc").alias("wc"))
    total = vocab.agg(F.sum("wc").cast("double").alias("__total"))
    scored = dwc.join(F.broadcast(vocab), "w").crossJoin(F.broadcast(total))
    return (scored.groupBy("doc_id")
            .agg(F.sum("dc").cast("long").alias("n_words"),
                 F.round(F.sum(F.col("dc") *
                               F.log(F.col("wc") / F.col("__total")))
                         / F.sum("dc"), 4)
                 .alias("lm_score")))


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + char count per document."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length/punctuation/stopword-ratio quality heuristics (portable SQL).

    mean_word_len: chars-without-spaces / token count;
    stop_ratio: occurrences of common stopwords per token;
    punct_ratio: sentence punctuation per char.
    """
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("double")
    no_space = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")
    stop_hits = None
    for w in STOPWORDS:
        token = f" {w} "
        occ = (F.length("text") - F.length(F.regexp_replace(F.col("text"), token, ""))) \
            / F.lit(len(token))
        stop_hits = occ if stop_hits is None else stop_hits + occ
    punct = (F.length("text") -
             F.length(F.regexp_replace(F.col("text"), r"[.!?,;]", ""))).cast("double")
    return docs.select(
        "doc_id",
        F.round(no_space / n_tokens, 4).alias("mean_word_len"),
        F.round(stop_hits / n_tokens, 4).alias("stop_ratio"),
        F.round(punct / F.greatest(F.length("text").cast("double"), F.lit(1.0)), 4)
        .alias("punct_ratio"),
    )


def lang_id_scores(docs: DataFrame) -> DataFrame:
    """Marker-token language scores + argmax language guess.

    Counts marker occurrences per language with the portable
    (len(x) - len(replace(x, m, ''))) / len(m) trick — identical semantics in
    Spark and DuckDB, so the whole heuristic is oracle-checkable.
    """
    cols = [F.col("doc_id"), F.col("lang").alias("lang_true")]
    score_cols = []
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            occ = (F.length(padded) - F.length(F.regexp_replace(padded, m, ""))) \
                / F.lit(len(m))
            s = occ if s is None else s + occ
        c = F.round(s, 4).alias(f"score_{lang}")
        cols.append(c)
        score_cols.append((lang, s))
    # argmax with deterministic tie-break by language order
    guess = F.lit("und")
    best = F.lit(-1.0)
    for lang, s in score_cols:
        guess = F.when(s > best, F.lit(lang)).otherwise(guess)
        best = F.when(s > best, s).otherwise(best)
    cols.append(guess.alias("lang_guess"))
    return docs.select(*cols)


# GPT2-style pre-tokenizer shape: contractions | letter runs | digit runs |
# punctuation runs (space-prefixed) | whitespace. Portable subset that Java
# (Spark) and RE2-ish (DuckDB) regex dialects agree on.
BPE_TOKEN_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """BPE-ish token count per document (the tokenizer-shape proxy a
    training-data pipeline uses for budget estimates before real BPE)."""
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_PATTERN), F.lit(0)))
        .cast("long").alias("n_bpe_tokens"),
    )


ROLLING_WINDOW = 8
ROLLING_BASE = 23  # 28-bit word hashes * 23^7 * 8 terms stays < 2^63 exactly


def _check_rolling_window(window: int) -> None:
    """The polynomial fingerprint must stay exact in int64: the largest
    term is wh_max * BASE^(window-1) and the sum has ``window`` terms.
    Beyond the bound Spark's non-ANSI long arithmetic would WRAP silently
    while the DuckDB twin errors — a silent oracle divergence, so the
    bound is enforced here (the twin is generated at the default window
    only)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    wh_max = 16 ** 7 - 1  # 7 md5 hex chars
    if window * wh_max * ROLLING_BASE ** (window - 1) > (1 << 63) - 1:
        raise ValueError(
            f"window={window} overflows int64 with base {ROLLING_BASE} "
            f"(max supported window is 8)")


def rolling_fingerprints(docs: DataFrame, window: int = ROLLING_WINDOW) -> DataFrame:
    """Rolling polynomial (Rabin-Karp family) fingerprints: min/max over all
    ``window``-word polynomial hashes per doc — an order-SENSITIVE content
    fingerprint (vs the order-insensitive xor fingerprint), the winnowing
    primitive for near-dup detection of reordered documents.

    Word hash = first 7 md5 hex chars as an int (28 bits, portable to
    DuckDB); window fingerprint = sum(wh[i+j] * BASE^(window-1-j)), exact in
    int64. Each row's word hashes are projected once as an array; each
    window is a Horner fold over its ``slice`` (every partial sum stays
    under the bound ``_check_rolling_window`` enforces) — one projection
    per input row, no window exec, aggregate or Python. Docs shorter than
    the window yield one fingerprint over all their words (their one
    slice is the whole text). A NULL text yields no row; ``doc_id`` is the
    row key (a repeated doc_id gives one row per input row).
    Output: (doc_id, n_windows, rolling_min, rolling_max).
    """
    _check_rolling_window(window)
    wh, fps = F.col("__wh"), F.col("__fp")
    # scan-parallelism guard (see spark.partitioning): the per-word md5
    # pass below fuses into the scan stage and a small/1-row-group input
    # would run it on 1-2 tasks (measured 2.7x on the round-6 bench leg)
    hashed = (ensure_parallelism(docs.select("doc_id", "text"))
              .filter(F.col("text").isNotNull())
              .select("doc_id", F.transform(
                  F.split("text", " "),
                  lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10)
                  .cast("long")).alias("__wh")))
    starts = F.sequence(F.lit(1),
                        F.greatest(F.size(wh) - F.lit(window - 1), F.lit(1)))
    folded = hashed.select("doc_id", F.transform(starts, lambda i: F.aggregate(
        F.slice(wh, i, window), F.lit(0).cast("long"),
        lambda a, x: a * ROLLING_BASE + x)).alias("__fp"))
    return folded.select("doc_id", F.size(fps).cast("long").alias("n_windows"),
                         F.array_min(fps).alias("rolling_min"),
                         F.array_max(fps).alias("rolling_max"))


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Order-insensitive 64-bit document fingerprint: bit_xor over per-word
    hashes (15 hex chars of md5 -> int64). A content fingerprint that is
    stable under word reordering — the cheap pre-filter before MinHash.
    It keeps the explode: a row form (an xor ``aggregate`` of the word
    hashes) gave the same rows no faster (0.37-0.39 s against 0.37-0.42 s;
    sf0.1 documents, local[4] on a 4-core host, noop sink)."""
    words = F.split(F.col("text"), " ")
    return (
        docs.select("doc_id", F.explode(words).alias("w"))
        .select("doc_id", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10)
                .cast("long").alias("wh"))
        .groupBy("doc_id")
        .agg(F.bit_xor("wh").alias("fingerprint"))
    )


def boilerplate_lines(docs: DataFrame, group_col: str = "source",
                      min_docs: int = 3, doc_frac: float = 0.5,
                      line_sep: str = "\n",
                      join_on_hash: bool = False) -> DataFrame:
    """Per-group boilerplate line table: (group, line, df) for every line
    whose document frequency within its group reaches
    ``max(min_docs, ceil(doc_frac * group_docs))`` — the CCNet-style rule
    that headers/footers/nav text repeated across a host's pages are
    template, not content. One map-side-combined shuffle on
    (group, line); group sizes ride in on a broadcast-sized join."""
    lines = docs.select(
        "doc_id", F.col(group_col).alias("grp"),
        F.explode(F.split(F.col("text"), line_sep)).alias("line"))
    if join_on_hash:
        lines = lines.withColumn("line", F.xxhash64("line"))
    freq = lines.groupBy("grp", "line") \
        .agg(F.countDistinct("doc_id").alias("df"))
    sizes = docs.groupBy(F.col(group_col).alias("grp")) \
        .agg(F.count("*").alias("n_docs"))
    thresh = F.greatest(F.lit(min_docs),
                        F.ceil(F.lit(doc_frac) * F.col("n_docs")))
    return (freq.join(F.broadcast(sizes), "grp")
            .where(F.col("df") >= thresh)
            .select(F.col("grp").alias(group_col), "line", "df"))


def remove_boilerplate(docs: DataFrame, group_col: str = "source",
                       min_docs: int = 3, doc_frac: float = 0.5,
                       line_sep: str = "\n",
                       join_on_hash: bool = False) -> DataFrame:
    """Strip per-group boilerplate lines (see ``boilerplate_lines``) and
    rebuild each document's text IN ORIGINAL LINE ORDER. Returns
    (doc_id, <group_col>, clean_text, n_lines_kept, n_lines_removed);
    documents whose every line is template come back with empty
    clean_text, not dropped — downstream length/quality filters decide.

    Scale shape: posexplode (map-only) -> one (group, line) shuffle with
    map-side combine for the frequency table -> left-anti join of the
    exploded lines against it -> one doc_id shuffle that rebuilds the
    text via array_sort(collect_list(struct(pos, line))) — pure JVM end
    to end, no Python stage, no window over the whole corpus.
    ``join_on_hash=True`` anti-joins on xxhash64(line) instead of the
    raw string (8-byte shuffle keys instead of line text — the
    shingle_key="xxhash64" discipline; a 64-bit collision could drop an
    innocent line, so the default stays exact).

    The corpus is SCANNED twice (frequency pass + strip pass) — intrinsic
    to the exact global rule, which must see every group's counts before
    any line can be dropped. Both passes read only (doc_id, group, text)
    thanks to column pruning; at 100 TB, persist that projection first if
    the scan itself dominates."""
    lines = docs.select(
        "doc_id", F.col(group_col).alias("grp"),
        F.posexplode(F.split(F.col("text"), line_sep))
        .alias("pos", "line"))
    key = F.xxhash64("line").alias("k") if join_on_hash \
        else F.col("line").alias("k")
    lines = lines.withColumn("k", key)
    bp = boilerplate_lines(docs, group_col, min_docs, doc_frac, line_sep,
                           join_on_hash) \
        .select(F.col(group_col).alias("grp"), F.col("line").alias("k"))
    kept = lines.join(bp, ["grp", "k"], "left_anti")
    return _rebuild_lines(docs, kept, line_sep, group_col)


def _rebuild_lines(docs: DataFrame, kept: DataFrame, line_sep: str,
                   *cols: str) -> DataFrame:
    """(doc_id, *cols, clean_text, n_lines_kept, n_lines_removed): each
    doc's ``kept`` (doc_id, pos, line) rows joined back in line order by
    one doc_id shuffle, left-joined to per-doc totals. The totals are
    map-only arithmetic on the original text (a NULL text has 0 lines),
    not another explode+shuffle of the corpus for a number split()
    already knows. A doc with no kept line gets an empty clean_text."""
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"]),
                        line_sep).alias("clean_text"),
                    F.count("*").alias("n_lines_kept")))
    text = F.col("text")
    n_lines = F.when(text.isNull(), F.lit(0)) \
        .otherwise(F.size(F.split(text, line_sep)))
    return (docs.select("doc_id", *cols, n_lines.alias("n_lines"))
            .join(rebuilt, "doc_id", "left")
            .select("doc_id", *cols,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_lines_kept", F.lit(0)).cast("long")
                    .alias("n_lines_kept"),
                    (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0)))
                    .cast("long").alias("n_lines_removed")))


def dedup_lines(docs: DataFrame, line_sep: str = "\n",
                scope_col: str | None = None,
                join_on_hash: bool = False) -> DataFrame:
    """Corpus-wide first-occurrence line dedup (the RefinedWeb /
    MassiveText line-dedup pass — a different rule from
    ``remove_boilerplate``: that one drops lines FREQUENT within a group,
    this one keeps exactly ONE copy of every line corpus-wide): each
    distinct line survives only at its first occurrence in (doc_id, pos)
    order; every later copy in any document is dropped, and each
    document's text is rebuilt in original line order. Returns
    (doc_id, clean_text, n_lines_kept, n_lines_removed); fully-deduped
    documents come back with empty clean_text, not dropped — downstream
    length filters decide.

    ``scope_col`` restricts the rule to within-group first-occurrence
    (e.g. per-source) instead of global. ``join_on_hash=True`` ranks
    lines by their xxhash64 instead of the raw string — 8-byte shuffle
    keys instead of line text, the ``shingle_key="xxhash64"`` discipline;
    a 64-bit collision could wrongly drop a distinct line, so the
    default stays exact.

    The winner per line key is ONE map-side-combined aggregation,
    ``min(struct(doc_id, pos, line))``: (doc_id, pos) is unique per line
    instance, so the struct min IS the first occurrence. The min partials
    collapse a viral line ("Home", cookie banners — at 100 TB easily
    10^10 copies of one key) to ONE candidate row per map task, so the
    reduce side of the hot key receives at most task-count rows. An
    analytic window (``row_number`` over the line key) would need no
    more shuffles, but its partition can neither be pre-aggregated nor
    split, so every copy of a hot line would land on one reducer.

    Scale shape: posexplode (map-only) -> ONE shuffle keyed by the line
    (winner selection) -> one doc_id shuffle rebuilding the text via
    array_sort(collect_list(struct(pos, line))) -> per-doc totals
    computed map-only from split() (doc-count rows, not line-count).
    Pure JVM end to end; the hashed mode narrows the shuffle key to 8
    bytes."""
    lines = ensure_parallelism(docs.select(
        "doc_id", *([scope_col] if scope_col else []), "text")).select(
        "doc_id",
        *([F.col(scope_col).alias("__scope")] if scope_col else []),
        F.posexplode(F.split(F.col("text"), line_sep)).alias("pos", "line"))
    key = F.xxhash64("line") if join_on_hash else F.col("line")
    part = (["__scope", "__k"] if scope_col else ["__k"])
    kept = (lines.withColumn("__k", key)
            .groupBy(*part)
            .agg(F.min(F.struct("doc_id", "pos", "line")).alias("__w"))
            .select(F.col("__w.doc_id").alias("doc_id"),
                    F.col("__w.pos").alias("pos"),
                    F.col("__w.line").alias("line")))
    return _rebuild_lines(docs, kept, line_sep)


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """Corpus-level top-k word n-grams: (shingle, cnt), count-desc with
    the shingle string as the deterministic tiebreak — the frequency
    table a curation pipeline reads to spot boilerplate phrases, crawl
    artifacts, and contamination markers before writing filter rules.

    Scale shape: the shingle expansion is a per-row expression (no
    shuffle), the count is ONE map-side-combined shuffle on the shingle,
    and the top-k is a TakeOrdered (per-partition heaps, k rows to the
    driver) — never a global sort of the frequency table. Occurrences
    count multiplicity (a doc repeating a phrase contributes each copy);
    wrap with countDistinct on doc_id instead if document frequency is
    wanted."""
    from .dedup import shingle_array
    counted = (docs.select(F.explode(shingle_array(n, text_col))
                           .alias("shingle"))
               .groupBy("shingle").agg(F.count("*").alias("cnt")))
    return counted.orderBy(F.col("cnt").desc(), F.col("shingle").asc()) \
        .limit(k)


# deterministic redaction rule: kinds applied IN THIS ORDER, each count
# measured on the text as it stands just before that kind's replacement
# (order matters where patterns could overlap — e.g. dotted phone vs ipv4).
# Patterns use only the Java-regex/RE2 common subset (positive classes,
# non-capturing groups, \b, bounded quantifiers) so the DuckDB oracle twin
# is exact; see also the negated-class pathology note in normalize_text.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
)


def redact_pii(docs: DataFrame, text_col: str = "text",
               replacement: str = "[PII-{kind}]") -> DataFrame:
    """Mask common PII shapes before training-set emission: returns the
    input columns (minus ``text_col``) plus ``redacted_text`` and one
    ``n_<kind>`` count per pattern. Pure per-row JVM regexp built-ins —
    map-only, no shuffle, pushes past the scan; the counts let a
    downstream policy drop documents that are PII-dense rather than
    merely masking them."""
    cur = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
                      .cast("long").alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, replacement.format(kind=kind))
    keep = [c for c in docs.columns if c != text_col]
    return docs.select(*keep, cur.alias("redacted_text"), *counts)


def classifier_scores(docs: DataFrame, weights: DataFrame,
                      bias: float = 0.0, default_weight: float = 0.0,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Linear text-classifier inference — the fastText-style quality/
    domain classifier scoring pass every major pipeline runs (CCNet's
    target-vs-background filter, Dolma's quality classifier): score =
    sigmoid(bias + mean over tokens of weight(token)). ``weights`` is a
    two-column (token, weight) DataFrame — a trained model's exported
    linear layer; unknown tokens contribute ``default_weight``.
    Returns (id, n_tokens, quality_prob) with quality_prob rounded to 6
    decimals (portable across engines' exp/division rounding).

    Scale shape: token explode is map-side; the weights table is
    explicitly ``broadcast()`` (exported linear vocabularies are MB- to
    low-GB-scale, driver-small at 100-TB corpus scale); the ONE shuffle
    is the map-side-combined groupBy on the doc id carrying (id, double)
    rows. No Python anywhere; the whole operator is oracle-checkable.
    """
    wcols = weights.columns
    toks = docs.select(F.col(id_col), F.explode(
        F.split(F.col(text_col), " ")).alias("__tok"))
    w = F.broadcast(weights.select(
        F.col(wcols[0]).alias("__tok"),
        F.col(wcols[1]).cast("double").alias("__wt")))
    j = toks.join(w, "__tok", "left").select(
        F.col(id_col),
        F.coalesce("__wt", F.lit(float(default_weight))).alias("__wt"))
    lin = F.lit(float(bias)) + F.sum("__wt") / F.count("*")
    return j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lin)), 6)
        .alias("quality_prob"))
