"""Text-analysis operators for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

Everything is built from built-in string/regex expressions — no Python on the
hot path — so a 100 TB corpus profile is a single codegen'd scan + one
aggregate if summarized.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from quantms_utils_spark.functions.core import let_once as _let

# Marker-word inventories for the n-gram/stopword language heuristic. Order is
# the deterministic tie-break priority.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|a|is|of|and)\b",
    "es": r"\b(el|la|de|que|los)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|de|et|les)\b",
}

STOPWORD_PATTERN = r"\b(the|a|of|and|is|to|in)\b"
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def marker_score(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), 0)).cast("long")


def lang_id(col: Column) -> Column:
    """Predicted language by marker-word count, ties broken by LANG_MARKERS
    order, 'und' when nothing matches."""
    scores = {lang: marker_score(col, pat) for lang, pat in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    expr = F.lit("und")
    # Build the when-chain in reverse priority so earlier langs win ties.
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if langs.index(other) < langs.index(lang):
                cond = cond & (scores[lang] > scores[other])
            elif other != lang:
                cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def ws_token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0. Counts the
    NON-EMPTY ``\\s+``-separated chunks (round 9): the previous
    trim-then-split form miscounted edge tabs/newlines — Spark ``trim``
    strips only ASCII spaces, so ``'\\thello\\n'`` split to
    ``['', 'hello', '']`` and counted 3, and whitespace-only text
    counted 2 instead of the documented 0. The DuckDB oracle twin is the
    same filter (``list_filter(regexp_split_to_array(...), x -> x <>
    '')``)."""
    return (
        F.size(F.filter(F.split(col, r"\s+"), lambda t: t != ""))
        .cast("long")
    )


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: runs of letters, runs of digits, single other
    non-space chars."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(BPE_ISH_PATTERN), 0)).cast(
        "long"
    )


def quality_metrics(col: Column) -> dict[str, Column]:
    """Quality-scoring features: length, token stats, alpha/punct/stopword
    ratios, and a boolean keep-flag of the usual pretraining heuristics."""
    n_chars = F.length(col).cast("long")
    n_tokens = ws_token_count(col)
    alpha_chars = F.length(F.regexp_replace(col, r"[^a-zA-Z]", "")).cast("long")
    punct_chars = F.length(F.regexp_replace(col, r"[^.,;:!?]", "")).cast("long")
    stop_tokens = F.size(
        F.regexp_extract_all(F.lower(col), F.lit(STOPWORD_PATTERN), 0)
    ).cast("long")
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    mean_token_len = F.round(alpha_chars.cast("double") / safe_tokens, 4)
    stop_ratio = F.round(stop_tokens.cast("double") / safe_tokens, 4)
    punct_ratio = F.round(
        punct_chars.cast("double") / F.greatest(n_chars, F.lit(1)), 4
    )
    keep = (
        (n_tokens >= 5)
        & (mean_token_len >= 2)
        & (mean_token_len <= 12)
        & (punct_ratio <= 0.2)
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": mean_token_len,
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "keep": keep,
    }


def content_fingerprint(col: Column) -> Column:
    """md5 fingerprint of whitespace-normalized lowercase content — the exact
    dedup key."""
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(normalized)


def normalized_tokens(col: Column) -> Column:
    """Whitespace-split tokens of lowercased, whitespace-normalized text;
    empty array for blank text. After the collapse and trim the only empty
    token is the one ``split`` makes of blank text, which ``array_remove``
    drops — so the regex replace appears once in the expression."""
    trimmed = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.array_remove(F.split(trimmed, " "), "")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (array<string>, empty when the
    document has fewer than ``n`` tokens). Pure Catalyst: sequence over start
    positions + slice + concat_ws — no explode, no Python.

    ``tokens`` is let-bound (:func:`_let`) so it is evaluated once per row:
    captured directly inside the transform lambda, a computed token array
    (e.g. :func:`normalized_tokens`' regex replace and split) would be
    recomputed per n-gram, O(words²) per document."""

    def _grams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(tokens, _grams)


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str, ngram_n: int = 2
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021 §A1.1
    repetition filters, re-expressed relationally): for each document, the
    fraction of duplicate words, the fraction of occurrences claimed by the
    single most frequent word, and the duplicate fraction of word n-grams.
    High values mean degenerate/boilerplate text a pretraining pipeline drops.

    Shape: explode tokens → two-level aggregate (count per (doc, word), then
    merge per doc). Both aggregates are map-side combinable; the second
    shuffle moves one already-reduced row per distinct (doc, word), a small
    fraction of the token stream. The n-gram branch is the same plan over
    :func:`word_ngrams`. Deliberately NOT the map-only
    ``transform(array_distinct(...), t -> size(filter(...)))`` form: that is
    O(n × distinct) per document and blows up on whale documents, while this
    shape is O(n) regardless of document length — the property that matters
    at 100 TB. No window, no self-join, nothing driver-side.
    """
    from quantms_utils_spark.operators.dedup import _fan_out

    df = _fan_out(df)
    toks = normalized_tokens(F.col(text_col))
    words = df.select(F.col(id_col), F.explode(toks).alias("w"))
    word_stats = (
        words.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("cnt").alias("top_word_cnt"),
        )
    )
    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(toks, ngram_n)).alias("g")
    )
    gram_stats = (
        grams.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct_grams"),
        )
    )
    safe_words = F.greatest(F.coalesce(F.col("n_words"), F.lit(0)), F.lit(1))
    safe_grams = F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1))
    # anchor on the full document set (round 9): zero-token docs (blank or
    # NULL text) produce no exploded rows, and an aggregate-anchored join
    # silently dropped them — "for each document" means every document, as
    # remove_duplicate_spans in this family already does. They emit zeroed
    # signals.
    return (
        df.select(id_col)
        .join(word_stats, id_col, "left")
        .join(gram_stats, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.round(
                (
                    F.coalesce(F.col("n_words"), F.lit(0))
                    - F.coalesce(F.col("n_distinct_words"), F.lit(0))
                ).cast("double")
                / safe_words,
                4,
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("top_word_cnt"), F.lit(0)).cast("double")
                / safe_words,
                4,
            ).alias("top_word_frac"),
            F.round(
                (
                    F.coalesce(F.col("n_grams"), F.lit(0))
                    - F.coalesce(F.col("n_distinct_grams"), F.lit(0))
                ).cast("double")
                / safe_grams,
                4,
            ).alias("dup_ngram_frac"),
        )
    )


# --- PII detection / redaction -------------------------------------------
# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-document PII hit counts (emails, NANP-style phone numbers, IPv4
    addresses) as codegen'd regexp_extract_all sizes."""
    return {
        "n_emails": F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), 0)).cast(
            "long"
        ),
        "n_phones": F.size(F.regexp_extract_all(col, F.lit(PII_PHONE), 0)).cast(
            "long"
        ),
        "n_ipv4": F.size(F.regexp_extract_all(col, F.lit(PII_IPV4), 0)).cast("long"),
    }


def pii_redact(col: Column) -> Column:
    """Replace PII spans with typed placeholder tags. Email first so the
    host part of an address is never half-rewritten as an IP."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4, "<IP>")


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap (the GPT-3/Llama
    recipe: a training document is contaminated when it shares any length-n
    word n-gram with an evaluation document). Returns every ``train`` row's id
    with ``n_overlap`` (distinct shared n-grams) and a ``contaminated`` flag.

    Scale shape: the benchmark side is small by construction (eval sets are
    thousands of docs, not billions), so its distinct n-gram set is built
    once and **broadcast**; the train side is a map-only explode of per-doc
    distinct n-grams followed by a broadcast-hash semi-count and one aggregate
    on ``id_col``. No shuffle ever touches the 100 TB side except the final
    per-doc count, which AQE coalesces. Never a sort-merge join against the
    corpus.
    """
    bench_grams = (
        benchmark.select(
            F.explode(
                F.array_distinct(word_ngrams(normalized_tokens(F.col(text_col)), ngram_n))
            ).alias("g")
        )
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(normalized_tokens(F.col(text_col)), ngram_n))
        ).alias("g"),
    )
    overlap = (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    tokens_per_group: int,
) -> DataFrame:
    """Deterministic domain-mixture downsampling: compute each group's total
    whitespace-token count, derive a keep-rate ``min(1, budget / total)``,
    and keep the documents whose content-stable hash bucket falls under the
    rate — the way a pretraining mixture hits a per-domain token target
    without an RNG (reproducible across runs, engines, and repartitioning).

    Scale shape: one map-side-combinable aggregate over ``group_col`` (tiny
    result — one row per domain), **broadcast** back onto the corpus, then a
    map-only filter. The kept set is decided per-row with no global sort or
    sampling pass. The hash bucket is md5-derived so any engine reproduces
    the exact kept set.
    """
    tokens = ws_token_count(F.col(text_col))
    totals = df.groupBy(group_col).agg(F.sum(tokens).alias("group_tokens"))
    rates = totals.select(
        group_col,
        F.col("group_tokens"),
        F.least(
            F.lit(1.0),
            F.lit(float(tokens_per_group)) / F.greatest("group_tokens", F.lit(1)),
        ).alias("keep_rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10).cast(
            "long"
        )
        % 10_000
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .where(bucket < F.col("keep_rate") * 10_000)
        .select(
            F.col(id_col),
            F.col(group_col),
            tokens.alias("doc_tokens"),
            F.col("group_tokens"),
            F.round("keep_rate", 6).alias("keep_rate"),
        )
    )


def pack_sequences(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    seq_len: int = 2048,
) -> DataFrame:
    """Contiguous sequence packing: assign each document a (bin, offset) so
    concatenating documents in id order fills fixed-length training examples
    of ``seq_len`` tokens — the deterministic streaming form of example
    packing (no bin-packing search, which is order-dependent and
    unparallelizable). ``offset`` is the exclusive running token sum within
    the group; ``bin`` is ``offset // seq_len``; ``spans_boundary`` marks
    documents straddling two bins (the ones a loader must split or mask).

    Scale shape: ONE window per group (partitionBy group, orderBy id) — the
    sort is per-group, not global, so 1000 sources = 1000 independent sorted
    partitions. A single global packing order would serialize the corpus
    through one partition; per-group packing is what real pipelines do
    (pack within a shard). Everything else is arithmetic on the cumsum —
    map-only, oracle-reproducible.
    """
    from pyspark.sql import Window

    tokens = ws_token_count(F.col(text_col))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("doc_tokens").over(w), F.lit(0))
    return (
        df.select(F.col(id_col), F.col(group_col), tokens.alias("doc_tokens"))
        .withColumn("offset", offset)
        .select(
            id_col,
            group_col,
            "doc_tokens",
            "offset",
            (F.col("offset") / seq_len).cast("long").alias("bin"),
            (
                (F.col("doc_tokens") > 0)
                & (
                    (F.col("offset") / seq_len).cast("long")
                    != (
                        (F.col("offset") + F.col("doc_tokens") - 1) / seq_len
                    ).cast("long")
                )
            ).alias("spans_boundary"),
        )
    )


def hash_sample_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int
) -> DataFrame:
    """Deterministic k-per-group sample: rank group members by the md5 of
    their id (a uniform pseudo-order with no RNG state) and keep the first
    ``k`` — how an eval/inspection subset is drawn reproducibly per domain.
    Unlike ``df.sampleBy`` this is exact-k, engine-reproducible, and stable
    under repartitioning. One window per group; the shuffle carries
    (group, id, hash) only."""
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.select(F.col(group_col), F.col(id_col), h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, id_col, "sample_rank")
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spiridakis 2006, "Weighted random sampling with a reservoir"): every row
    gets the key ``ln(u) / w`` with ``u`` uniform in (0,1) and the global
    top-k by key IS an exact weight-proportional sample — the one-pass,
    fully-distributed answer to "sample 1M documents proportional to
    quality score" (sequential roulette-wheel sampling cannot shard).

    ``u`` is md5-derived from the id (the repo-wide no-RNG idiom), so the
    sample is reproducible and engine-independent. The top-k compiles to
    TakeOrderedAndProject — per-partition heads + one k-row merge on the
    driver, never a global sort. Weights must be > 0; rows with NULL or
    non-positive weight are excluded (documented, matching the estimator's
    domain).
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(16777216.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select(F.col(id_col), F.col(weight_col), key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(k)
    )


WINNOW_K = 5  # k-gram length (characters)
WINNOW_W = 4  # window: guarantee-threshold t = w + k - 1 = 8 chars


def winnow_fingerprints(
    col: Column,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    hash_family: str = "md5",
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): rolling hash over character k-grams, minimum per sliding
    window of ``w`` hashes, distinct minima = the document's fingerprint set.
    Any shared substring of length ≥ w + k - 1 between two documents is
    guaranteed to share a fingerprint — position-robust near-dup evidence,
    unlike a whole-content hash.

    Pure Catalyst: ``sequence`` positions → ``substring`` k-grams → per-gram
    hashes → ``slice``/``array_min`` window minima → ``array_distinct``.
    The normalized string and the hash array are each let-bound (see
    :func:`_let`) so they are computed once per row — without the binding the
    nested ``transform`` re-evaluates the full hash array per window position,
    O(n²) hash/regex per document.

    Hash families (same split as ``minhash_signatures``):
    - ``"md5"`` (oracle-parity, the correctness-query pin): 32-bit window of
      md5, reproducible in any engine with md5/substr so a DuckDB oracle
      checks the whole pipeline.
    - ``"xxhash64"`` (the performance default for engine callers): one
      xxhash64 per k-gram — an order of magnitude cheaper per byte, same
      fingerprint structure and guarantees.

    Returns ``array<long>`` (empty for texts shorter than k + w - 1 chars).
    """
    if hash_family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_family {hash_family!r}")

    def _mins(s: Column) -> Column:
        n = F.length(s)
        grams_idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        if hash_family == "xxhash64":
            hashes = F.transform(
                grams_idx, lambda i: F.xxhash64(F.substring(s, i, F.lit(k)))
            )
        else:
            hashes = F.transform(
                grams_idx,
                lambda i: F.conv(
                    F.substr(
                        F.md5(F.substring(s, i, F.lit(k))), F.lit(1), F.lit(8)
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        return F.when(
            n >= k + w - 1,
            _let(
                hashes,
                lambda h: F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(h) - F.lit(w - 1)),
                        lambda j: F.array_min(F.slice(h, j, w)),
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

    return _let(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), _mins)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window chunking: split each document's token stream into
    fixed-size chunks of ``chunk_tokens`` tokens with ``overlap`` tokens
    shared between consecutive chunks (stride = chunk_tokens - overlap) —
    the context-window preparation step for RAG indexing and long-document
    training. The last chunk is the one whose window first covers the tail
    (no trailing runt beyond it); documents at or under ``chunk_tokens``
    yield exactly one chunk; blank documents yield none.

    Scale shape: map-only — token split, chunk-count arithmetic, and an
    in-row explode of start offsets; no shuffle at all. Output columns:
    (id, chunk_id 1-based, start 1-based token offset, n_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = normalized_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    )
    n = F.col("_n")
    # number of windows: 1 for n <= chunk, else ceil((n - chunk)/stride) + 1
    # (double-divide then truncate = floor for positive operands)
    extra = ((n - chunk_tokens + stride - 1) / stride).cast("long")
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.when(n <= chunk_tokens, F.lit(1)).otherwise(extra + 1)
    )
    exploded = base.select(
        id_col,
        "_toks",
        "_n",
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id"),
    ).filter(F.col("_n") > 0)
    start = (F.col("chunk_id") - 1) * stride + 1
    return exploded.select(
        id_col,
        "chunk_id",
        start.cast("long").alias("start"),
        F.least(F.lit(chunk_tokens), F.col("_n") - start + 1)
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(" ", F.slice("_toks", start, chunk_tokens)).alias(
            "chunk_text"
        ),
    )


def merge_pair_fold(syms: Column, left: Column, right: Column) -> Column:
    """Apply one BPE merge (``left``+``right`` → concatenated symbol) to a
    symbol array with a left-to-right non-overlapping fold — the same
    semantics tokenizer trainers use. Pure Catalyst ``aggregate``; no
    Python."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def merge_pairs_fold(syms: Column, picks: Sequence[tuple[str, str]]) -> Column:
    """Apply a BATCH of mutually non-interacting BPE merges in ONE
    left-to-right fold. Equivalent to chaining :func:`merge_pair_fold`
    once per pick — PROVIDED the picks satisfy the batching conflict rule
    of :func:`bpe_merges` (no two picks can claim the same symbol
    instance, and no pick's side aliases another's concatenation): under
    that rule a merge neither consumes nor creates an occurrence of any
    other accepted pick, so "whichever pick matches at this position"
    commutes with sequential application. The win is plan shape: one
    ``aggregate`` with an O(1) map-literal lookup instead of
    ``len(picks)`` nested higher-order functions — what keeps a
    256-merge round analyzable. Keys join on NUL, which the tokenizer
    strips from symbols (control characters never survive
    ``normalized_tokens``), so key aliasing is impossible."""
    if len(picks) == 1:
        return merge_pair_fold(syms, F.lit(picks[0][0]), F.lit(picks[0][1]))
    sep = "\x00"
    entries: list[Column] = []
    for l, r in picks:
        entries += [F.lit(l + sep + r), F.lit(l + r)]
    m = F.create_map(*entries)

    def step(acc: Column, x: Column) -> Column:
        merged = F.try_element_at(
            m, F.concat(F.element_at(acc, -1), F.lit(sep), x)
        )
        return F.when(
            (F.size(acc) > 0) & merged.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a ``localCheckpoint``'s storage blocks. PySpark exposes no
    public API for this (``unpersist`` only covers ``persist``); the
    checkpointed RDD sits inside the plan's LogicalRDD node. Safe only
    once every frame derived from ``df`` has been materialized — freeing
    earlier makes the derived checkpoint's own materialization fail on
    missing blocks."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # accessor shape is Spark-internal; never fatal
        pass


def bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 3,
    batch_size: int = 1,
    max_batch_size: int | None = None,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Distributed byte-pair-encoding merge induction (Sennrich et al. 2016):
    learn the first ``n_merges`` merge rules from the corpus word-frequency
    table. Returns one row per learned merge, in application order:
    (round, left, right, merged, pair_freq) — ``round`` is the 1-based merge
    rank.

    Scale shape: the corpus collapses to the word-TYPE table (Heaps' law —
    millions of types for a 100 TB corpus, tiny next to the corpus itself)
    in one shuffle; every round after that is one aggregation over the type
    table (adjacent-pair counts weighted by word frequency) plus a bounded
    driver collect — and with ``batch_size=M`` each round accepts up to M
    merges, so a real 30k-merge vocabulary costs O(vocab/M) Spark jobs, not
    O(vocab) (the round-1..-2 serial-loop scale wall). Merge application is
    a map-only fold. Ties on pair frequency break lexicographically for
    engine determinism.

    Batching contract (standard batched BPE): within a round, candidates
    are taken in descending-count order and accepted unless they can
    SHARE A SYMBOL INSTANCE with an earlier accepted pick — the precise
    condition under which the pre-round count would go stale. Candidate
    (C,D) conflicts with accepted (A,B) iff ``D==A`` (…C A B… — the A is
    claimed by both), ``C==B`` (…A B D…), or ``(C,D)==(A,B)``; plus two
    string-aliasing guards (a symbol textually equal to an accepted
    pick's concatenation, or a concatenation equal to an accepted pick's
    symbol — merged tokens are strings, so equal text IS equal symbol).
    Anything else commutes: its count stays exact and its fold cannot
    touch an instance an earlier fold consumed. (The previous rule —
    reject on ANY shared symbol — also rejected the harmless ``C==A``
    and ``D==B`` cases and starved ~20% of rounds.) Every emitted
    (pair, freq) row is a true BPE merge with its true frequency; only
    the global order may differ from strictly-sequential induction when
    a round's picks interleave. ``batch_size=1`` IS strictly-sequential
    BPE — the oracle-parity default (the DuckDB twin replays sequential
    rounds), while the scale path runs ``batch_size≈16`` — the same
    oracle/performance family split as the md5/xxhash64 MinHash
    families. Measured: ``n_merges=1000, batch_size=16`` completes in
    ≤ 70 driver rounds on a 1.8k-type synthetic corpus
    (tests/test_text_hygiene.py wall-bound test).

    ``max_batch_size``: when set, the per-round batch DOUBLES from
    ``batch_size`` up to this cap — the deep-vocabulary form. Early
    rounds stay small (head pairs interact heavily, big batches would
    starve on conflicts), late rounds take the long tail (mostly
    disjoint) in bulk; each round applies its whole batch as ONE
    map-lookup fold (:func:`merge_pairs_fold`), so a 256-merge round
    costs the same plan depth as a 1-merge round. The 30k-vocab recipe
    is ``batch_size=16, max_batch_size=256``: ~16 doubling rounds +
    ~115 tail rounds ≈ 130 aggregation rounds instead of ~1.9k at a
    flat 16 (and 30k sequential).

    ``_rounds_out``: test seam — when a list is passed, the number of
    aggregation rounds actually executed is appended to it.
    """
    from quantms_utils_spark.operators.dedup import _fan_out

    words = (
        _fan_out(df)
        .select(F.explode(normalized_tokens(F.col(text_col))).alias("w"))
        # the NUL byte is merge_pairs_fold's reserved map-key separator;
        # it survives normalized_tokens (\x00 is not whitespace), and a
        # token carrying it could alias two different pairs onto one map
        # key (DUPLICATED_MAP_KEY mid-round, or a silent mis-merge).
        # Tokens with NULs are excluded from induction — no effect on
        # real text (round 9).
        .filter(~F.col("w").contains("\x00"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split(F.col("w"), ""))
        .persist()
    )
    spark = df.sparkSession
    out: list[tuple[int, str, str, str, int]] = []
    n_rounds = 0
    eff_batch = batch_size
    try:
        current = words
        prev_ckpt = None
        while len(out) < n_merges:
            # over-collect candidates so conflict skips rarely starve a
            # round; bounded (<= 4*M rows of two short strings + a long)
            # driver collect
            top_k = 1 if eff_batch <= 1 else max(16, 4 * eff_batch)
            pairs = current.select(
                "freq",
                F.explode(
                    F.when(
                        F.size("syms") > 1,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("l"),
                                F.element_at("syms", (i + 1).cast("int")).alias(
                                    "r"
                                ),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast("array<struct<l:string,r:string>>")
                    )
                ).alias("p"),
            )
            top = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "l", "r")
                .limit(top_k)
                .collect()
            )
            n_rounds += 1
            # the collect above materialized `current`; the checkpoint it
            # was derived FROM no longer feeds anything — release its
            # storage blocks now, keeping executor storage O(1) in rounds
            # instead of one retained type-table copy per round (round 9)
            if prev_ckpt is not None:
                _free_local_checkpoint(prev_ckpt)
                prev_ckpt = None
            if not top:
                break
            picks = []
            for row in top:
                if len(picks) >= min(eff_batch, n_merges - len(out)):
                    break
                cl, cr = row["l"], row["r"]
                if eff_batch > 1 and any(
                    cr == a or cl == b or (cl == a and cr == b)
                    or cl == a + b or cr == a + b
                    or cl + cr == a or cl + cr == b
                    for a, b, _ in picks
                ):
                    continue
                picks.append((cl, cr, int(row["cnt"])))
            for l, r, cnt in picks:
                out.append((len(out) + 1, l, r, l + r, cnt))
            # whole batch in ONE fold (map-literal lookup) — plan depth is
            # independent of the batch size
            syms = merge_pairs_fold(F.col("syms"), [(l, r) for l, r, _ in picks])
            # fully-merged word types (one symbol left) can never produce a
            # pair again — drop them so late rounds scan a shrinking table
            if current is not words:
                # freed only AFTER the next round's aggregate materializes
                # the checkpoint we are about to create from it
                prev_ckpt = current
            current = (
                current.withColumn("syms", syms)
                .filter(F.size("syms") > 1)
                .localCheckpoint(eager=False)
            )
            if max_batch_size is not None:
                eff_batch = min(eff_batch * 2, max_batch_size)
    finally:
        words.unpersist()
        for leftover in (prev_ckpt, current):
            if leftover is not None and leftover is not words:
                _free_local_checkpoint(leftover)
    if _rounds_out is not None:
        _rounds_out.append(n_rounds)
    return spark.createDataFrame(
        out, "round int, left string, right string, merged string, pair_freq long"
    )


def bpe_vocabulary(
    df: DataFrame, text_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Vocabulary table for a learned merge list: one row per surviving
    symbol (single characters plus merged tokens) with its corpus
    occurrence count. One map-only encode pass (:func:`bpe_apply`, merges
    baked as literals) + one count shuffle — the artifact a tokenizer
    trainer exports after induction."""
    from quantms_utils_spark.operators.dedup import _fan_out

    syms = _fan_out(df).select(
        F.explode(F.flatten(bpe_apply(F.col(text_col), merges))).alias("symbol")
    )
    return syms.groupBy("symbol").agg(F.count(F.lit(1)).alias("n_occurrences"))


def bpe_apply(
    text_col: Column, merges: list[tuple[str, str]]
) -> Column:
    """Encode text with a learned BPE merge list: split each word into
    characters, then apply every merge rule in learned order with the same
    left-to-right non-overlapping fold used during training
    (:func:`merge_pair_fold`). Returns ``array<array<string>>`` — the symbol
    sequence per word. Map-only pure Catalyst: the merge list is baked into
    the expression as literals (it is vocabulary metadata, KBs at most —
    the broadcast-literal pattern), so encoding a 100 TB corpus is one scan
    with zero shuffles and zero Python."""

    def _encode_word(w: Column) -> Column:
        syms = F.split(w, "")
        for left, right in merges:
            syms = merge_pair_fold(syms, F.lit(left), F.lit(right))
        return syms

    return F.transform(normalized_tokens(text_col), _encode_word)


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Cross-document duplicate-span detection (the corpus-level cousin of
    within-document `repetition_signals`, after Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for each
    document, how many of its word ``n``-grams also occur in at least one
    OTHER document, i.e. how much of it is boilerplate shared across the
    corpus. Documents under ``n`` tokens emit no row (they have no spans).

    Shape (optimization round 13, guide §2.4 "two operations keyed the
    same way can often share one exchange"): explode n-grams →
    ``repartition(gram)`` — ONE exchange of the gram stream that
    satisfies BOTH downstream distribution requirements: the
    (doc, gram) reduction (HashPartitioning(g) clusters every (doc, g)
    group — partitioning on a subset of the grouping keys satisfies
    ClusteredDistribution) and the documents-per-gram window
    (partitionBy(g) exactly) → one per-doc rollup. Before this round the
    aggregate hash-partitioned on (doc, gram) and the window re-exchanged
    by gram, so the gram-weight rows crossed the network TWICE (the
    map-side partial aggregation the old shape bought before its exchange
    only removed within-document n-gram repeats, which are rare in
    natural text — measured at sf0.1: 235,704 exploded grams vs 235,704
    after the (doc, gram) reduction, exactly zero); now they cross once,
    raw.
    The groupBy(gram)+join-back alternative stays rejected (it would
    re-run the whole explode for the second branch since ReuseExchange
    does not fire across column-pruned subtrees). No self-join, no
    collect; the gram stream never outlives its two reductions. At
    100 TB the (doc, gram) table is the working set — bounded by corpus
    tokens, shrunk by the first reduction.
    """
    from pyspark.sql import Window

    from quantms_utils_spark.operators.dedup import _fan_out

    toks = normalized_tokens(F.col(text_col))
    grams = (
        _fan_out(df)
        .select(F.col(id_col), F.explode(word_ngrams(toks, n)).alias("g"))
        .repartition("g")
    )
    per_doc = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("occ"))
    docs_with = F.count(F.lit(1)).over(Window.partitionBy("g"))
    flagged = per_doc.withColumn("_docs", docs_with)
    dup_occ = F.sum(F.when(F.col("_docs") > 1, F.col("occ")).otherwise(F.lit(0)))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_ngrams"),
            dup_occ.alias("n_dup_ngrams"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_ngrams") / F.col("n_ngrams"), 6),
        )
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-trained character-bigram language-model score — the classic
    cheap perplexity proxy for quality filtering (a KenLM stand-in that
    needs no external model): train P(c2 | c1) from the corpus itself and
    score each document by its average negative log-probability. Gibberish
    and non-language content score high; fluent text scores low.

    Unsmoothed conditional frequencies are exact here because every scored
    bigram was observed during training (the corpus IS the training set):
    -ln P(b) = ln c(first char) - ln c(b). Documents shorter than 2
    characters emit no row.

    Shape: explode bigrams → one (doc, bigram) reduction → two window sums
    (by bigram, by first char) for the global counts — the model is never
    collected anywhere — → one per-doc weighted average. Map-side
    combinable aggregates throughout; the "model" stays distributed, so a
    100 TB corpus trains and scores in the same single pass.
    """
    from pyspark.sql import Window

    from quantms_utils_spark.operators.dedup import _fan_out

    nt = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    d = (
        _fan_out(df)
        .select(F.col(id_col), nt.alias("_nt"))
        .filter(F.length("_nt") >= 2)
    )
    big = d.select(
        F.col(id_col),
        F.explode(
            F.expr("transform(sequence(1, length(_nt) - 1), i -> substr(_nt, i, 2))")
        ).alias("b"),
    )
    occ = big.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("occ"))
    cb = F.sum("occ").over(Window.partitionBy("b"))
    cp = F.sum("occ").over(Window.partitionBy(F.substring("b", 1, 1)))
    scored = occ.withColumn("_nll", F.log(cp) - F.log(cb))
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_bigrams"),
            F.round(
                F.sum(F.col("occ") * F.col("_nll")) / F.sum("occ"), 6
            ).alias("avg_neg_logprob"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Rewrite documents with cross-document duplicated spans REMOVED — the
    action half of :func:`duplicate_spans` (Lee et al. 2022 drop the
    duplicated spans, not the whole document): any token covered by a word
    ``n``-gram that also occurs in another document is cut, and the
    remaining tokens are rejoined in order.

    Shape: positional token + positional n-gram explodes, one distinct
    (doc, gram) reduction with a window docs-per-gram count, covered
    positions via an in-row sequence explode, an anti-join to keep clean
    positions, and ONE per-doc ordered rebuild (sort_array over
    (pos, token) structs — bounded by the document length, the same bound
    as the input row). Every document emits a row (cleaned_text = '' when
    everything was duplicated or the document was blank).
    """
    from pyspark.sql import Window

    from quantms_utils_spark.operators.dedup import _fan_out

    df = _fan_out(df)
    toks = normalized_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), F.size(toks).alias("n_tokens"), toks.alias("_toks")
    )
    pos_toks = base.select(
        id_col, F.posexplode("_toks").alias("p", "w")
    )
    pos_grams = base.select(
        id_col,
        F.posexplode(word_ngrams(F.col("_toks"), n)).alias("gp", "g"),
    )
    docs_per_gram = (
        pos_grams.select(id_col, "g")
        .distinct()
        .withColumn("_docs", F.count(F.lit(1)).over(Window.partitionBy("g")))
    )
    dup_pos = (
        pos_grams.join(
            docs_per_gram.filter(F.col("_docs") > 1).select(id_col, "g"),
            [id_col, "g"],
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("gp"), F.col("gp") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
    )
    kept = pos_toks.join(dup_pos, [id_col, "p"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("p", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("cleaned_text"),
            F.count(F.lit(1)).alias("n_tokens_kept"),
        )
    )
    return (
        base.select(id_col, "n_tokens")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def unicode_nfc(col: Column) -> Column:
    """Unicode NFC normalization + control-character strip — the first text
    pass over any multilingual corpus (combining sequences compose to
    canonical codepoints, so dedup fingerprints and tokenizers see one form
    per grapheme). The JVM has no normalization builtin, so this is an
    Arrow-batched pandas UDF around ``unicodedata`` (DuckDB's
    ``nfc_normalize`` reproduces it exactly — oracle-checked)."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no annotations: operators.text uses `from __future__ import
    # annotations`, which would leave pandas_udf a string signature it
    # cannot resolve against the local pd import
    @pandas_udf("string")
    def _nfc(s):
        return s.map(
            lambda v: None
            if v is None
            else "".join(
                ch
                for ch in unicodedata.normalize("NFC", v)
                if unicodedata.category(ch) != "Cc"
                or ch in ("\n", "\t")
            )
        )

    return _nfc(col)


def bpe_encode_arrow(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "symbols",
) -> DataFrame:
    """Deep-vocabulary BPE ENCODE: apply a learned merge list of ANY size
    with an Arrow-batched pandas UDF — the scale form of
    :func:`bpe_apply`, whose pure-Catalyst fold chain nests one
    higher-order function PER MERGE and stops being plannable around a
    few hundred rules (a real tokenizer ships 30k+).

    Semantics are identical to the fold chain: rules apply in LEARNED
    ORDER, each as a left-to-right non-overlapping pass over the word's
    symbols — but the kernel walks each rule list once per word in
    Python-over-Arrow, so the 30k-rule table is a broadcast dict lookup
    instead of 30k nested Catalyst expressions. Per the repo's Python
    boundary policy this is a justified kernel: the computation is
    data-dependent sequential rewriting no Catalyst expression tree of
    bounded size can express. Encoding stays map-only — one scan, zero
    shuffles; the merges ride the closure (vocabulary metadata, KBs).

    Returns the input plus ``out_col: array<array<string>>`` (symbol
    sequence per word, same contract as :func:`bpe_apply`).
    """
    import re

    from pyspark.sql.functions import pandas_udf

    rank = {(l, r): i for i, (l, r) in enumerate(merges)}
    # Java \s is ASCII-only — Python str.split()/\s match Unicode spaces
    # (NBSP, U+2028, ...), which would draw DIFFERENT word boundaries
    # than normalized_tokens on multilingual/web text (round 9)
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def _encode_word(word: str) -> list[str]:
        # IN-ORDER fold semantics at best-rank-loop speed: the fold chain
        # applies rules 0..M-1 once each, so its effective applications
        # are exactly "the smallest-rank rule >= (last applied rank + 1)
        # present in the current symbols", repeatedly — a rule passed
        # over is never revisited. A plain best-rank tokenizer loop (the
        # round-8 form) IS NOT equivalent when the merge list derives one
        # string two ways (e.g. ab+c and a+bc): it re-applies the
        # earlier rule to symbols a later rule created, diverging from
        # bpe_apply (round 9, pinned by test). Cost stays O(|word|²),
        # independent of the merge-list size.
        syms = list(word)
        ptr = 0
        while len(syms) > 1:
            best = None
            for pair in zip(syms, syms[1:]):
                r = rank.get(pair)
                if r is not None and r >= ptr and (best is None or r < best):
                    best = r
            if best is None:
                break
            l, r2 = merges[best]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r2:
                    out.append(l + r2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            ptr = best + 1
        return syms

    @pandas_udf("array<array<string>>")
    def _encode(texts: pd.Series) -> pd.Series:
        # same tokenization as normalized_tokens(): lowercase, split on
        # ASCII whitespace runs — keeps the fold-chain contract exactly
        return texts.map(
            lambda t: []
            if t is None
            else [
                _encode_word(w) for w in ws_re.split(t.lower()) if w
            ]
        )

    return df.withColumn(out_col, _encode(F.col(text_col)))


def feature_hash_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dim: int = 1024,
) -> DataFrame:
    """HASHING-TRICK vectorizer (Weinberger et al., ICML'09): each token
    maps to a feature index ``md5(token) % dim`` with a ±1 sign from an
    independent hash nibble, and per-(doc, index) signed counts form the
    sparse vector — the fixed-dimension, vocabulary-free featurization a
    100 TB text pipeline uses when a fitted vocabulary (two passes + a
    broadcast dictionary) is off the table. Collisions cancel in
    expectation because of the sign hash — the property that separates
    this from naive modulo bucketing.

    All hashing is the md5-prefix idiom both engines can replay, so the
    vectors are bit-reproducible for the correctness gate (the engine
    DEFAULT at scale would swap in xxhash64 — same shape, ~10x cheaper
    per token — exactly like the minhash family's registry/engine split).
    One explode + two hash aggregates, all map-side combinable. Output:
    (id, idx, weight) sparse triplets, weight = signed count (long).
    """
    if dim <= 0:
        raise ValueError("dim must be positive")
    tok = F.explode(
        F.split(F.lower(F.col(text_col)), r"\s+")
    ).alias("_fh_tok")
    toks = df.select(F.col(id_col), tok).filter(F.col("_fh_tok") != "")
    idx = F.pmod(
        F.conv(F.substring(F.md5(F.col("_fh_tok")), 1, 6), 16, 10).cast(
            "long"
        ),
        F.lit(dim),
    ).alias("idx")
    sign = F.when(
        F.pmod(
            F.conv(F.substring(F.md5(F.col("_fh_tok")), 7, 1), 16, 10).cast(
                "long"
            ),
            F.lit(2),
        )
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1)).alias("sign")
    return (
        toks.select(F.col(id_col), idx, sign)
        .groupBy(id_col, "idx")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )
