"""Text-analysis operators for large-scale training-data pipelines
(north-star extensions, SURVEY.md §7.6; not reference behavior —
BASELINE.json north_star).

All pure built-in column expressions (regexp/length/split) — JVM-side,
codegen'd, embarrassingly parallel: no shuffle, no UDF, scales linearly
with input splits at 100 TB.

Each operator exports a matching DuckDB SQL renderer so the driver oracle
is generated from the same constants (regex sets, stopword lists).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from kafka_dead_letter_analyzer_spark import cache_registry
from kafka_dead_letter_analyzer_spark.operators.io import shuffle_partitions

# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish subword proxy
# ---------------------------------------------------------------------------

# word pieces: runs of letters, runs of digits, or single non-space symbols —
# a deterministic proxy for BPE pre-tokenization (GPT-2-style splitting)
WORDPIECE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank strings.

    Counts ``\\S+`` runs rather than splitting: ``trim``-then-``split``
    miscounts strings that are blank-but-not-space (``"\\n"`` -> 2) because
    SQL ``trim`` strips only spaces.
    """
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(r"\S+"), F.lit(0)))


def wordpiece_count(text: Column | str) -> Column:
    """Sub-word piece count (BPE-ish regex)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(WORDPIECE_RE), F.lit(0)))


def token_count_sql(col: str) -> str:
    return f"len(regexp_extract_all({col}, '\\S+'))"


def wordpiece_count_sql(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{WORDPIECE_RE}'))"


# ---------------------------------------------------------------------------
# Language identification: stopword-hit heuristic (n-gram-free, regex-only)
# ---------------------------------------------------------------------------

# Deterministic stopword regexes per language (word-boundary anchored).
LANG_STOPWORDS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|you|that|it|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "fr": r"\b(le|la|les|et|est|une|que|pour|dans|des)\b",
    "es": r"\b(el|la|los|las|es|una|que|por|para|con)\b",
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    t = F.col(text) if isinstance(text, str) else text
    low = F.lower(t)
    return {
        lang: F.size(F.regexp_extract_all(low, F.lit(pat), F.lit(0)))
        for lang, pat in LANG_STOPWORDS.items()
    }


def _argmax_label(cols: dict[str, Column], default: str) -> Column:
    """argmax of per-label scores; ``default`` when all zero.
    Tie-break: alphabetical label order (reversed iteration so earlier
    labels win ties via later when-overwrite) — deterministic.  Shared
    by the lang-id ('und') and script-detection ('none') families."""
    best = F.greatest(*cols.values())
    result = F.lit(default)
    for name in sorted(cols, reverse=True):
        result = F.when(cols[name] == best, F.lit(name)).otherwise(result)
    return F.when(best == 0, F.lit(default)).otherwise(result)


def _argmax_label_sql(score: dict[str, str], default: str) -> str:
    """DuckDB twin of :func:`_argmax_label` (same tie/zero rules)."""
    best = "greatest(" + ", ".join(score.values()) + ")"
    expr = f"'{default}'"
    for name in sorted(score, reverse=True):
        expr = (
            f"CASE WHEN {score[name]} = {best} THEN '{name}'"
            f" ELSE {expr} END"
        )
    return f"CASE WHEN {best} = 0 THEN '{default}' ELSE {expr} END"


def _argmax_lang(cols: dict[str, Column]) -> Column:
    return _argmax_label(cols, "und")


def lang_id(text: Column | str) -> Column:
    """One-expression language ID (argmax of stopword hits). Prefer
    :func:`with_lang_id` in frames — it materializes scores once (2.2x
    faster); this form re-evaluates each regex in greatest + when."""
    return _argmax_lang(lang_scores(text))


def with_lang_id(
    df: DataFrame, text_col: str = "text", out_col: str = "pred_lang"
) -> DataFrame:
    """Frame-level language ID: scores materialized as columns in their own
    Project, argmax over cheap column refs. The one-expression
    :func:`lang_id` re-evaluates each regex score in ``greatest`` AND its
    ``when`` (subexpression elimination skips conditional branches) —
    measured 2.2x slower. Result column appended; intermediate score
    columns are dropped."""
    scored = df.select(
        "*", *[c.alias(f"_score_{lang}") for lang, c in lang_scores(text_col).items()]
    )
    cols = {lang: F.col(f"_score_{lang}") for lang in LANG_STOPWORDS}
    return scored.withColumn(out_col, _argmax_lang(cols)).drop(
        *[f"_score_{lang}" for lang in LANG_STOPWORDS]
    )


def lang_id_sql(col: str) -> str:
    score = {
        lang: f"len(regexp_extract_all(lower({col}), '{pat}'))"
        for lang, pat in LANG_STOPWORDS.items()
    }
    return _argmax_label_sql(score, "und")


# ---------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword ratios
# ---------------------------------------------------------------------------

PUNCT_RE = r"[^\w\s]"
ANY_STOPWORD_RE = r"\b(the|and|of|to|in|is|der|die|und|le|la|les|el|los)\b"


def quality_features(text: Column | str) -> dict[str, Column]:
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), F.lit(0)))
    n_stop = F.size(F.regexp_extract_all(F.lower(t), F.lit(ANY_STOPWORD_RE), F.lit(0)))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.round(n_chars.cast("double") / safe_tokens, 4),
        "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(n_stop.cast("double") / safe_tokens, 4),
    }


def quality_features_sql(col: str) -> dict[str, str]:
    n_chars = f"length({col})"
    n_tokens = token_count_sql(col)
    n_punct = f"len(regexp_extract_all({col}, '{PUNCT_RE}'))"
    n_stop = f"len(regexp_extract_all(lower({col}), '{ANY_STOPWORD_RE}'))"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": f"round({n_chars} / greatest({n_tokens}, 1), 4)",
        "punct_ratio": f"round({n_punct} / greatest({n_chars}, 1), 4)",
        "stopword_ratio": f"round({n_stop} / greatest({n_tokens}, 1), 4)",
    }


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 of the normalized text
# ---------------------------------------------------------------------------

NORMALIZE_STRIP_RE = r"[^a-z0-9]"


def fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5(lowercase, alnum-only).
    Identical normalization on both engines -> oracle-checkable; used as the
    exact-dedup key (casing/punctuation-insensitive)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(t), NORMALIZE_STRIP_RE, ""))


def fingerprint_sql(col: str) -> str:
    return f"md5(regexp_replace(lower({col}), '{NORMALIZE_STRIP_RE}', '', 'g'))"


# ---------------------------------------------------------------------------
# Frame-level operator: full text-stats projection
# ---------------------------------------------------------------------------


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    feats = quality_features(text_col)
    projected = docs.select(
        "doc_id",
        F.col(text_col),
        token_count(text_col).alias("n_tokens"),
        wordpiece_count(text_col).alias("n_wordpieces"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        fingerprint(text_col).alias("fingerprint"),
    )
    return with_lang_id(projected, text_col).drop(text_col).select(
        "doc_id",
        "n_tokens",
        "n_wordpieces",
        "pred_lang",
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "fingerprint",
    )


# ---------------------------------------------------------------------------
# Winnowing: rolling-hash local fingerprints (Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    text: Column | str, k: int = 5, window: int = 4
) -> Column:
    """Winnowing sketch of a document: polynomial ROLLING hash of every
    k-char gram of the normalized text, then the minimum hash of each
    ``window`` consecutive grams, deduped — a position-robust fingerprint
    set guaranteeing any shared substring of length >= k + window - 1
    yields at least one shared fingerprint.

    Implemented as an Arrow-vectorized pandas UDF: the rolling hash is k
    numpy vector ops over the byte array, window minima are a strided
    ``sliding_window_view`` min — linear in document length. (A pure
    higher-order-expression formulation is a trap here: nested ``transform``
    lambdas re-inline the inner array per element, going quadratic.)
    Documents shorter than k chars sketch to the whole-text hash.
    """
    import numpy as np

    B = np.uint64(1_000_003)  # polynomial base (odd, large)

    def sketch_of_text(s: str | None) -> list[int] | None:
        if s is None:
            return None
        norm = " ".join(s.lower().split())
        b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        n = b.size
        with np.errstate(over="ignore"):
            if n < k:
                h = np.uint64(0)
                for x in b:
                    h = h * B + x
                return [int(h.astype(np.int64))]
            m = n - k + 1
            h = np.zeros(m, dtype=np.uint64)
            for j in range(k):
                h = h * B + b[j : j + m]
            if m < window:
                mins = np.array([h.min()], dtype=np.uint64)
            else:
                from numpy.lib.stride_tricks import sliding_window_view

                mins = sliding_window_view(h, window).min(axis=1)
        return np.unique(mins).astype(np.int64).tolist()

    @F.pandas_udf("array<bigint>")
    def winnow_of(texts: pd.Series) -> pd.Series:
        return texts.map(sketch_of_text)

    return winnow_of(F.col(text) if isinstance(text, str) else text)


def winnow_sketches(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, window: int = 4,
) -> DataFrame:
    """(id, fingerprint) postings of the winnowing sketch — the inverted
    index a plagiarism/near-dup system shuffles on at scale."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(winnow_fingerprints(F.col(text_col), k, window)).alias(
            "fingerprint"
        ),
    )


def winnow_near_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, window: int = 4, min_shared: int = 5,
    max_df: int | None = 50,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints: inverted-index
    self-join on the fingerprint, count matches per pair, keep pairs
    sharing >= min_shared. Same scale shape as the inverted-index Jaccard
    (shuffle keyed on the fingerprint; map-side partial counting).

    ``max_df`` drops fingerprints appearing in more than that many
    documents before the join — boilerplate substrings carry no
    near-duplicate signal but cost O(df²) pairs each (on repetitive
    corpora the uncapped join is quadratic in practice). This is the
    inverted-index analog of a stopword cut and is REQUIRED at scale;
    pass None only on small curated inputs.
    """
    from pyspark import StorageLevel

    p = winnow_sketches(docs, id_col, text_col, k, window)
    if max_df is not None:
        p = cache_registry.track(p.persist(StorageLevel.MEMORY_AND_DISK))
        rare = (
            p.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fingerprint")
        )
        p = p.join(rare, on="fingerprint")
    return (
        p.alias("a")
        .join(p.alias("b"), on="fingerprint")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("int").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style): most-frequent-n-gram share per doc
# ---------------------------------------------------------------------------


def _max_multiplicity(sorted_arr: Column) -> Column:
    """Highest element multiplicity in a SORTED array, via a single
    aggregate() pass tracking (prev, current run, max run). Equal
    elements are adjacent after array_sort, so the max run length IS the
    max multiplicity — no per-element counting join needed."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("mx"),
    )

    def merge(acc, x):
        run = (
            F.when(acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["mx"], run).alias("mx"),
        )

    return F.aggregate(sorted_arr, init, merge, lambda acc: acc["mx"])


def repetition_stats(
    docs, id_col: str = "doc_id", text_col: str = "text", k: int = 3
):
    """DataFrame-level repetition profile: (id, n_grams, max_gram_count,
    distinct_grams) per document with at least one gram.

    The gram array is built ONCE in its own Project (CollapseProject
    leaves multiply-referenced non-trivial aliases alone, so the three
    consumers share it), and the input is spread across cores first —
    gram construction is CPU-per-row heavy, and a small input otherwise
    computes on the single scan partition (operators/io.py::
    spread_for_cpu; a no-op at real scale where the scan is already
    wide). Zero data-dependent shuffles either way."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import token_grams
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    # Gram-less docs (empty/NULL after trim) are excluded with this CHEAP
    # scan-level predicate — filtering on n_grams > 0 afterwards is
    # equivalent but Catalyst pushes that predicate below the spread by
    # substituting the full gram expression into it, recomputing the
    # grams on the narrow pre-spread partition (measured 10x slower).
    nonblank = F.trim(F.coalesce(F.col(text_col), F.lit(""))) != ""
    g = spread_for_cpu(docs.filter(nonblank)).select(
        id_col, token_grams(F.col(text_col), k).alias("_g")
    )
    return g.select(
        id_col,
        F.size("_g").cast("bigint").alias("n_grams"),
        _max_multiplicity(F.array_sort("_g")).alias("max_gram_count"),
        F.size(F.array_distinct("_g")).cast("bigint").alias("distinct_grams"),
    )


def cooccurrence_counts(
    docs, text_col: str = "text", window: int = 2
) -> "DataFrame":
    """Skip-gram co-occurrence counts over a symmetric ±``window`` token
    context — the input matrix for GloVe/PPMI-style embedding training
    and collocation mining.

    Pair generation is a per-row JVM expression (transform over token
    positions x offsets, nulls filtered), so the only shuffle is the
    (center, context) count aggregation, which partial-aggregates
    map-side — at corpus scale the combiner collapses each task to at
    most |local vocab|² rows before the exchange. The full result is
    vocab²-bounded; at web scale, df-cap the explode or filter the
    output to counts >= k before materializing.
    """
    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    # Pairs at offset +o are toks zipped with itself shifted by o
    # (shifted-slice arrays_zip); the -o pairs are the same zips swapped.
    # This stays in shallow vectorized array ops — the per-position
    # nested-lambda formulation (transform over positions x offsets) is
    # interpreted per pair and measured 3.4x slower at sf0.1.
    toks = _tokens(F.col(text_col))
    L = F.size(toks)
    parts = []
    for o in range(1, window + 1):
        n = F.greatest(L - o, F.lit(0))
        z = F.arrays_zip(F.slice(toks, 1, n), F.slice(toks, 1 + o, n))
        parts.append(
            F.transform(z, lambda s: F.struct(s["0"].alias("c"), s["1"].alias("x")))
        )
        parts.append(
            F.transform(z, lambda s: F.struct(s["1"].alias("c"), s["0"].alias("x")))
        )
    pairs = F.concat(*parts)
    nonblank = F.trim(F.coalesce(F.col(text_col), F.lit(""))) != ""
    exploded = spread_for_cpu(docs.filter(nonblank)).select(
        F.explode(pairs).alias("p")
    )
    return exploded.groupBy(
        F.col("p.c").alias("center"), F.col("p.x").alias("context")
    ).agg(F.count(F.lit(1)).alias("n"))


def distinctive_terms(
    docs: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` most DISTINCTIVE terms per group — terms frequent inside
    the group but rare across the corpus. The integer-exact stand-in for
    per-group TF-IDF: score = tf * scale div df (group term frequency
    over corpus document frequency, scaled integer division), so the
    ranking is bit-identical on any engine — no log()/libm in the
    result surface.

    Scale shape — ONE token scan feeding stacked reductions, each input
    strictly smaller than the last:
      1. per (doc, group, token) occurrence count `c`: the only
         full-token-stream shuffle, map-side combined (each partition
         collapses its token stream to its local vocabulary first);
      2. per (group, token): tf = sum(c) and the group's containing-doc
         count = count(*) — one aggregation over the contraction;
      3. df per token falls out of step 2 WITHOUT re-reading anything:
         a document has exactly ONE group, so corpus df = sum of the
         per-group doc counts — an unordered window over `term` on the
         |groups|x|vocab| table (naively joining a separately-computed
         df table makes Catalyst duplicate the whole token-scan subtree
         — two full scans + two token shuffles, caught by the plan pin);
      4. the per-group top-k window, with WindowGroupLimit pruning
         rank > k before the final exchange.

    Tokenizer is the pinned central one (dedup._tokens) so "distinctive
    vocabulary" and "dedup/contamination" agree on token identity.
    """
    from pyspark.sql import Window

    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens

    # NO spread here: whitespace tokenization is cheap per row — the
    # round-robin Exchange costs more than single-core tokenization saves
    # (measured 0.41 -> 0.83 s with a spread at sf0.1); spread pays only
    # for heavy per-row work like k-gram concat (see chunk_with_overlap).
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_doc"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    doc_token = toks.groupBy("_doc", "grp", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    lt = doc_token.groupBy("grp", "term").agg(
        F.sum("c").cast("bigint").alias("tf"),
        F.count(F.lit(1)).alias("_docs"),
    )
    scored = lt.withColumn(
        "df", F.sum("_docs").over(Window.partitionBy("term")).cast("bigint")
    ).select(
        F.col("grp").alias(group_col),
        "term",
        "tf",
        "df",
        F.expr(f"CAST(tf * {scale} DIV df AS BIGINT)").alias("score"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def lm_continuation_counts(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Kneser-Ney continuation statistics for the (n-1)-gram table: per
    suffix bigram (w2, w3) of every corpus trigram, the number of
    DISTINCT left contexts (continuation_count — KN's numerator: how
    many different words precede this bigram) and total occurrences.
    The language-model smoothing input that plain n-gram counts can't
    provide.

    Scale shape mirrors distinctive_terms: trigram structs are built
    per-row with shifted-slice arrays_zip (vectorized, no UDF); the
    full gram stream shuffles ONCE into the (w1, w2, w3) count
    contraction (map-side combined); continuation = count(*) and
    total = sum(c) are then ONE further reduction over the contraction
    — distinct-left-context never needs a count(DISTINCT) expansion
    because the contraction already has one row per distinct trigram.
    """
    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    toks = _tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(toks, 1 + o, m).alias(str(o)) for o in range(n)]
    )
    nonblank = F.trim(F.coalesce(F.col(text_col), F.lit(""))) != ""
    grams = spread_for_cpu(docs.filter(nonblank)).select(
        F.explode(z).alias("g")
    )
    tri = grams.groupBy(
        *[F.col("g").getField(str(o)).alias(f"w{o + 1}") for o in range(n)]
    ).agg(F.count(F.lit(1)).alias("c"))
    suffix = [f"w{o + 1}" for o in range(1, n)]
    return tri.groupBy(*suffix).agg(
        F.count(F.lit(1)).cast("bigint").alias("continuation_count"),
        F.sum("c").cast("bigint").alias("total_count"),
    )


def chunk_with_overlap(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int = 96,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window document chunking (RAG/context-window prep): each
    document's token stream is cut into chunks of up to ``chunk_tokens``
    starting every ``stride`` tokens (overlap = chunk_tokens - stride),
    emitting (id, chunk_idx, start_token, n_chunk_tokens, chunk_text).
    chunk_text re-joins tokens with single spaces — the normalized form
    downstream embedders tokenize anyway.

    Pure per-row expression: sequence + transform build all chunk
    descriptors inside the row, one explode fans them out — no shuffle,
    no UDF; at 100 TB this is a narrow scan-shaped pass whose output is
    ~(1 + overlap/stride)x the input tokens. Blank/NULL docs emit no
    chunks. The last chunks may be short (the tail is kept, standard
    RAG practice). ``keep_cols`` pass through unchanged onto every chunk
    row (e.g. the event-time column a streaming watermarked dedup needs
    downstream).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens

    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # chunk start indices 0, stride, 2*stride, ... < n
    idxs = F.sequence(
        F.lit(0), F.floor((n - 1) / F.lit(stride)).cast("int"), F.lit(1)
    )
    ntk = lambda i: F.least(F.lit(chunk_tokens), n - i * stride)  # noqa: E731
    chunks = F.transform(
        idxs,
        lambda i: F.struct(
            (i + 1).cast("bigint").alias("chunk_idx"),
            (i * stride + 1).cast("bigint").alias("start_token"),
            ntk(i).cast("bigint").alias("n_chunk_tokens"),
            F.array_join(F.slice(toks, i * stride + 1, ntk(i)), " ").alias(
                "chunk_text"
            ),
        ),
    )
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    return (
        spread_for_cpu(
            docs.filter(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "")
        )
        .select(id_col, *keep_cols, F.explode(chunks).alias("ch"))
        .select(
            id_col,
            *keep_cols,
            F.col("ch.chunk_idx").alias("chunk_idx"),
            F.col("ch.start_token").alias("start_token"),
            F.col("ch.n_chunk_tokens").alias("n_chunk_tokens"),
            F.col("ch.chunk_text").alias("chunk_text"),
        )
    )


def compression_signal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document compressibility (CCNet/Gopher-style quality signal):
    zlib-compressed size over raw utf-8 size, as an INTEGER ratio in
    basis points (compressed * 10000 div raw). Highly repetitive or
    templated text compresses far below prose; random noise sits near
    (or above) 10000 — both tails are filter candidates.

    zlib at a fixed level is deterministic for a given input, so the
    signal is retry/partition-stable; it has no SQL analog, hence a
    pytest-differential (not oracle) contract. Arrow-batched
    ``mapInPandas`` — the payload never leaves the executor, one Python
    stage, no shuffle. NULL/empty docs emit ratio NULL (nothing to
    measure)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_raw_bytes", T.LongType()),
            T.StructField("n_zlib_bytes", T.LongType()),
            T.StructField("compress_bp", T.LongType()),
        ]
    )

    def compute(iterator):
        import zlib

        for pdf in iterator:
            raw = [
                t.encode("utf-8") if isinstance(t, str) else None
                for t in pdf[text_col]
            ]
            n_raw = [len(b) if b else None for b in raw]
            n_z = [
                len(zlib.compress(b, level)) if b else None for b in raw
            ]
            bp = [
                (z * 10000) // r if r else None
                for z, r in zip(n_z, n_raw)
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_raw_bytes": pd.array(n_raw, dtype="Int64"),
                    "n_zlib_bytes": pd.array(n_z, dtype="Int64"),
                    "compress_bp": pd.array(bp, dtype="Int64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(compute, schema)


# ---------------------------------------------------------------------------
# Corpus-relative token statistics (round 4): rarity scoring, diversity,
# boilerplate-prefix clustering, bigram memorization risk. All-integer
# surfaces (ppm / DIV) per the cross-engine determinism rules.
# ---------------------------------------------------------------------------


def rare_token_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Rarity (surprisal-proxy) score per document: for each token
    occurrence, the integer ``corpus_total_tokens DIV corpus_token_freq``
    (a rare token contributes ~corpus_size, a stopword ~1/stopword-rate),
    summed per doc. The frequency-weighted analogue of quality scoring —
    the CCNet/Gopher-style "rare-token density" signal with no floats.

    Plan shape (scale): ONE token-explosion scan. Token frequency is a
    WINDOW over the (doc, token) count contraction — a freq-JOIN-dt
    formulation makes Catalyst duplicate the whole exploded-token subtree
    per reference (verified: three parquet scans, three Generates). The
    corpus total comes from a separate explode-free scalar scan
    (sum of size(tokens) — no Generate) broadcast as one row. Net: one
    Generate, shuffles only on (doc,token) and token."""
    from pyspark.sql import Window

    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens

    dt = (
        docs.select(
            F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    dtf = dt.withColumn(
        "freq", F.sum("c").over(Window.partitionBy("tok")).cast("bigint")
    )
    total = docs.select(
        F.size(_tokens(F.col(text_col))).alias("_n")
    ).agg(F.sum("_n").cast("bigint").alias("total"))
    return (
        dtf.crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.expr("c * (total DIV freq)")).cast("bigint").alias("rarity_score"),
        )
    )


def token_diversity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Vocabulary-diversity ppm per document: distinct tokens * 1e6 DIV
    total tokens — the cheap repetition signal (a looped doc scores low,
    natural text ~0.5-0.9e6). Pure projection over the token array: no
    explode, no shuffle — array_distinct/size run inside codegen, so this
    streams through the scan at any corpus size."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens

    toks = _tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("bigint") * 1_000_000).alias("_d6"),
    ).select(
        id_col,
        "n_tokens",
        F.when(F.col("n_tokens") > 0, F.expr("_d6 DIV n_tokens"))
        .cast("bigint")
        .alias("diversity_ppm"),
    )


def prefix_clusters(
    docs: DataFrame,
    prefix_tokens: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate-prefix detection: cluster documents sharing their first
    ``prefix_tokens`` tokens (site headers, license banners, template
    intros — the classic shared-prefix boilerplate a crawl corpus carries).
    Emits one row per cluster with >= ``min_docs`` members: the md5 of the
    prefix, member count, and the smallest doc id as representative.

    Scale: a single partial-agg shuffle keyed on a 32-char hash — the
    prefix text itself never crosses the Exchange; docs shorter than the
    prefix form their own exact-text clusters (still boilerplate if
    repeated verbatim)."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens

    toks = _tokens(F.col(text_col))
    prefix = F.concat_ws(" ", F.slice(toks, 1, prefix_tokens))
    return (
        # blank docs are excluded — md5("") would weld every empty doc
        # into one giant fake "cluster"
        docs.select(F.col(id_col), F.size(toks).alias("_n"), F.md5(prefix).alias("prefix_hash"))
        .filter(F.col("_n") > 0)
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def bigram_memorization_ppm(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Memorization-risk signal per document: the ppm of its DISTINCT
    bigrams that also occur in at least ``min_docs - 1`` OTHER documents
    — a doc whose n-grams are all corpus-common is low-risk to emit
    verbatim; one full of unique bigrams is the memorization hazard
    (Lee et al. dedup / Carlini memorization line of work, recast as a
    per-doc audit).

    Plan shape (scale): bigram document-frequency derives from a WINDOW
    over the one (doc, bigram) distinct contraction — the
    x_distinctive_terms lesson: a tf-join-df formulation makes Catalyst
    duplicate the whole token-scan subtree; the window reuses the single
    contraction, so one corpus scan, one (doc,bigram) shuffle, one
    bigram-keyed window shuffle. The bigram construction (transform +
    concat per element) is CPU-heavy per row, so the input is spread
    across cores first (measured 8.1 s -> sub-second at bench scale;
    no-op on a real many-partition scan)."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import _tokens
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu
    from pyspark.sql import Window

    docs = spread_for_cpu(docs)
    toks = _tokens(F.col(text_col))
    # bigrams via the shifted-slice arrays_zip (the token_grams trick):
    # the per-position transform (element_at per i) is interpreted per
    # gram — A/B'd 0.70x at sf0.1 after the switch.  The n<2 -> []
    # branch is this operator's own contract (token_grams emits the
    # whole sequence there), so the zip is inlined rather than reused.
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(0))
    z = F.arrays_zip(F.slice(toks, 1, m), F.slice(toks, 2, m))
    bigrams = F.when(
        n >= 2,
        F.transform(z, lambda s: F.concat_ws(" ", s["0"], s["1"])),
    ).otherwise(F.array().cast("array<string>"))
    # per-doc dedup happens in the ARRAY (array_distinct) before the
    # explode — a row-level .distinct() here would add a (doc, bg) shuffle
    # for rows that are already unique
    db = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(bigrams)).alias("bg"),
    )
    w = Window.partitionBy("bg")
    dfed = db.withColumn("df", F.count(F.lit(1)).over(w))
    return dfed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.expr(
            f"CAST(sum(CASE WHEN df >= {int(min_docs)} THEN 1 ELSE 0 END) "
            "* 1000000 DIV count(*) AS BIGINT)"
        ).alias("shared_ppm"),
    )


# ---------------------------------------------------------------------------
# Script detection (unicode-block histogram)
# ---------------------------------------------------------------------------

# major writing-system BMP ranges; (java_regex, re2_regex) pairs keep the
# Spark expression and the DuckDB oracle byte-for-byte on the same class
_SCRIPT_RANGES: dict[str, tuple[str, str]] = {
    "arabic": (r"[؀-ۿ]", r"[\x{0600}-\x{06FF}]"),
    "cjk": (
        r"[一-鿿぀-ヿ]",
        r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]",
    ),
    "cyrillic": (r"[Ѐ-ӿ]", r"[\x{0400}-\x{04FF}]"),
    "devanagari": (r"[ऀ-ॿ]", r"[\x{0900}-\x{097F}]"),
    "greek": (r"[Ͱ-Ͽ]", r"[\x{0370}-\x{03FF}]"),
    "hangul": (r"[가-힯]", r"[\x{AC00}-\x{D7AF}]"),
    "latin": (r"[A-Za-zÀ-ɏ]", r"[A-Za-z\x{00C0}-\x{024F}]"),
}


def script_counts(text: Column | str) -> dict[str, Column]:
    """Per-script character counts of a text column — one
    ``regexp_extract_all`` length per major writing-system BMP range
    (pure codegen projections, the lang_scores shape).  The complement
    of the stopword lang-id: that one only separates languages that
    share the Latin script, while a CJK/Cyrillic/Arabic document
    collapses to 'und' — the script histogram is the first routing
    decision a multilingual corpus pipeline makes."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.coalesce(t, F.lit(""))
    return {
        name: F.size(F.regexp_extract_all(t, F.lit(java_pat), F.lit(0)))
        for name, (java_pat, _) in _SCRIPT_RANGES.items()
    }


def dominant_script(cols: dict[str, Column]) -> Column:
    """argmax of per-script counts via the shared :func:`_argmax_label`
    rule; 'none' when all zero."""
    return _argmax_label(cols, "none")


def with_script_profile(
    df: DataFrame, text_col: str = "text", out_col: str = "script"
) -> DataFrame:
    """Frame-level script profile: per-script count columns
    (``n_<script>``) plus the dominant-script label — counts
    materialize once in their own Project so the argmax runs over
    cheap column refs (the with_lang_id pattern)."""
    scored = df.select(
        "*",
        *[
            c.alias(f"n_{name}")
            for name, c in script_counts(text_col).items()
        ],
    )
    cols = {name: F.col(f"n_{name}") for name in _SCRIPT_RANGES}
    return scored.withColumn(out_col, dominant_script(cols))


def script_counts_sql(col: str) -> dict[str, str]:
    """DuckDB twins of :func:`script_counts` (RE2 ``\\x{..}`` range
    syntax; same classes character for character)."""
    return {
        name: (
            f"len(regexp_extract_all(coalesce({col}, ''),"
            f" '{re2_pat}'))"
        )
        for name, (_, re2_pat) in _SCRIPT_RANGES.items()
    }


def dominant_script_sql(col: str) -> str:
    return _argmax_label_sql(script_counts_sql(col), "none")


# ---------------------------------------------------------------------------
# N-gram typicality: corpus-frequency LM proxy (CCNet-style quality gate)
# ---------------------------------------------------------------------------

# Normalization shared by operator and oracle: lowercase alnum runs.
TYPICALITY_TOKEN_RE = r"[a-z0-9]+"


def ngram_typicality(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "join",
) -> DataFrame:
    """Corpus n-gram typicality score — the integer-exact stand-in for
    an LM-perplexity quality gate (CCNet trains a KenLM and keeps the
    low-perplexity head; the portable proxy is: how COMMON are this
    document's n-grams in the corpus itself?).  A boilerplate page
    scores high (its n-grams repeat corpus-wide), gibberish scores at
    the floor (every n-gram count 1); ``min_freq = 1`` flags documents
    containing a corpus-unique n-gram.  All counts stay int64 — no
    log, no float sum — so the whole score is cross-engine
    hash-exact, unlike a real LM score (sum of floats, order-
    dependent in the last ulp; the repo's doubles-never-accumulate
    rule).

    Emits one row per input document (the gate scores EVERYTHING):
    ``(id_col, n_ngrams BIGINT, sum_freq BIGINT, min_freq BIGINT,
    typicality_ppm BIGINT)`` where ``sum_freq = sum over the doc's
    n-gram OCCURRENCES of that n-gram's corpus count``, ``min_freq``
    is the rarest n-gram's corpus count, and ``typicality_ppm =
    ppm2(sum_freq, n_ngrams)`` is the exact mean corpus frequency in
    ppm (> 1e6 whenever the mean exceeds 1 — ppm2 is exact for any
    non-negative ratio).  Documents with fewer than ``n`` tokens have
    ``n_ngrams = 0`` and NULL min/typicality.  Tokens are lowercase
    alnum runs (TYPICALITY_TOKEN_RE) — identical on both engines.

    Two hash-gate-equal physical strategies (both start from the same
    codegen ``transform(sequence(...))`` + explode_outer — no Python,
    no driver collection, no vocabulary broadcast):

    - ``method='join'`` (DEFAULT — the skew-robust scale path).
      Occurrences first contract to (id, gram, in-doc count) —
      map-side combined, so a hot gram is spread across its documents
      before anything shuffles by gram alone — then corpus counts
      contract from THAT, and a gram-keyed join (AQE skew-split-able,
      unlike a window) delivers them back; ``sum_freq = sum(dc * c)``
      over the doc's DISTINCT grams is identical to the occurrence
      sum.  Costs a second scan (the (id, gram) contraction feeds two
      consumers) and a second full contraction shuffle — the price of
      removing the per-gram single-task bound entirely (the widest
      key is now (gram) x distinct-docs-containing-it at join time,
      split by AQE).  The default because a natural-language corpus
      ALWAYS has a Zipf head: at true 100 TB the hottest bigram ('of
      the', ~1% of occurrences) alone breaks the window path below.
    - ``method='window'`` (explicit small-corpus opt-in): EXACTLY ONE
      scan — corpus counts come from a window count over the gram
      key, occurrences shuffle ONCE, then one (id) contraction.
      Empty docs survive without a spine join-back: explode_outer
      keeps them as a NULL-gram row whose window key is a per-doc
      sentinel (a corpus-wide NULL-gram partition would funnel every
      short doc into one task).  SKEW BOUND — the reason this is NOT
      the default: a window partition is one task, so the single most
      frequent n-gram's TOTAL occurrence count must fit one task —
      fine into the ~1e8 range, fatal past it, and AQE cannot split
      window partitions.  Opt in when the corpus is known-small and
      the saved scan matters.

    Exactness bound (both): ``sum_freq * 1000`` and ``(sum_freq DIV
    n_ngrams) * 1e6`` must fit int64 — satisfied whenever the corpus
    has < ~9e12 total n-gram occurrences, far past 100 TB of text."""
    if n < 1:
        raise ValueError(f"ngram_typicality: n={n} must be >= 1")
    if method not in ("window", "join"):
        raise ValueError(
            f"ngram_typicality: method={method!r} must be 'window'"
            " or 'join'"
        )
    from kafka_dead_letter_analyzer_spark.operators.common import ppm2

    toks = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.regexp_extract_all(
            F.lower(text_col), F.lit(TYPICALITY_TOKEN_RE), F.lit(0)
        ).alias("_t"),
    )
    from pyspark.sql import Window

    # 1-based slice(_t, i, n) joined with spaces; the short-doc guard
    # is explicit because Spark's sequence(1, 0) DESCENDS ([1, 0])
    # instead of being empty — without it a 1-token doc would emit
    # out-of-range slices, not zero rows.  explode_outer keeps the
    # zero-gram doc as one NULL-gram row.
    grams = toks.select(
        "_id",
        F.explode_outer(
            F.expr(
                f"CASE WHEN size(_t) >= {n} THEN"
                f" transform(sequence(1, size(_t) - {n - 1}),"
                f" i -> array_join(slice(_t, i, {n}), ' '))"
                " ELSE array() END"
            )
        ).alias("_g"),
    )
    real = F.col("_g").isNotNull()
    if method == "window":
        # window key: the gram, or a per-doc sentinel for the
        # NULL-gram row (real grams are lowercase alnum + spaces —
        # the \x00 prefix cannot collide); sentinel windows are
        # singleton by construction
        keyed = grams.withColumn(
            "_gk",
            F.coalesce(
                F.col("_g"),
                F.concat(F.lit("\x00:"), F.col("_id").cast("string")),
            ),
        )
        counted = keyed.withColumn(
            "_c",
            F.count(F.lit(1))
            .over(Window.partitionBy("_gk"))
            .cast("bigint"),
        )
        out = counted.groupBy("_id").agg(
            F.count(F.when(real, 1)).cast("bigint").alias("n_ngrams"),
            F.coalesce(
                F.sum(F.when(real, F.col("_c"))), F.lit(0)
            ).cast("bigint").alias("sum_freq"),
            F.min(F.when(real, F.col("_c")))
            .cast("bigint")
            .alias("min_freq"),
        )
    else:
        # (id, gram) pre-contraction spreads a hot gram across its
        # documents; the NULL-gram row of an empty doc survives the
        # LEFT join (NULL keys never match) and is masked in the agg
        cell = grams.groupBy("_id", "_g").agg(
            F.count(F.when(real, 1)).cast("bigint").alias("_dc")
        )
        corpus = (
            cell.filter(real)
            .groupBy("_g")
            .agg(F.sum("_dc").cast("bigint").alias("_c"))
        )
        joined = cell.join(corpus, "_g", "left")
        out = joined.groupBy("_id").agg(
            F.coalesce(
                F.sum(F.when(real, F.col("_dc"))), F.lit(0)
            ).cast("bigint").alias("n_ngrams"),
            F.coalesce(
                F.sum(F.when(real, F.col("_dc") * F.col("_c"))),
                F.lit(0),
            ).cast("bigint").alias("sum_freq"),
            F.min(F.when(real, F.col("_c")))
            .cast("bigint")
            .alias("min_freq"),
        )
    return out.select(
        F.col("_id").alias(id_col),
        "n_ngrams",
        "sum_freq",
        "min_freq",
        F.expr(
            "CASE WHEN n_ngrams = 0 THEN CAST(NULL AS BIGINT)"
            f" ELSE {ppm2('sum_freq', 'n_ngrams')} END"
        ).cast("bigint").alias("typicality_ppm"),
    )


# ---------------------------------------------------------------------------
# BLEU sufficient statistics: clipped n-gram precision for (cand, ref) pairs
# ---------------------------------------------------------------------------


def _check_group_cols(pairs, group_cols, id_col: str, max_n: int) -> None:
    """Shared validation for the eval family's ``group_cols``
    passthrough: the columns must exist in the pair table and must
    not collide with the id, the internal names, or the stat
    surface."""
    reserved = {id_col, "_pid", "_ct", "_rt", "_cs", "_rs", "_s",
                "_n", "_side", "_g", "_cc", "_cr",
                "cand_len", "ref_len", "lcs_len", "truncated"}
    for n in range(1, max_n + 1):
        reserved |= {f"clipped_{n}", f"total_{n}",
                     f"cand_total_{n}", f"ref_total_{n}"}
    for c in group_cols:
        if c not in pairs.columns:
            raise ValueError(
                f"group_cols: {c!r} is not a column of the pair table"
                f" (has {pairs.columns})"
            )
        if c in reserved:
            raise ValueError(
                f"group_cols: {c!r} collides with the stats surface"
            )


def _clipped_ngram_counts(cand_grams_by_n, ref_grams_by_n):
    """Per-pair clipped n-gram matches: for each n (list index),
    ``sum over grams g of min(count_cand(g), count_ref(g))`` — the
    BLEU/chrF clipped numerator, computed with C-backed Counters.
    Inputs are per-n iterables of hashable grams (strings or tuples);
    returns a list of ints, one per n."""
    from collections import Counter

    out = []
    for cg, rg in zip(cand_grams_by_n, ref_grams_by_n):
        cc = Counter(cg)
        if not cc:
            out.append(0)
            continue
        cr = Counter(rg)
        if not cr:
            out.append(0)
            continue
        if len(cc) > len(cr):
            cc, cr = cr, cc
        s = 0
        for g, c in cc.items():
            r = cr.get(g)
            if r:
                s += c if c < r else r
        out.append(s)
    return out


def _eval_stats_arrow(
    pairs: DataFrame,
    max_n: int,
    id_col: str,
    group_cols: tuple,
    prepared,  # (cand_expr_sql, ref_expr_sql) producing the kernel input
    grams_of,  # python fn(value, n) -> iterable of grams for one side
    len_of,  # python fn(value) -> int length (tokens or chars)
    total_names: tuple,  # (cand_total prefix, ref_total prefix)
) -> DataFrame:
    """Shared Arrow-batched driver for the BLEU/chrF sufficient-stats
    kernels (guide §4.2: per-pair counting is a pure per-row map — the
    exploded-gram formulation shuffles/aggregates ~2*max_n*len rows per
    pair to compute something each row can compute locally).  ONE scan,
    the pinned pre-kernel rebalance for CPU spread (the rouge_l_stats
    rationale: per-row cost is compute, not bytes), one MapInPandas, no
    Generate, no aggregation at all.  Output schema and values are
    bit-identical to the expression path (differential-tested)."""
    import numpy as np
    import pandas as pd

    cand_sql, ref_sql = prepared
    base = pairs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"),
        *[F.col(c) for c in group_cols],
        F.expr(cand_sql).alias("_c"),
        F.expr(ref_sql).alias("_r"),
    )
    n_parts = shuffle_partitions(pairs.sparkSession)
    base = base.repartition(n_parts, "_pid")
    from pyspark.sql import types as T

    cand_total, ref_total = total_names
    # nullability mirrors the expression path exactly (schema_match is
    # part of the driver's gate): id/lens/group_cols nullable, counts not
    long_t = T.LongType()
    out_schema = T.StructType(
        [
            T.StructField(id_col, pairs.schema[id_col].dataType, True),
            T.StructField("cand_len", long_t, True),
            T.StructField("ref_len", long_t, True),
        ]
        + [
            T.StructField(f"clipped_{n}", long_t, False)
            for n in range(1, max_n + 1)
        ]
        + [
            T.StructField(f"{cand_total}_{n}", long_t, False)
            for n in range(1, max_n + 1)
        ]
        + [
            T.StructField(f"{ref_total}_{n}", long_t, False)
            for n in range(1, max_n + 1)
        ]
        + [
            T.StructField(c, pairs.schema[c].dataType, True)
            for c in group_cols
        ]
    )

    def stats_rows(batches):
        rng = range(1, max_n + 1)
        for pdf in batches:
            n_rows = len(pdf)
            cls = [0] * n_rows
            rls = [0] * n_rows
            clipped = [[0] * n_rows for _ in rng]
            for i, (cv, rv) in enumerate(zip(pdf["_c"], pdf["_r"])):
                cls[i] = len_of(cv)
                rls[i] = len_of(rv)
                row = _clipped_ngram_counts(
                    (grams_of(cv, n) for n in rng),
                    (grams_of(rv, n) for n in rng),
                )
                for j in range(max_n):
                    clipped[j][i] = row[j]
            out = pd.DataFrame({id_col: pdf["_pid"].reset_index(drop=True)})
            cl = np.asarray(cls, dtype=np.int64)
            rl = np.asarray(rls, dtype=np.int64)
            out["cand_len"] = cl
            out["ref_len"] = rl
            for n in rng:
                out[f"clipped_{n}"] = np.asarray(
                    clipped[n - 1], dtype=np.int64
                )
            for n in rng:
                out[f"{cand_total}_{n}"] = np.maximum(cl - (n - 1), 0)
            for n in rng:
                out[f"{ref_total}_{n}"] = np.maximum(rl - (n - 1), 0)
            for c in group_cols:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    res = base.mapInPandas(stats_rows, out_schema)
    # column ORDER must match the expression path exactly
    return res.select(
        id_col,
        *group_cols,
        "cand_len",
        "ref_len",
        *[f"clipped_{n}" for n in range(1, max_n + 1)],
        *[f"{cand_total}_{n}" for n in range(1, max_n + 1)],
        *[f"{ref_total}_{n}" for n in range(1, max_n + 1)],
    )


def bleu_stats(
    pairs: DataFrame,
    max_n: int = 4,
    id_col: str = "pair_id",
    cand_col: str = "candidate",
    ref_col: str = "reference",
    group_cols: tuple = (),
    impl: str = "arrow",
) -> DataFrame:
    """BLEU sufficient statistics (Papineni et al. 2002) per
    (candidate, reference) pair — the eval-pipeline primitive for
    scoring generated text against references at corpus scale:
    ``(id_col, cand_len BIGINT, ref_len BIGINT, clipped_1..max_n
    BIGINT, total_1..max_n BIGINT, ref_total_1..max_n BIGINT)`` where
    ``clipped_n = sum over the candidate's distinct n-grams of
    min(count_cand, count_ref)`` (the CLIPPED matches — a candidate
    repeating 'the the the' cannot farm matches past the reference's
    own count), ``total_n = max(cand_len - n + 1, 0)`` and
    ``ref_total_n = max(ref_len - n + 1, 0)``.  The clipped sum is
    SYMMETRIC in the two sides, so the same row serves both metric
    families: BLEU precision = ``clipped_n / total_n`` and ROUGE-N
    recall = ``clipped_n / ref_total_n`` (Lin 2004) — one pass, two
    eval metrics.  Every quantity is an int64 count, so the surface
    is cross-engine hash-exact; BLEU itself (geometric mean of
    precisions x the brevity penalty ``exp(1 - ref/cand)``) is float
    and stays caller-side, as does corpus-BLEU (sum the stats over
    pairs FIRST, then one float step — the standard corpus/sentence
    distinction for free; :func:`corpus_eval_rollup` is that sum as
    an operator).  Tokens are lowercase alnum runs
    (TYPICALITY_TOKEN_RE), shared with :func:`ngram_typicality`.

    ``group_cols``: extra per-pair columns (functionally dependent on
    the pair id — e.g. the corpus/source a pair belongs to) carried
    through to the output for downstream corpus rollups WITHOUT a
    join back to the pair table.  They ride the gram stream (one
    extra column through the explosion — modest next to the gram
    strings) and contract via ``max`` (per-id-constant by contract);
    both contraction keys stay id-only, so the pinned two-exchange
    plan shape is unchanged.

    Plan shape, graded for 100 TB: EXACTLY ONE scan of the pair
    table, then an EXPLICIT pre-explosion rebalance (the pair table
    is compact until the ~8x-per-token gram explosion; AQE sizes
    post-shuffle partitions by pre-explosion bytes, so without the
    pinned repartition a windowed/joined input coalesces to a few
    partitions and the Generate runs near-serial — measured 7.5 ->
    1.8 s at sf0.1).  Both sides' n-grams for ALL n in 1..max_n
    leave the scan through ONE Generate — each side's per-n gram
    arrays become (n, side, gram) structs, flattened and exploded
    together — then ONE map-side-combined contraction on (id, n,
    gram) computes both sides' counts (the per-key state is two
    longs), a codegen ``least`` clips, and one (id) contraction
    pivots to the wide surface.  Because the rebalance hashes on the
    pair id, hashpartitioning(id) already satisfies
    ClusteredDistribution for BOTH contractions (their keys are
    id-subsumed) — the exploded gram stream itself never shuffles
    (pinned: two exchanges total, both upstream of the Generate).  No join between the sides (a
    cand-counts-to-ref-counts join would shuffle two full gram
    streams and still need the contraction), no Python, no driver
    collection.  Pairs with a NULL id are excluded; a NULL candidate
    or reference is treated as empty text (zero grams — BLEU 0, not
    a dropped row: an empty generation is a legitimate eval
    outcome)."""
    if max_n < 1:
        raise ValueError(f"bleu_stats: max_n={max_n} must be >= 1")
    if impl not in ("arrow", "expr"):
        raise ValueError(f"bleu_stats: impl={impl!r} must be arrow|expr")

    def toks(col: str) -> str:
        return (
            f"regexp_extract_all(lower(coalesce({col}, '')),"
            f" '{TYPICALITY_TOKEN_RE}', 0)"
        )

    def gram_structs(arr: str, n: int, side: str) -> str:
        # (n, side, gram) structs for one n; empty array when short
        return (
            f"CASE WHEN size({arr}) >= {n} THEN"
            f" transform(sequence(1, size({arr}) - {n - 1}),"
            f" i -> named_struct('n', {n}, 'side', '{side}',"
            f" 'g', array_join(slice({arr}, i, {n}), ' ')))"
            " ELSE array() END"
        )

    _check_group_cols(pairs, group_cols, id_col, max_n)
    if impl == "arrow":
        # tokenization stays a JVM expression (same lower/regexp
        # semantics as the expr path and the oracle); the kernel only
        # counts — list slicing + C-backed Counters per pair, one
        # output row per input row, NO gram explosion and NO
        # aggregation (guide §4.2; measured vs the expr path in
        # OPTIMIZATION_r13.md).
        return _eval_stats_arrow(
            pairs,
            max_n,
            id_col,
            group_cols,
            (toks(cand_col), toks(ref_col)),
            lambda v, n: zip(*(list(v)[i:] for i in range(n)))
            if len(v) >= n
            else (),
            len,
            ("total", "ref_total"),
        )
    base = pairs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"),
        *[F.col(c) for c in group_cols],
        F.expr(toks(cand_col)).alias("_ct"),
        F.expr(toks(ref_col)).alias("_rt"),
    )
    # Rebalance BEFORE the ~8x-per-token explosion with an EXPLICIT
    # partition count: AQE sizes post-shuffle partitions by the
    # pre-explosion bytes, so a pair table arriving from a window or
    # join gets coalesced to a handful of partitions and the whole
    # Generate+aggregate runs near-serial (measured 7.5 -> 1.8 s at
    # sf0.1 — the pair table is the compact side, so this exchange is
    # ~free relative to the explosion it parallelizes; the explicit
    # count pins it against AQE re-coalescing).  io.spread_for_cpu is
    # the wrong tool here: its pre-execution partition probe sees the
    # window exchange's full width and no-ops, while AQE's RUNTIME
    # coalesce still collapses it — and its .rdd probe cannot run on
    # a streaming frame at all.
    n_parts = shuffle_partitions(pairs.sparkSession)
    base = base.repartition(n_parts, "_pid")
    all_structs = ", ".join(
        [gram_structs("_ct", n, "c") for n in range(1, max_n + 1)]
        + [gram_structs("_rt", n, "r") for n in range(1, max_n + 1)]
    )
    exploded = base.select(
        "_pid",
        *group_cols,
        F.col("_ct").alias("_ctk"),
        F.col("_rt").alias("_rtk"),
        # explode_outer keeps zero-gram pairs (both sides empty)
        F.explode_outer(
            F.expr(f"flatten(array({all_structs}))")
        ).alias("_s"),
    ).select(
        "_pid",
        *group_cols,
        F.size("_ctk").cast("bigint").alias("cand_len"),
        F.size("_rtk").cast("bigint").alias("ref_len"),
        F.col("_s.n").alias("_n"),
        F.col("_s.side").alias("_side"),
        F.col("_s.g").alias("_g"),
    )
    cells = exploded.groupBy("_pid", "_n", "_g").agg(
        *[F.max(c).alias(c) for c in group_cols],
        F.max("cand_len").alias("cand_len"),
        F.max("ref_len").alias("ref_len"),
        F.sum(F.when(F.col("_side") == "c", 1).otherwise(0))
        .cast("bigint")
        .alias("_cc"),
        F.sum(F.when(F.col("_side") == "r", 1).otherwise(0))
        .cast("bigint")
        .alias("_cr"),
    )
    out = cells.groupBy("_pid").agg(
        *[F.max(c).alias(c) for c in group_cols],
        F.max("cand_len").alias("cand_len"),
        F.max("ref_len").alias("ref_len"),
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_n") == n, F.least("_cc", "_cr")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"clipped_{n}")
            for n in range(1, max_n + 1)
        ],
    )
    return out.select(
        F.col("_pid").alias(id_col),
        *group_cols,
        "cand_len",
        "ref_len",
        *[F.col(f"clipped_{n}") for n in range(1, max_n + 1)],
        *[
            F.greatest(
                F.col("cand_len") - F.lit(n - 1), F.lit(0).cast("bigint")
            )
            .cast("bigint")
            .alias(f"total_{n}")
            for n in range(1, max_n + 1)
        ],
        *[
            F.greatest(
                F.col("ref_len") - F.lit(n - 1), F.lit(0).cast("bigint")
            )
            .cast("bigint")
            .alias(f"ref_total_{n}")
            for n in range(1, max_n + 1)
        ],
    )


def chrf_stats(
    pairs: DataFrame,
    max_n: int = 6,
    id_col: str = "pair_id",
    cand_col: str = "candidate",
    ref_col: str = "reference",
    group_cols: tuple = (),
    impl: str = "arrow",
) -> DataFrame:
    """chrF sufficient statistics (Popović 2015) per (candidate,
    reference) pair — the character-level eval companion of
    :func:`bleu_stats`, robust to tokenization and morphology:
    ``(id_col, cand_len BIGINT, ref_len BIGINT, clipped_1..max_n,
    cand_total_1..max_n, ref_total_1..max_n)`` over CHARACTER n-grams
    of the whitespace-stripped lowercase text (sacrebleu's chrF
    convention).  Unlike BLEU, chrF is an F-score, so BOTH
    denominators are emitted: ``precision_n = clipped_n /
    cand_total_n``, ``recall_n = clipped_n / ref_total_n``, and the
    ``F_beta`` harmonic mean (beta = 2 standard) stays caller-side —
    all emitted quantities are int64 counts, cross-engine hash-exact;
    corpus chrF = sum the stats first, one float step after
    (:func:`corpus_eval_rollup`).  ``group_cols``: per-pair-constant
    passthrough columns for the rollup, same contract as
    :func:`bleu_stats`.

    Plan shape: identical to bleu_stats — ONE scan, the pinned
    pre-explosion REPARTITION_BY_NUM rebalance on the pair id (the
    char explosion is ~2 * max_n * chars per pair — an even higher
    inflation than BLEU's token grams, so the AQE
    coalesce-before-explode trap costs proportionally more), ONE
    Generate emitting both sides' char n-grams for all n as tagged
    structs via codegen ``substring``, ONE (id, n, gram) contraction
    whose exchange is elided under the id partitioning, one (id)
    contraction.  NULL ids excluded; NULL text = empty (zero grams,
    kept)."""
    if max_n < 1:
        raise ValueError(f"chrf_stats: max_n={max_n} must be >= 1")
    if impl not in ("arrow", "expr"):
        raise ValueError(f"chrf_stats: impl={impl!r} must be arrow|expr")

    def chars(col: str) -> str:
        # sacrebleu chrF: whitespace removed entirely, case-folded
        return (
            f"regexp_replace(lower(coalesce({col}, '')),"
            r" '\\s+', '')"
        )

    def gram_structs(s: str, n: int, side: str) -> str:
        return (
            f"CASE WHEN length({s}) >= {n} THEN"
            f" transform(sequence(1, length({s}) - {n - 1}),"
            f" i -> named_struct('n', {n}, 'side', '{side}',"
            f" 'g', substring({s}, i, {n})))"
            " ELSE array() END"
        )

    _check_group_cols(pairs, group_cols, id_col, max_n)
    if impl == "arrow":
        # normalization (lower + whitespace strip) stays a JVM
        # expression — identical semantics to the expr path and the
        # oracle; the kernel counts char n-grams via str slices +
        # C-backed Counters, one output row per input row, NO gram
        # explosion (guide §4.2; measured in OPTIMIZATION_r13.md).
        return _eval_stats_arrow(
            pairs,
            max_n,
            id_col,
            group_cols,
            (chars(cand_col), chars(ref_col)),
            lambda s, n: (
                (s[i : i + n] for i in range(len(s) - n + 1))
                if len(s) >= n
                else ()
            ),
            len,
            ("cand_total", "ref_total"),
        )
    base = pairs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"),
        *[F.col(c) for c in group_cols],
        F.expr(chars(cand_col)).alias("_cs"),
        F.expr(chars(ref_col)).alias("_rs"),
    )
    n_parts = shuffle_partitions(pairs.sparkSession)
    base = base.repartition(n_parts, "_pid")
    all_structs = ", ".join(
        [gram_structs("_cs", n, "c") for n in range(1, max_n + 1)]
        + [gram_structs("_rs", n, "r") for n in range(1, max_n + 1)]
    )
    exploded = base.select(
        "_pid",
        *group_cols,
        F.length("_cs").cast("bigint").alias("cand_len"),
        F.length("_rs").cast("bigint").alias("ref_len"),
        F.explode_outer(
            F.expr(f"flatten(array({all_structs}))")
        ).alias("_s"),
    ).select(
        "_pid",
        *group_cols,
        "cand_len",
        "ref_len",
        F.col("_s.n").alias("_n"),
        F.col("_s.side").alias("_side"),
        F.col("_s.g").alias("_g"),
    )
    cells = exploded.groupBy("_pid", "_n", "_g").agg(
        *[F.max(c).alias(c) for c in group_cols],
        F.max("cand_len").alias("cand_len"),
        F.max("ref_len").alias("ref_len"),
        F.sum(F.when(F.col("_side") == "c", 1).otherwise(0))
        .cast("bigint")
        .alias("_cc"),
        F.sum(F.when(F.col("_side") == "r", 1).otherwise(0))
        .cast("bigint")
        .alias("_cr"),
    )
    out = cells.groupBy("_pid").agg(
        *[F.max(c).alias(c) for c in group_cols],
        F.max("cand_len").alias("cand_len"),
        F.max("ref_len").alias("ref_len"),
        *[
            F.coalesce(
                F.sum(
                    F.when(F.col("_n") == n, F.least("_cc", "_cr"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"clipped_{n}")
            for n in range(1, max_n + 1)
        ],
    )
    return out.select(
        F.col("_pid").alias(id_col),
        *group_cols,
        "cand_len",
        "ref_len",
        *[F.col(f"clipped_{n}") for n in range(1, max_n + 1)],
        *[
            F.greatest(
                F.col("cand_len") - F.lit(n - 1),
                F.lit(0).cast("bigint"),
            )
            .cast("bigint")
            .alias(f"cand_total_{n}")
            for n in range(1, max_n + 1)
        ],
        *[
            F.greatest(
                F.col("ref_len") - F.lit(n - 1),
                F.lit(0).cast("bigint"),
            )
            .cast("bigint")
            .alias(f"ref_total_{n}")
            for n in range(1, max_n + 1)
        ],
    )


def corpus_eval_rollup(
    stats: DataFrame,
    group_cols: tuple = (),
    id_col: str = "pair_id",
) -> DataFrame:
    """Corpus-level rollup of a per-pair eval-stats surface
    (:func:`bleu_stats`, :func:`chrf_stats`, :func:`rouge_l_stats`):
    sum EVERY int64 stat column per group and count the pairs —
    corpus-BLEU/chrF/ROUGE is by definition "aggregate the clipped /
    total counts over the corpus FIRST, then one float step"
    (Papineni et al. 2002 §5; Popović 2015), NOT a mean of per-pair
    scores, so the rollup stays entirely in int64 and remains
    cross-engine hash-exact; the single float step (geometric mean x
    brevity penalty, or the F-beta harmonic mean) stays caller-side
    on the handful of returned rows.

    ``group_cols`` are the grouping keys (pass the same columns
    through ``bleu_stats(..., group_cols=...)`` to have them on the
    stats surface without a join back); ``()`` gives the global
    one-row corpus rollup.  Output: ``(group_cols..., n_pairs BIGINT,
    <every bigint stat column summed, same names>)``.

    Scale shape: the input is already the per-pair contraction (a few
    dozen int64s per pair), so this adds ONE tiny exchange on the
    group key over pair-count rows — map-side combined to
    |groups| x partitions rows before it moves; nothing from the gram
    stream is revisited (no new scan)."""
    gset = set(group_cols) | {id_col}
    sums = [
        F.sum(F.col(c)).cast("bigint").alias(c)
        for c, t in stats.dtypes
        if t == "bigint" and c not in gset
    ]
    if not sums:
        raise ValueError(
            "corpus_eval_rollup: no bigint stat columns to sum in"
            f" {stats.columns}"
        )
    return stats.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"), *sums
    )


def _lcs_capped(
    ct: list, rt: list, base_cap: int, top_cap: int
) -> tuple:
    """One pair's capped-LCS row: the escalation-ladder cap choice,
    truncation flag, vocab interning and vectorized prefix-max DP in
    one place — shared verbatim by :func:`rouge_l_stats`'s
    mapInPandas and the streaming twin
    (``streaming/engine.py::streaming_corpus_rouge_l``), so
    batch/streaming bit-equality holds by construction.  Returns
    ``(cand_len, ref_len, lcs_len, truncated)``.  numpy is imported
    at module scope (not per-call): this kernel runs once per PAIR
    inside the Arrow batch loops, so per-call import lookups would be
    hot-path overhead on million-pair corpora."""
    cl, rl = len(ct), len(rt)
    # smallest ladder rung covering both sides, capped at the top
    # rung; rows past the top rung truncate there
    cap = base_cap
    while cap < max(cl, rl) and cap < top_cap:
        cap *= 2
    tr = cl > cap or rl > cap
    c, r = ct[:cap], rt[:cap]
    if not c or not r:
        return cl, rl, 0, tr
    # intern to int codes once; mismatched vocab never matches
    vocab = {t: k for k, t in enumerate(set(c) | set(r))}
    a = np.fromiter(
        (vocab[t] for t in c), dtype=np.int32, count=len(c)
    )
    b = np.fromiter(
        (vocab[t] for t in r), dtype=np.int32, count=len(r)
    )
    prev = np.zeros(len(b) + 1, dtype=np.int32)
    curr = np.empty_like(prev)
    for tok in a:
        curr[0] = 0
        curr[1:] = np.maximum.accumulate(
            np.where(b == tok, prev[:-1] + 1, prev[1:])
        )
        prev, curr = curr, prev
    return cl, rl, int(prev[-1]), tr


def rouge_l_stats(
    pairs: DataFrame,
    id_col: str = "pair_id",
    cand_col: str = "candidate",
    ref_col: str = "reference",
    max_tokens: int = 512,
    escalations: int = 0,
    group_cols: tuple = (),
) -> DataFrame:
    """ROUGE-L sufficient statistics (Lin 2004) per (candidate,
    reference) pair — the longest-common-SUBSEQUENCE eval companion
    of :func:`bleu_stats`/:func:`chrf_stats`, rewarding in-order
    coverage without requiring contiguity: ``(id_col, cand_len
    BIGINT, ref_len BIGINT, lcs_len BIGINT, truncated BOOLEAN)``;
    ``P = lcs/cand_len``, ``R = lcs/ref_len`` and the F stay
    caller-side.  Tokens are lowercase alnum runs
    (TYPICALITY_TOKEN_RE, shared with the rest of the eval family).

    LCS is inherently quadratic per pair, so this is the eval
    family's one Python operator — Arrow-batched ``mapInPandas``
    with a VECTORIZED numpy row update (the standard prefix-max
    identity ``curr = maximum.accumulate(where(match, prev[:-1]+1,
    prev[1:]))`` — one O(m) numpy op per candidate token instead of
    an O(n*m) Python loop), and a hard ``max_tokens`` cost ceiling:
    longer sides are TRUNCATED (flagged in ``truncated``, never
    silently) because the O(n*m) cliff is a per-row cost bomb a
    100 TB scan cannot absorb — callers wanting exact long-document
    LCS use the LENGTH-BUCKETED ESCALATION below.

    ``escalations`` (r11, the sharded-exact recipe): with
    ``escalations = K > 0``, each pair's DP cap is the smallest
    ``max_tokens * 2**k`` (k <= K) that covers BOTH sides — so a
    doc pair longer than ``max_tokens`` still gets its EXACT LCS as
    long as it fits the top bucket ``max_tokens * 2**K``, and only
    pairs beyond THAT are truncated (still flagged, still never
    silent).  The cost ceiling stays hard and visible: the worst
    per-row cost is ``(max_tokens * 2**K)**2`` token comparisons —
    each doubling of K quadruples the worst row, which is why the
    escalation is an explicit opt-in with a bounded ladder rather
    than an unbounded exact mode; per-row cost scales with the
    PAIR'S OWN length squared, not the global cap, so short pairs
    pay nothing for the ladder.  ``escalations = 0`` is today's
    single-cap behavior, bit-identical.

    NOT SQL-expressible (no
    relational LCS), so the declared query is rows-only and the
    gate is the from-scratch differential test — the KLL/PCA
    precedent.  Plan: one output row per input row — no explosion —
    but the pinned rebalance is STILL required, for the dual reason:
    AQE sizes partitions by BYTES, and a pair row's cost here is its
    quadratic DP, not its bytes, so a windowed input coalesced to one
    task serializes all the CPU (measured: sf0.1 ran 1-task without
    it).  NULL ids excluded, NULL text = empty (lcs 0, kept).

    ``group_cols`` (r12, closing the eval-family passthrough): extra
    per-pair columns (functionally dependent on the id — e.g. the
    source) echoed onto the stats surface so
    :func:`corpus_eval_rollup` can group WITHOUT a join back to the
    pair table; they ride the Arrow batches through the same
    mapInPandas (no extra pass, no shuffle — the map is narrow), the
    bleu_stats/chrf_stats contract."""
    if max_tokens < 1:
        raise ValueError(
            f"rouge_l_stats: max_tokens={max_tokens} must be >= 1"
        )
    if not (0 <= int(escalations) <= 8):
        # 2**8 = 256x the base cap = 65536x the base worst-row cost:
        # past that the ladder is an unbounded exact mode in disguise
        raise ValueError(
            f"rouge_l_stats: escalations={escalations} must be in 0..8"
        )
    import pandas as pd

    _check_group_cols(pairs, group_cols, id_col, max_n=0)
    base = pairs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"),
        *[F.col(c) for c in group_cols],
        F.expr(
            f"regexp_extract_all(lower(coalesce({cand_col}, '')),"
            f" '{TYPICALITY_TOKEN_RE}', 0)"
        ).alias("_ct"),
        F.expr(
            f"regexp_extract_all(lower(coalesce({ref_col}, '')),"
            f" '{TYPICALITY_TOKEN_RE}', 0)"
        ).alias("_rt"),
    )
    n_parts = shuffle_partitions(pairs.sparkSession)
    base = base.repartition(n_parts, "_pid")
    pair_types = dict(pairs.dtypes)
    out_schema = (
        f"{id_col} bigint, cand_len bigint, ref_len bigint,"
        " lcs_len bigint, truncated boolean"
        + "".join(f", {c} {pair_types[c]}" for c in group_cols)
    )
    base_cap = int(max_tokens)
    top_cap = base_cap * (2 ** int(escalations))

    def lcs_rows(batches):
        for pdf in batches:
            ids, cls, rls, lcss, trs = [], [], [], [], []
            for pid, ct, rt in zip(pdf["_pid"], pdf["_ct"], pdf["_rt"]):
                cl, rl, lcs, tr = _lcs_capped(
                    list(ct), list(rt), base_cap, top_cap
                )
                ids.append(pid)
                cls.append(cl)
                rls.append(rl)
                lcss.append(lcs)
                trs.append(tr)
            out = pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "cand_len": pd.array(cls, dtype="int64"),
                    "ref_len": pd.array(rls, dtype="int64"),
                    "lcs_len": pd.array(lcss, dtype="int64"),
                    "truncated": pd.array(trs, dtype="bool"),
                }
            )
            # passthrough columns: one output row per input row, in
            # input order, so the batch's series carry over directly
            for c in group_cols:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    return base.mapInPandas(lcs_rows, out_schema)
